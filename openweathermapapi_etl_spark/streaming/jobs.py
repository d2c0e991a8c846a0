"""Streaming job helpers: deterministic file-replay of the events table
as a stream (B38-B44 test substrate).

``split_events_files`` writes the events table as N parquet files with
strictly increasing mtimes; ``replay_files_stream`` reads them back
with ``maxFilesPerTrigger=1`` so each file is one micro-batch in a
deterministic order — the batch-replay equivalent of the reference's
sequential cron runs.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import conf_window

#: State-partition count for replay streams, also what layout audits
#: (state-metadata ``numPartitions``) pin. ``spark.sql.shuffle.
#: partitions`` at query START is what a stateful streaming query
#: locks into its checkpoint as the state-store partition count — it
#: is a per-job DEPLOYMENT knob (sized to peak key throughput;
#: re-sizing needs a new checkpoint), not an inherited batch default.
#: The replay fixtures carry ~10^5 rows over 2-4 micro-batches, where
#: the session's 32 batch partitions mean 32 near-empty state stores
#: (x4 stores per partition for a stream-stream join) each writing
#: delta + commit files EVERY batch — measured at sf0.1: the full-
#: outer join drops 16.0s -> 6.1s going 32 -> 8. Production sizes UP
#: from throughput for the same reason the harness sizes down.
STREAM_PARTITIONS = 8


def stream_conf_window(spark: SparkSession):
    """``conf_window`` pinning the replay-stream state-partition count
    around a stream start (see ``STREAM_PARTITIONS``). Every helper
    below opens one; queries that ``.start()`` directly should too.
    Wrapping only the start+drain span is sufficient AND required:
    sufficient because the partition count is read once at query
    start, required so the surrounding batch plans (oracle compares,
    replay-file splits) keep the session's full parallelism."""
    return conf_window(
        spark, {"spark.sql.shuffle.partitions": str(STREAM_PARTITIONS)}
    )


def write_events_file(part: DataFrame, out_dir: str, idx: int) -> str:
    """Write one replay file ``{idx:04d}.parquet`` with mtime = idx
    offset (strictly increasing mtimes → deterministic file→batch
    order). Callers that stage arrival INCREMENTALLY (write file 0, run
    a query to completion, write file 1, run again) use this directly —
    see ``b39_watermark_late_drop`` for why that matters."""
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, f"_tmp{idx}")
    # repartition(1), not coalesce(1): coalesce collapses the UPSTREAM
    # scan+filter into the single write task (one core reads the whole
    # table per replay file — measured 7.8 s for b53's 3-way split at
    # sf0.1); the round-trip shuffle of one file's rows is far cheaper
    # than serializing the scan.
    part.repartition(1).write.mode("overwrite").parquet(tmp)
    src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(out_dir, f"{idx:04d}.parquet")
    shutil.move(src, dst)
    shutil.rmtree(tmp, ignore_errors=True)
    ts = time.time() - 1000 + idx
    os.utime(dst, (ts, ts))
    return dst


def split_table_files(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    id_col: str,
    out_dir: str,
    n_files: int = 2,
    predicates: list | None = None,
) -> DataFrame:
    """Write any testdata table as ``n_files`` parquet files with
    increasing mtimes (deterministic file→batch replay order).

    Default split: contiguous ``id_col`` ranges. Pass ``predicates``
    (one boolean Column per file) for custom arrival orders — e.g. the
    watermark test ships *newer* events first so the second batch is
    late. Returns the batch DataFrame."""
    df = load_table(spark, sf_dir, table)
    if predicates is not None:
        # First-match assignment. Every call site partitions the table
        # with DISJOINT, TOTAL predicates (mod-split, ts halves with an
        # explicit NULL route), so first-match == the old
        # one-filtered-write-per-predicate semantics; a row matching no
        # predicate is dropped, same as before.
        n_files = len(predicates)
        preds = [F.expr(p) if isinstance(p, str) else p for p in predicates]
        assign = F.when(preds[0], 0)
        for i, p in enumerate(preds[1:], start=1):
            assign = assign.when(p, i)
    else:
        # Contiguous id ranges (NULL ids drop, as the old range filter
        # did). Needs one max-id agg scan; the predicate form doesn't.
        # An EMPTY source (max is NULL) still produces n_files empty
        # replay files — the empty-split branch below is the intended
        # output, not a TypeError on None arithmetic (r11 review).
        max_id = df.agg(F.max(id_col)).collect()[0][0]
        if max_id is None:
            max_id = 0
        step = (max_id + 1 + n_files - 1) // n_files
        assign = F.when(
            F.col(id_col).isNotNull() & (F.col(id_col) >= 0),
            F.expr(f"`{id_col}` div {step}"),
        )
    # ONE job for all replay files (round-7 rework): the old
    # filtered-write-per-file loop re-scanned the source table once per
    # file (the replay split was 2/3 of b53's bench time). Hash
    # repartition on the assignment puts each file's rows in exactly
    # one task, so partitionBy emits exactly one part-file per
    # non-empty split.
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = f"{out_dir}_tmpall"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        df.withColumn("_f", assign)
        .filter(F.col("_f").isNotNull())
        .repartition(n_files, "_f")
        .write.mode("overwrite")
        .partitionBy("_f")
        .parquet(tmp)
    )
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        found = glob.glob(os.path.join(tmp, f"_f={i}", "part-*.parquet"))
        if found:
            assert len(found) == 1, found  # one partition per _f value
            dst = os.path.join(out_dir, f"{i:04d}.parquet")
            shutil.move(found[0], dst)
            ts = time.time() - 1000 + i
            os.utime(dst, (ts, ts))
        else:
            # Empty split: materialize an empty replay file so batch
            # numbering matches the old per-filter behavior.
            write_events_file(df.filter(F.lit(False)), out_dir, i)
    shutil.rmtree(tmp, ignore_errors=True)
    return df


def split_events_files(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_files: int = 2,
    predicates: list | None = None,
) -> DataFrame:
    """Events-table shorthand for :func:`split_table_files` (the B38-B44
    substrate)."""
    return split_table_files(
        spark, sf_dir, "events", "event_id", out_dir, n_files, predicates
    )


def replay_files_stream(
    spark: SparkSession, dir_path: str, schema, max_files_per_trigger: int = 1
) -> DataFrame:
    """readStream over the split files, one file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )


def run_checkpointed_append(stream_df: DataFrame, ckpt: str, collected: list):
    """Drive ONE availableNow run with a foreachBatch sink accumulating
    the appended rows driver-side; returns the finished query (for
    ``stateOperators`` metrics).

    Why this exists (Spark 4.1 semantics, discovered round 5): within a
    single availableNow run, the input-side late-row filter of stateful
    operators evaluates against the watermark restored at QUERY START —
    per-batch watermark advances only drive state eviction/emission, not
    input filtering (the progress log still *displays* the advanced
    watermark, which is what makes the degradation silent:
    ``numRowsDroppedByWatermark`` stays 0 and late rows aggregate as if
    on time). Sequential runs on a SHARED checkpoint restore the
    committed watermark at start, so run N+1 genuinely filters rows that
    run N made late — matching the reference's sequential-cron-runs
    cadence. The memory sink can't recover from a checkpoint, hence
    foreachBatch + a driver-side list (bounded: append mode emits each
    finalized aggregate exactly once; production would write a table).
    Pinned by tests/test_streaming.py::test_watermark_actually_drops_late_rows.
    """

    def sink(df: DataFrame, _bid: int) -> None:
        collected.extend(df.collect())

    with stream_conf_window(stream_df.sparkSession):
        q = (
            stream_df.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def run_foreachbatch(stream_df: DataFrame, sink) -> None:
    """Drive a foreachBatch stream to completion (availableNow) under
    the replay-stream partition window. These streams are stateless —
    the window here sizes the SINK-side batch plans (tiny per-batch
    upserts/writes) rather than state stores; the driving loop itself
    is the shared start/await idiom of every foreachBatch query."""
    with stream_conf_window(stream_df.sparkSession):
        q = (
            stream_df.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_to_memory_query(
    stream_df: DataFrame, name: str, output_mode: str
):
    """Like :func:`run_to_memory`, but also returns the finished
    StreamingQuery so callers can read state-store metrics
    (``stateOperators`` in the progress log) — the eviction proof for
    watermarked operators."""
    spark = stream_df.sparkSession
    with stream_conf_window(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name), q


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str
) -> DataFrame:
    """Drive a streaming DataFrame to completion into a memory sink and
    return the result table (availableNow → processes all input then
    stops — the test-mode trigger for the reference's cron cadence)."""
    return run_to_memory_query(stream_df, name, output_mode)[0]


def run_until_state_drained_query(
    stream_df: DataFrame, name: str, timeout_s: float = 180.0
):
    """Drive a TIMER-stateful streaming DataFrame until its state store
    drains, then stop and return (memory-sink table, finished query) —
    the query handle keeps its progress log after stop, so callers can
    read state-store custom metrics (the RocksDB-engagement pin).

    Processing-time timers never terminate an availableNow run — after
    the last file the engine keeps scheduling timer-check batches
    forever (verified against b53's 1 ms expiry timers), so
    ``run_to_memory`` would hang. The production-faithful protocol is
    to watch the progress log and stop when
    ``stateOperators.numRowsTotal == 0``: every key has fired its
    timer and removed its state, so no further output is possible.
    Raises on timeout rather than returning a half-drained table.
    """
    import time

    spark = stream_df.sparkSession
    with stream_conf_window(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        deadline = time.monotonic() + timeout_s
        try:
            while time.monotonic() < deadline:
                time.sleep(0.1)
                # A FAILED query never advances lastProgress, so without
                # this check the loop would spin to the full timeout and
                # report a misleading TimeoutError instead of the actual
                # failure (r12 review catch).
                exc = q.exception()
                if exc is not None:
                    raise exc
                lp = q.lastProgress
                ops = (lp or {}).get("stateOperators") or []
                if ops and all(op.get("numRowsTotal", 1) == 0 for op in ops):
                    return spark.table(name), q
            raise TimeoutError(
                f"state store did not drain within {timeout_s}s (query {name})"
            )
        finally:
            q.stop()

