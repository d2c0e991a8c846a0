"""SparkSession construction and per-session conf pinning.

The reference delegates all execution to Postgres 13 (SURVEY.md §3.2);
here the equivalent substrate is one tuned SparkSession. Two entry
points:

- :func:`get_session` — build a local session (tests, bench).
- :func:`prep` — pin *runtime-settable* confs on an externally provided
  session (the correctness driver passes its own ``spark``); every
  ``queries()`` callable routes through this so oracle parity does not
  depend on how the session was built.

Scale notes: shuffle partitions default to ~2-3x core count locally;
on a real cluster this is superseded by AQE coalescing
(``spark.sql.adaptive.coalescePartitions.enabled``), which right-sizes
post-shuffle partitions from runtime statistics — the setting here is
a starting parallelism, not a hand-tuned constant.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Confs that are safe to set at runtime on an existing session.
#: Keys chosen for oracle parity (UTC, ANSI) and scale behavior (AQE).
RUNTIME_CONFS: dict[str, str] = {
    # DuckDB timestamps are UTC-naive; pin the session so TimestampType
    # wall-clocks match (SURVEY.md §7 "oracle parity traps").
    "spark.sql.session.timeZone": "UTC",
    # ANSI semantics match DuckDB (error on bad cast / div-by-zero).
    "spark.sql.ansi.enabled": "true",
    # AQE: runtime re-planning, partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path and toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast threshold: dimension tables (region/nation/customer at
    # test SFs) go broadcast; AQE can still upgrade joins at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized
    # reader rejects; read as raw int64 nanos and convert in the
    # catalog (floor to microseconds — matches the DuckDB oracle's
    # date_trunc('microseconds', ts)).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Write TimestampType as INT64 micros, not the INT96 default: INT96
    # columns carry no Parquet min/max statistics or page index and
    # never receive a pushed filter, so a Time-range scan of a table
    # decodes every page. Micros is Spark's own precision, so values
    # are unchanged.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def prep(spark: SparkSession) -> SparkSession:
    """Pin runtime confs on an existing session (idempotent, cheap)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-runtime-settable on this build — builder path covers it.
            pass
    return spark


def get_session(app_name: str = "openweathermapapi-etl-spark") -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this host."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prep(spark)


@contextmanager
def conf_window(spark: SparkSession, confs: dict[str, str]):
    """Temporarily set session confs; restore (or unset) on exit.

    The one implementation of the save/set/try/finally idiom every
    conf-scoped demonstration needs (RocksDB state-store flavors, the
    runtime bloom-filter join, their pin tests): a fix to the restore
    semantics lands here once instead of in five copies. Remember that
    conf reads happen at ACTION time for batch plans — build lazy
    plans before opening the window if a prep() call inside them would
    re-pin a conf you are overriding, and materialize inside it.
    """
    prevs = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, prev in prevs.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)
