#!/usr/bin/env python
"""AQE skew-join preflight: will the configured thresholds actually
engage on THIS join key at THIS data scale? (r14 verdict order #5.)

The r13 sf5z probe found the configuration trap every real deployment
hits: AQE's skew split is gated on ABSOLUTE bytes
(spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes, default
256 MB) AND a relative factor (skewedPartitionFactor, default 5.0 —
Spark splits a partition iff size > max(factor * median, threshold)).
A genuinely hot key whose reducer partition sits under the byte gate
gets NO split — the probe measured the hot ~100 MB partition riding a
1.9× straggler while AQE "correctly refused" under defaults, and a
16 MB threshold turning the same join into a 1.29× win. This tool
makes that check executable BEFORE the join runs:

  estimate mode (default, one count-agg over the table):
    compose b16_key_skew_profile's key histogram
    (operators/skew.key_skew_profile) with partition-byte estimates —
    parquet bytes/row from the file footprint, inflated to shuffle-row
    format by --inflate (default 2.0; serialized shuffle rows of
    numeric-heavy tables run ~1.5-3x their parquet footprint) — into
    predicted hot/median post-shuffle partition sizes, and evaluate
    Spark's own split predicate against the session confs.

  --measure mode (runs the actual shuffle in THIS tool's own session
    with the UI enabled): repartition(N, key) → noop sink, then read
    the reduce stage's per-task shuffle-read bytes (max = the hot
    partition AQE would see, median = its comparison base) from the UI
    REST API — the exact quantity OptimizeSkewedJoin evaluates, no
    inflation guess.

Output: one JSON line with the profile, the predicted/measured bytes,
the verdict under current confs ({would_split, binding_constraint}),
and threshold_to_engage — the skewedPartitionThresholdInBytes setting
below which the split WOULD fire (when the factor condition already
holds). SCALE.md "Skew" records the tool reproducing the measured
split/no-split behavior of a 50x zipf fixture from estimates alone.

Usage:
  python tools/skew_preflight.py --sf-dir /tmp/sf5z --table lineitem \
      --key l_orderkey [--measure] [--inflate 2.0] [--top-k 5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_THRESHOLD = 256 * 1024 * 1024  # Spark default, bytes
DEFAULT_FACTOR = 5.0


def table_bytes(sf_dir: str, table: str) -> int:
    """On-disk parquet footprint (file or directory-of-parts)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if not f.startswith((".", "_"))
        )
    return total


def split_verdict(
    hot_bytes: float,
    median_bytes: float,
    threshold: float,
    factor: float,
) -> dict:
    """Spark's OptimizeSkewedJoin predicate, as a pure function:
    a partition splits iff size > max(factor * median, threshold).
    binding_constraint names what blocked an un-split hot partition —
    the r13 trap is binding_constraint == 'threshold' (relatively
    skewed, absolutely under the byte gate)."""
    factor_bar = factor * median_bytes
    would_split = hot_bytes > max(factor_bar, threshold)
    binding = None
    if not would_split:
        if hot_bytes <= factor_bar and hot_bytes <= threshold:
            binding = "both"
        elif hot_bytes <= threshold:
            binding = "threshold"
        else:
            binding = "factor"
    return {
        "would_split": would_split,
        "binding_constraint": binding,
        "factor_bar_bytes": int(factor_bar),
        # The conf change that makes the split fire, when the key is
        # relatively skewed (factor condition already met): any
        # threshold strictly below the hot partition.
        "threshold_to_engage": (
            int(hot_bytes) if hot_bytes > factor_bar else None
        ),
    }


def run_preflight(
    spark,
    sf_dir: str,
    table: str,
    key: str,
    inflate: float = 2.0,
    top_k: int = 5,
) -> dict:
    """Estimate mode: key histogram + byte arithmetic + the verdict
    under the SESSION's current AQE confs."""
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.catalog import load_table
    from openweathermapapi_etl_spark.operators.skew import key_skew_profile
    from openweathermapapi_etl_spark.session import prep

    prep(spark)
    df = load_table(spark, sf_dir, table)
    prof = key_skew_profile(df, key, top_k=top_k).collect()
    n_rows = df.count()
    tbytes = table_bytes(sf_dir, table)
    row_bytes = tbytes / max(n_rows, 1) * inflate
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    threshold = int(
        _parse_bytes(
            spark.conf.get(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                str(DEFAULT_THRESHOLD),
            )
        )
    )
    factor = float(
        spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            str(DEFAULT_FACTOR),
        )
    )
    hot = max(prof, key=lambda r: r["n"])
    hot_rows = hot["n"]
    rest_per_part = (n_rows - hot_rows) / max(n_part, 1)
    hot_bytes = (hot_rows + rest_per_part) * row_bytes
    median_bytes = rest_per_part * row_bytes
    verdict = split_verdict(hot_bytes, median_bytes, threshold, factor)
    return {
        "mode": "estimate",
        "sf_dir": sf_dir,
        "table": table,
        "key": key,
        "n_rows": n_rows,
        "parquet_bytes": tbytes,
        "inflate": inflate,
        "shuffle_partitions": n_part,
        "hot_key": hot[key],
        "hot_rows": hot_rows,
        "hot_share": round(hot["share"], 4),
        "top_keys": [
            {"key": r[key], "rows": r["n"], "share": round(r["share"], 4)}
            for r in sorted(prof, key=lambda r: -r["n"])
        ],
        "predicted_hot_partition_bytes": int(hot_bytes),
        "predicted_median_partition_bytes": int(median_bytes),
        "confs": {
            "skewedPartitionThresholdInBytes": threshold,
            "skewedPartitionFactor": factor,
        },
        "verdict": verdict,
    }


def _parse_bytes(v: str) -> float:
    """Spark byte-conf strings: '256MB', '16m', '268435456', '1g'."""
    s = str(v).strip().lower()
    for suf, mult in (
        ("tb", 1024**4), ("gb", 1024**3), ("mb", 1024**2), ("kb", 1024),
        ("t", 1024**4), ("g", 1024**3), ("m", 1024**2), ("k", 1024),
        ("b", 1),
    ):
        if s.endswith(suf):
            return float(s[: -len(suf)]) * mult
    return float(s)


def measure_partitions(spark, sf_dir: str, table: str, key: str,
                       ui_port: int) -> dict:
    """Run the real shuffle and read the reduce stage's per-task
    shuffle-read bytes — the exact statistic AQE's split decision
    consumes (map output sizes per reduce partition)."""
    import urllib.request

    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.catalog import load_table
    from openweathermapapi_etl_spark.session import prep

    prep(spark)
    df = load_table(spark, sf_dir, table)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # AQE coalescing would merge small reduce partitions and hide the
    # per-hash-partition sizes; the preflight wants the raw layout.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        (
            df.repartition(n_part, F.col(key))
            .write.format("noop").mode("overwrite").save()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    def get(path: str):
        with urllib.request.urlopen(
            f"http://localhost:{ui_port}/api/v1/{path}", timeout=10
        ) as r:
            return json.loads(r.read())

    app_id = get("applications")[0]["id"]
    stages = get(f"applications/{app_id}/stages?status=complete")
    # The reduce stage of the repartition job: the completed stage
    # with the largest total shuffle READ.
    reduce_stage = max(stages, key=lambda s: s.get("shuffleReadBytes") or 0)
    q = get(
        f"applications/{app_id}/stages/{reduce_stage['stageId']}/"
        f"{reduce_stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
    )
    med, mx = q["shuffleReadMetrics"]["readBytes"]
    return {
        "stage": reduce_stage["stageId"],
        "tasks": reduce_stage.get("numCompleteTasks"),
        "measured_hot_partition_bytes": int(mx),
        "measured_median_partition_bytes": int(med),
    }


def main() -> int:
    ap = argparse.ArgumentParser(
        description="AQE skew-join threshold preflight"
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--table", default="lineitem")
    ap.add_argument("--key", default="l_orderkey")
    ap.add_argument("--inflate", type=float, default=2.0,
                    help="parquet→shuffle-row byte inflation (estimate mode)")
    ap.add_argument("--top-k", type=int, default=5)
    ap.add_argument("--measure", action="store_true",
                    help="run the real shuffle and read per-task "
                         "shuffle-read bytes from the UI REST API")
    ap.add_argument("--ui-port", type=int, default=4051)
    ns = ap.parse_args()

    if ns.measure:
        # Own session with the UI on (the engine session disables it).
        from pyspark.sql import SparkSession

        from openweathermapapi_etl_spark.session import RUNTIME_CONFS, prep

        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
        b = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("skew-preflight")
            .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
            .config("spark.driver.memory",
                    os.environ.get("SPARK_DRIVER_MEM", "16g"))
            .config("spark.ui.enabled", "true")
            .config("spark.ui.port", str(ns.ui_port))
        )
        for k, v in RUNTIME_CONFS.items():
            b = b.config(k, v)
        spark = prep(b.getOrCreate())
        spark.sparkContext.setLogLevel("WARN")
    else:
        from openweathermapapi_etl_spark.session import get_session

        spark = get_session("skew-preflight")

    out = run_preflight(spark, ns.sf_dir, ns.table, ns.key,
                        inflate=ns.inflate, top_k=ns.top_k)
    if ns.measure:
        m = measure_partitions(spark, ns.sf_dir, ns.table, ns.key,
                               ns.ui_port)
        out["measured"] = m
        out["verdict_measured"] = split_verdict(
            m["measured_hot_partition_bytes"],
            m["measured_median_partition_bytes"],
            out["confs"]["skewedPartitionThresholdInBytes"],
            out["confs"]["skewedPartitionFactor"],
        )
        out["mode"] = "estimate+measure"
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
