"""tools/skew_preflight.py — the AQE skew-threshold preflight (r14
verdict order #5): Spark's split predicate as a pure function, plus
the estimate mode end-to-end on a crafted hot-key fixture."""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "skew_preflight", os.path.join(REPO, "tools", "skew_preflight.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["skew_preflight"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_split_verdict_replicates_spark_predicate():
    """split iff size > max(factor * median, threshold) — with the
    binding constraint named, because 'relatively skewed but under the
    byte gate' IS the r13 sf5z trap this tool exists to catch."""
    t = _load_tool()
    # The sf5z shape: hot ~100 MB, median ~20 MB, defaults 256 MB / 5.0
    # → factor bar 100 MB == hot? keep strictly: hot > 5*20=100? no →
    # use 4.9 factor to isolate the threshold as the blocker.
    v = t.split_verdict(100e6, 20e6, threshold=256e6, factor=4.0)
    assert not v["would_split"] and v["binding_constraint"] == "threshold"
    assert v["threshold_to_engage"] == int(100e6)
    # Fixture-scaled thresholds (the r13 cure): 16 MB gate → split.
    v = t.split_verdict(100e6, 20e6, threshold=16e6, factor=4.0)
    assert v["would_split"] and v["binding_constraint"] is None
    # Relatively un-skewed: factor blocks even with a tiny gate.
    v = t.split_verdict(100e6, 90e6, threshold=16e6, factor=4.0)
    assert not v["would_split"] and v["binding_constraint"] == "factor"
    assert v["threshold_to_engage"] is None
    # Under both bars.
    v = t.split_verdict(10e6, 20e6, threshold=256e6, factor=4.0)
    assert not v["would_split"] and v["binding_constraint"] == "both"


def test_parse_bytes_spark_conf_spellings():
    t = _load_tool()
    assert t._parse_bytes("256MB") == 256 * 1024**2
    assert t._parse_bytes("16m") == 16 * 1024**2
    assert t._parse_bytes("1g") == 1024**3
    assert t._parse_bytes("268435456") == 268435456
    assert t._parse_bytes("64k") == 64 * 1024


def test_estimate_mode_finds_planted_hot_key(spark, tmp_path):
    """End-to-end estimate on a crafted fixture: 30% of rows on one
    key. The profile must surface it at the right share, and the
    verdict must flip with the session's threshold conf."""
    import os as _os

    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.session import conf_window

    t = _load_tool()
    sf = str(tmp_path / "sfskew")
    _os.makedirs(sf)
    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") < n * 3 // 10, F.lit(7))
        .otherwise((F.col("id") % 997).cast("long")).alias("l_orderkey"),
        F.col("id").alias("payload"),
    )
    df.write.parquet(_os.path.join(sf, "lineitem.parquet"))

    threshold = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    # Pin the partition count: the prediction splits the keys over
    # spark.sql.shuffle.partitions, which the session sizes from the
    # core count (max(cpus, 8)). At 8 the planted key's partition is
    # only ~4.4x the median, under Spark's split factor 5; at 32 it is
    # far past it on any host.
    with conf_window(
        spark, {"spark.sql.shuffle.partitions": "32", threshold: "256MB"}
    ):
        out = t.run_preflight(spark, sf, "lineitem", "l_orderkey")
        assert out["hot_key"] == 7
        assert 0.28 <= out["hot_share"] <= 0.32
        # Tiny fixture: absolutely small partitions — the byte gate
        # blocks, exactly the trap the tool reports.
        assert not out["verdict"]["would_split"]
        assert out["verdict"]["binding_constraint"] in ("threshold", "both")
        # Drop the gate to 1 byte: the 30%-mass key is relatively
        # skewed far past factor 5 → split engages.
        with conf_window(spark, {threshold: "1b"}):
            out2 = t.run_preflight(spark, sf, "lineitem", "l_orderkey")
        assert out2["verdict"]["would_split"]
        assert out2["verdict"]["binding_constraint"] is None
