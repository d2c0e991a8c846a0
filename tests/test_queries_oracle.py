"""The t2 gate as a test: every registered query vs its DuckDB oracle
at sf0.001 (SURVEY.md §5.2 item 2). One parametrized test per query so
failures localize."""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_parity import compare, duck_con  # noqa: E402

from openweathermapapi_etl_spark.plans import ORACLES, QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    return duck_con(SF_DIR)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, con):
    from openweathermapapi_etl_spark.plans.registry import (
        canonicalizable_violations,
    )

    df = QUERIES[name](spark, SF_DIR)
    # Driver output contract: no top-level array/map/struct columns —
    # the driver's pandas canonicalizer throws `unhashable type` on
    # them (round-6 red row c03_pq_encode). Checked on every query so
    # the failure class cannot be reintroduced.
    bad = canonicalizable_violations(df.schema)
    assert not bad, f"{name}: non-canonicalizable output columns {bad}"
    sdf = df.toPandas()
    if name not in ORACLES:
        assert len(sdf) > 0, f"{name}: rows-only check returned no rows"
        return
    odf = con.execute(ORACLES[name]).df()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_output_contract_checker_flags_raw_arrays(spark):
    """The contract checker itself: a raw array column is flagged, its
    stringified twin passes — proving the per-query assertion above
    would have caught round 6's `c03_pq_encode` regression."""
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.plans.registry import (
        canonicalizable_violations,
    )

    raw = spark.range(3).select("id", F.array(F.lit(1), F.lit(2)).alias("codes"))
    assert canonicalizable_violations(raw.schema) == ["codes: array<int>"]
    fixed = raw.select(
        "id", F.concat_ws("-", F.col("codes").cast("array<string>")).alias("codes")
    )
    assert canonicalizable_violations(fixed.schema) == []


def test_entry_contract(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    assert df.count() > 0
    assert set(mod.oracle_sql()) <= set(mod.queries())
    # rows_only_by_design() (r11 verdict Next #5): exactly the queries
    # with NO oracle, each with a non-empty reason — so the driver's
    # err:no_oracle rendering of these three has a self-explaining
    # pass-through and a silently oracle-less query cannot register.
    rob = mod.rows_only_by_design()
    assert set(rob) == set(mod.queries()) - set(mod.oracle_sql())
    assert all(isinstance(r, str) and r for r in rob.values())
    assert set(rob) == {
        "b39_watermark_late_drop",
        "b43_streaming_dedup_watermarked_evicting",
        "c02_minhash_fast",
    }


def test_register_requires_oracle_or_documented_reason():
    """Oracle-lessness must be a documented decision: register() with
    neither an oracle nor a rows_only_reason (or with both) raises."""
    import pytest as _pytest

    from openweathermapapi_etl_spark.plans.registry import register

    with _pytest.raises(ValueError, match="no oracle and no rows_only_reason"):
        register("zz_test_no_oracle")(lambda spark, sf: None)
    with _pytest.raises(ValueError, match="BOTH an oracle and a"):
        register("zz_test_both", oracle="SELECT 1", rows_only_reason="x")(
            lambda spark, sf: None
        )
    assert "zz_test_no_oracle" not in QUERIES
    assert "zz_test_both" not in QUERIES


def test_registry_order_is_registration_order():
    """``QUERIES`` keeps registration order: each plans module's names
    form one contiguous group, and the groups follow the order in which
    ``plans/__init__.py`` imports the modules. Any import-time reorder
    of the registry breaks this."""
    import ast

    import openweathermapapi_etl_spark.plans as plans

    with open(plans.__file__) as fh:
        tree = ast.parse(fh.read())
    imported = [
        f"{plans.__name__}.{a.name}"
        for node in tree.body
        if isinstance(node, ast.ImportFrom) and node.level == 1 and not node.module
        for a in node.names
    ]
    groups: list[str] = []
    for fn in QUERIES.values():
        if not groups or groups[-1] != fn.__module__:
            groups.append(fn.__module__)
    assert groups == imported
    assert list(ORACLES) == [n for n in QUERIES if n in ORACLES]


def test_cached_agg_plan_reads_from_cache(spark):
    """b67's contract: the aggregate's executed plan must scan the
    InMemoryRelation, not the parquet source — a silent cache miss is
    a plan regression, not just a perf vibe."""
    from openweathermapapi_etl_spark.plans import QUERIES

    df = QUERIES["b67_cached_agg_reuse"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" in plan, plan
    spark.catalog.uncacheTable("b67_cached_cust")


def test_session_temp_view_not_visible_across_sessions(spark):
    """b71's negative contract: a SESSION temp view does not cross the
    session boundary (that isolation is why global_temp exists)."""
    import pytest

    spark.range(3).createOrReplaceTempView("b71_session_only")
    sibling = spark.newSession()
    with pytest.raises(Exception, match="b71_session_only"):
        sibling.table("b71_session_only").collect()
