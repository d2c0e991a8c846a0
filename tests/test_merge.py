"""M1 unit tests (SURVEY.md §5.2 item 3): new-key insert, existing-key
update, same-key-conflict last-write-wins, idempotent re-run, atomic
version swap."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openweathermapapi_etl_spark.operators import merge as merge_mod
from openweathermapapi_etl_spark.operators.merge import (
    VersionedParquetTable,
    dedup_last_write_wins,
    keyed_upsert,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def make_df(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, ord=o, val=v) for k, o, v in rows],
        schema="k string, ord int, val string",
    )


def test_insert_and_update(spark):
    old = make_df(spark, [("a", 1, "old_a"), ("b", 1, "old_b")])
    upd = make_df(spark, [("b", 2, "new_b"), ("c", 1, "new_c")])
    out = keyed_upsert(old, upd, keys=["k"])
    assert _rows(out) == {("a", 1, "old_a"), ("b", 2, "new_b"), ("c", 1, "new_c")}


def test_conflict_last_write_wins_by_order_col(spark):
    upd = make_df(spark, [("x", 1, "first"), ("x", 3, "last"), ("x", 2, "mid")])
    out = dedup_last_write_wins(upd, keys=["k"], order_col="ord")
    assert _rows(out) == {("x", 3, "last")}


def test_conflict_deterministic_without_order_col(spark):
    # No order col: greatest non-key tuple wins (ord column first).
    upd = make_df(spark, [("x", 1, "zz"), ("x", 2, "aa")])
    out = dedup_last_write_wins(upd, keys=["k"])
    assert _rows(out) == {("x", 2, "aa")}


def test_upsert_is_idempotent(spark):
    old = make_df(spark, [("a", 1, "v1")])
    upd = make_df(spark, [("a", 2, "v2"), ("b", 1, "v1")])
    once = keyed_upsert(old, upd, keys=["k"])
    twice = keyed_upsert(once, upd, keys=["k"])
    assert _rows(once) == _rows(twice)


def test_versioned_table_atomic_swap(spark, tmp_path):
    root = str(tmp_path / "tbl")
    table = VersionedParquetTable(root)
    assert not table.exists()

    v1 = table.upsert(spark, make_df(spark, [("a", 1, "x")]), keys=["k"])
    assert v1 == 1 and table.exists()
    v2 = table.upsert(spark, make_df(spark, [("a", 2, "y"), ("b", 1, "z")]), keys=["k"])
    assert v2 == 2
    assert _rows(table.read(spark)) == {("a", 2, "y"), ("b", 1, "z")}
    # Pointer file is the single commit point.
    assert os.path.exists(os.path.join(root, "_VERSION"))


def test_versioned_table_vacuum(spark, tmp_path):
    root = str(tmp_path / "tbl")
    table = VersionedParquetTable(root)
    for i in range(4):
        table.upsert(spark, make_df(spark, [("a", i, f"v{i}")]), keys=["k"])
    dirs = [d for d in os.listdir(root) if d.startswith("v=")]
    assert sorted(dirs) == ["v=3", "v=4"]  # retain current + previous
    assert _rows(table.read(spark)) == {("a", 3, "v3")}


def test_null_key_upsert_is_idempotent_and_unique(spark):
    """NULL keys are one key group (merge.py's eqNullSafe anti join,
    round-3 fix): a plain ``=`` anti join never matches NULL-key rows,
    so repeated upserts of a NULL-key batch would silently accumulate
    duplicates and break the key-unique invariant. Upsert the same
    NULL-key batch twice: the NULL group must update in place, stay
    unique, and be idempotent."""
    old = make_df(spark, [(None, 1, "n1"), ("a", 1, "x")])
    upd = make_df(spark, [(None, 2, "n2")])
    once = keyed_upsert(old, upd, keys=["k"])
    assert _rows(once) == {(None, 2, "n2"), ("a", 1, "x")}
    twice = keyed_upsert(once, upd, keys=["k"])
    assert _rows(twice) == _rows(once)
    # Key uniqueness counts NULL as a group (groupBy groups NULLs).
    dupes = twice.groupBy("k").count().filter("count > 1").collect()
    assert dupes == []


def test_null_key_upsert_broadcast_path(spark):
    """The eqNullSafe condition must hold on the broadcast anti join,
    the production regime (reference: 12-row batches): a batch built
    from a ``pyarrow.Table`` is a LocalRelation of known size, which
    Catalyst broadcasts."""
    import pyarrow as pa

    old = make_df(spark, [(None, 1, "n1"), ("b", 1, "y")])
    upd = spark.createDataFrame(
        pa.table(
            {
                "k": pa.array([None, "b"], pa.string()),
                "ord": pa.array([3, 2], pa.int32()),
                "val": pa.array(["n3", "y2"], pa.string()),
            }
        )
    )
    out = keyed_upsert(old, upd, keys=["k"])
    assert _rows(out) == {(None, 3, "n3"), ("b", 2, "y2")}
    assert out.filter(F.col("k").isNull()).count() == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    joins = [line for line in plan.splitlines() if "Join" in line]
    assert joins and all("BroadcastHashJoin" in j for j in joins), plan
    assert any("LeftAnti" in j for j in joins), plan


def test_pk_uniqueness_by_construction(spark):
    old = make_df(spark, [("a", 1, "x"), ("b", 1, "y")])
    upd = make_df(spark, [("a", 2, "x2"), ("a", 3, "x3"), ("c", 1, "z")])
    out = keyed_upsert(old, upd, keys=["k"])
    counts = out.groupBy("k").count().filter("count > 1").collect()
    assert counts == []


# ---------------------------------------------------------------------------
# Property-based: sequential upserts == single last-write-wins reduction
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:
    _row = st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=0, max_value=3),
        st.sampled_from(["x", "y"]),
    )
    _batches = st.lists(st.lists(_row, max_size=4), min_size=1, max_size=3)

    @given(batches=_batches)
    @settings(max_examples=8, deadline=None)
    def test_upsert_sequence_is_last_write_wins(spark, batches):
        """Folding keyed_upsert over N batches must equal the one-shot
        model: per key, the winning row of the LAST batch containing
        that key, where within a batch the max (ord, val) wins — the
        A11/ON CONFLICT semantics generalized (SURVEY.md §2.1)."""
        state = make_df(spark, [])
        model: dict[str, tuple] = {}
        for batch in batches:
            if not batch:
                continue
            state = keyed_upsert(
                state, make_df(spark, batch), keys=["k"], order_col="ord"
            )
            for k in {r[0] for r in batch}:
                winner = max(
                    (r for r in batch if r[0] == k), key=lambda r: (r[1], r[2])
                )
                model[k] = winner
        assert _rows(state) == set(model.values())


# ---------------------------------------------------------------------------
# Partition-pruned upsert (M1 at scale: rewrite only touched partitions)
# ---------------------------------------------------------------------------


def make_pdf(spark, rows):
    """Rows of (k, ds, val) — ds is the partition column, derived from k
    (the functional-dependency requirement)."""
    return spark.createDataFrame(
        [Row(k=k, ds=d, val=v) for k, d, v in rows],
        schema="k string, ds string, val string",
    )


def test_partitioned_upsert_matches_unpartitioned(spark, tmp_path):
    base = [("a1", "d1", "old"), ("a2", "d1", "old"), ("b1", "d2", "old"),
            ("c1", "d3", "old")]
    upd = [("a1", "d1", "new"), ("a3", "d1", "new")]  # touches d1 only

    plain = VersionedParquetTable(str(tmp_path / "plain"))
    plain.upsert(spark, make_pdf(spark, base), keys=["k"])
    plain.upsert(spark, make_pdf(spark, upd), keys=["k"])

    part = VersionedParquetTable(str(tmp_path / "part"), partition_by="ds")
    part.upsert(spark, make_pdf(spark, base), keys=["k"])
    part.upsert(spark, make_pdf(spark, upd), keys=["k"])

    cols = ["k", "ds", "val"]
    assert _rows(plain.read(spark).select(*cols)) == _rows(
        part.read(spark).select(*cols)
    )


def test_partitioned_upsert_hardlinks_untouched_partitions(spark, tmp_path):
    root = str(tmp_path / "t")
    table = VersionedParquetTable(root, partition_by="ds")
    table.upsert(
        spark,
        make_pdf(spark, [("a1", "d1", "x"), ("b1", "d2", "x"), ("c1", "d3", "x")]),
        keys=["k"],
    )
    v1 = table.current_version()

    def inodes(version, part):
        d = os.path.join(root, f"v={version}", f"ds={part}")
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_d2 = inodes(v1, "d2")
    table.upsert(spark, make_pdf(spark, [("a1", "d1", "y")]), keys=["k"])
    v2 = table.current_version()
    assert v2 == v1 + 1
    # untouched partition: same inodes (hard links, no data rewrite)
    assert inodes(v2, "d2") == before_d2
    # touched partition carries the update
    got = {(r.k, r.ds, r.val) for r in table.read(spark).collect()}
    assert got == {("a1", "d1", "y"), ("b1", "d2", "x"), ("c1", "d3", "x")}


def test_crash_during_swap_leaves_table_readable_and_recoverable(spark, tmp_path):
    """A crash after writing a new version dir but BEFORE the pointer
    swap must leave readers on the old version, and the next upsert
    must recover by committing PAST the orphan — never by overwriting
    it: since M14, a dir past the pointer may be a live branch head or
    an M8 staged version, indistinguishable from a crash orphan, so
    the allocator (merge.py::_next_version) skips occupied numbers and
    orphan dirs are left for vacuum/abandon."""
    root = str(tmp_path / "t")
    table = VersionedParquetTable(root)
    table.upsert(spark, make_df(spark, [("a", 1, "v1")]), keys=["k"])

    # Simulate the crash: orphan v=2 exists, pointer still names v=1.
    orphan = os.path.join(root, "v=2")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-garbage.parquet"), "w") as fh:
        fh.write("not parquet")

    assert table.current_version() == 1
    assert _rows(table.read(spark)) == {("a", 1, "v1")}

    table.upsert(spark, make_df(spark, [("a", 2, "v2")]), keys=["k"])
    assert table.current_version() == 3  # allocated past the orphan
    assert _rows(table.read(spark)) == {("a", 2, "v2")}
    # The orphan's garbage file was never touched by the recovery.
    assert os.path.exists(os.path.join(orphan, "part-garbage.parquet"))


def test_vacuum_retains_two_versions(spark, tmp_path):
    """Version retention: old version dirs beyond keep-2 are vacuumed;
    the previous version stays for in-flight readers."""
    root = str(tmp_path / "t")
    table = VersionedParquetTable(root)
    for i in range(4):
        table.upsert(spark, make_df(spark, [("a", i, f"v{i}")]), keys=["k"])
    dirs = sorted(d for d in os.listdir(root) if d.startswith("v="))
    assert dirs == ["v=3", "v=4"]
    assert table.current_version() == 4


# ---------------------------------------------------------------------------
# M2 — SCD Type 2 (operators/merge.py::scd2_apply)
# ---------------------------------------------------------------------------


def _scd_hist(spark, rows):
    return spark.createDataFrame(
        rows, "k string, val string, valid_from int, valid_to int, is_current boolean"
    )


def _scd_upd(spark, rows):
    return spark.createDataFrame(rows, "k string, val string, eff int")


def _apply(hist, upd):
    from openweathermapapi_etl_spark.operators.merge import scd2_apply

    return scd2_apply(hist, upd, keys=["k"], tracked=["val"], eff_col="eff")


def test_scd2_all_four_outcomes(spark):
    hist = _scd_hist(spark, [
        ("a", "v1", 10, None, True),     # will change
        ("b", "v1", 10, None, True),     # unchanged re-delivery
        ("c", "v1", 10, None, True),     # no update
        ("a", "v0", 5, 10, False),       # closed history passthrough
    ])
    upd = _scd_upd(spark, [("a", "v2", 20), ("b", "v1", 20), ("d", "v1", 20)])
    got = _rows(_apply(hist, upd))
    assert got == {
        ("a", "v0", 5, 10, False),       # untouched history
        ("a", "v1", 10, 20, False),      # closed at eff
        ("a", "v2", 20, None, True),     # new open version
        ("b", "v1", 10, None, True),     # no-op
        ("c", "v1", 10, None, True),     # untouched
        ("d", "v1", 20, None, True),     # brand-new key
    }


def test_scd2_reapplying_same_snapshot_is_noop(spark):
    hist = _scd_hist(spark, [("a", "v1", 10, None, True)])
    upd = _scd_upd(spark, [("a", "v2", 20)])
    once = _apply(hist, upd)
    twice = _apply(once, upd)
    assert _rows(once) == _rows(twice) == {
        ("a", "v1", 10, 20, False),
        ("a", "v2", 20, None, True),
    }


def test_scd2_sequential_applies_build_full_history(spark):
    hist = _scd_hist(spark, [("a", "v1", 10, None, True)])
    s2 = _apply(hist, _scd_upd(spark, [("a", "v2", 20)]))
    s3 = _apply(s2, _scd_upd(spark, [("a", "v3", 30)]))
    assert _rows(s3) == {
        ("a", "v1", 10, 20, False),
        ("a", "v2", 20, 30, False),
        ("a", "v3", 30, None, True),
    }
    # exactly one open row per key at every step (the SCD2 invariant)
    cur = [r for r in s3.collect() if r.is_current]
    assert len(cur) == 1


def test_scd2_intra_batch_duplicates_collapse_last_write_wins(spark):
    hist = _scd_hist(spark, [("a", "v1", 10, None, True)])
    upd = _scd_upd(spark, [("a", "v2", 20), ("a", "v3", 30)])  # same key twice
    got = _rows(_apply(hist, upd))
    # only the latest (eff=30) snapshot row applies
    assert got == {
        ("a", "v1", 10, 30, False),
        ("a", "v3", 30, None, True),
    }


def test_scd2_null_tracked_values_compare_null_safely(spark):
    hist = _scd_hist(spark, [("a", None, 10, None, True)])
    # NULL -> NULL is NOT a change; NULL -> value is.
    assert _rows(_apply(hist, _scd_upd(spark, [("a", None, 20)]))) == {
        ("a", None, 10, None, True),
    }
    assert _rows(_apply(hist, _scd_upd(spark, [("a", "v", 20)]))) == {
        ("a", None, 10, 20, False),
        ("a", "v", 20, None, True),
    }


def test_compact_reduces_files_preserves_content_atomically(spark, tmp_path):
    from openweathermapapi_etl_spark.operators.merge import VersionedParquetTable

    root = str(tmp_path / "ctab")
    table = VersionedParquetTable(root)
    df = spark.range(0, 1000).withColumnRenamed("id", "k").repartition(8)
    table.overwrite(df)
    v1 = table.current_version()

    def files_of(version):
        d = os.path.join(root, f"v={version}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(files_of(v1)) == 8
    before = {r.k for r in table.read(spark).collect()}
    v2 = table.compact(spark)
    assert v2 == v1 + 1
    assert len(files_of(v2)) == 1                       # compacted
    assert {r.k for r in table.read(spark).collect()} == before  # identical
    assert os.path.isdir(os.path.join(root, f"v={v1}"))  # old version retained


def test_compact_partitioned_keeps_partition_dirs(spark, tmp_path):
    from openweathermapapi_etl_spark.operators.merge import VersionedParquetTable

    root = str(tmp_path / "ptab")
    table = VersionedParquetTable(root, partition_by="p")
    df = (
        spark.range(0, 400)
        .withColumnRenamed("id", "k")
        .withColumn("p", (F.col("k") % 2).cast("string"))
        .repartition(6)
    )
    table.overwrite(df)
    v2 = table.compact(spark)
    vdir = os.path.join(root, f"v={v2}")
    parts = sorted(e for e in os.listdir(vdir) if e.startswith("p="))
    assert parts == ["p=0", "p=1"]
    for p in parts:
        n = len([f for f in os.listdir(os.path.join(vdir, p)) if f.endswith(".parquet")])
        assert n == 1
    assert table.read(spark).count() == 400


# ---------------------------------------------------------------------------
# M3 — snapshot_diff (CDC change set)
# ---------------------------------------------------------------------------


def _diff_rows(spark, old_rows, new_rows):
    from openweathermapapi_etl_spark.operators.merge import snapshot_diff

    schema = "k int, v string, amt double"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    out = snapshot_diff(old, new, keys=["k"], tracked=["v", "amt"])
    return {r["k"]: r.asDict() for r in out.collect()}


def test_snapshot_diff_classifies_all_three_changes(spark):
    got = _diff_rows(
        spark,
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        [(2, "b", 2.0), (3, "c", 9.0), (4, "d", 4.0)],
    )
    assert set(got) == {1, 3, 4}          # 2 unchanged → absent
    assert got[1]["change_type"] == "delete"
    assert got[3]["change_type"] == "update"
    assert got[3]["old_amt"] == 3.0 and got[3]["new_amt"] == 9.0
    assert got[4]["change_type"] == "insert"
    assert got[4]["old_v"] is None and got[4]["new_v"] == "d"


def test_snapshot_diff_null_transitions_are_updates(spark):
    # NULL→value and value→NULL on a tracked column must both surface
    # as updates (null-safe compare), and NULL==NULL must NOT.
    got = _diff_rows(
        spark,
        [(1, None, 1.0), (2, "b", 2.0), (3, None, 3.0)],
        [(1, "x", 1.0), (2, None, 2.0), (3, None, 3.0)],
    )
    assert got[1]["change_type"] == "update"
    assert got[2]["change_type"] == "update"
    assert 3 not in got                   # NULL == NULL → unchanged


def test_snapshot_diff_null_key_is_matched_not_insert_delete(spark):
    # Presence comes from injected flags, not key null-ness: a
    # NULL-keyed row on both sides with equal values is UNCHANGED, and
    # with different values is an UPDATE — never an insert+delete pair.
    got = _diff_rows(spark, [(None, "a", 1.0)], [(None, "a", 1.0)])
    assert got == {}
    got = _diff_rows(spark, [(None, "a", 1.0)], [(None, "a", 5.0)])
    assert got[None]["change_type"] == "update"


def test_snapshot_diff_requires_keys_and_tracked(spark):
    import pytest as _pytest

    from openweathermapapi_etl_spark.operators.merge import snapshot_diff

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with _pytest.raises(ValueError, match="key column"):
        snapshot_diff(df, df, keys=[], tracked=["v"])
    with _pytest.raises(ValueError, match="tracked column"):
        snapshot_diff(df, df, keys=["k"], tracked=[])


if _HAVE_HYPOTHESIS:
    _snap_row = st.tuples(
        st.integers(min_value=0, max_value=6),                   # key
        st.one_of(st.none(), st.sampled_from(["a", "b"])),       # v
        st.one_of(st.none(), st.integers(0, 3)),                 # amt
    )
    _snap = st.lists(_snap_row, max_size=8, unique_by=lambda r: r[0])

    @given(old=_snap, new=_snap)
    @settings(max_examples=10, deadline=None)
    def test_snapshot_diff_matches_python_model(spark, old, new):
        """snapshot_diff over arbitrary keyed snapshots (NULLs
        included) must equal the dict-diff model: keys only in new →
        insert, only in old → delete, value-tuple changed → update,
        identical → absent."""
        from openweathermapapi_etl_spark.operators.merge import snapshot_diff

        schema = "k int, v string, amt int"
        o = spark.createDataFrame(old, schema) if old else spark.createDataFrame([], schema)
        n = spark.createDataFrame(new, schema) if new else spark.createDataFrame([], schema)
        got = {
            r["k"]: r["change_type"]
            for r in snapshot_diff(o, n, keys=["k"], tracked=["v", "amt"]).collect()
        }
        om = {r[0]: r[1:] for r in old}
        nm = {r[0]: r[1:] for r in new}
        want = {}
        for k in set(om) | set(nm):
            if k not in om:
                want[k] = "insert"
            elif k not in nm:
                want[k] = "delete"
            elif om[k] != nm[k]:
                want[k] = "update"
        assert got == want


# ---------------------------------------------------------------------------
# M6: targeted delete (GDPR propagation)
# ---------------------------------------------------------------------------


def test_delete_unpartitioned_removes_keys_atomically(spark, tmp_path):
    root = str(tmp_path / "t")
    table = VersionedParquetTable(root)
    table.overwrite(make_df(spark, [("a", 1, "x"), ("b", 1, "y"), ("c", 1, "z")]))
    v1 = table.current_version()
    keys = spark.createDataFrame([("b",), ("nope",)], "k string")
    table.delete(spark, keys, keys=["k"])
    assert table.current_version() == v1 + 1
    assert _rows(table.read(spark)) == {("a", 1, "x"), ("c", 1, "z")}


def test_delete_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    root = str(tmp_path / "t")
    table = VersionedParquetTable(root, partition_by="ds")
    table.overwrite(
        make_pdf(
            spark,
            [("a1", "d1", "x"), ("a2", "d1", "x"), ("b1", "d2", "x"),
             ("c1", "d3", "x")],
        )
    )
    v1 = table.current_version()

    def inodes(version, part):
        d = os.path.join(root, f"v={version}", f"ds={part}")
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_d2, before_d3 = inodes(v1, "d2"), inodes(v1, "d3")
    # delete key a2: only partition d1 contains it
    table.delete(spark, spark.createDataFrame([("a2",)], "k string"), keys=["k"])
    v2 = table.current_version()
    assert inodes(v2, "d2") == before_d2  # hard links, no rewrite
    assert inodes(v2, "d3") == before_d3
    assert inodes(v2, "d1") != inodes(v1, "d1")  # rewritten
    got = {(r.k, r.ds, r.val) for r in table.read(spark).collect()}
    assert got == {("a1", "d1", "x"), ("b1", "d2", "x"), ("c1", "d3", "x")}


def test_delete_emptied_partition_is_not_resurrected(spark, tmp_path):
    """Deleting every row of a partition must make the partition
    disappear — the upsert-style link rule would silently restore the
    old partition dir (and with it the deleted rows)."""
    root = str(tmp_path / "t")
    table = VersionedParquetTable(root, partition_by="ds")
    table.overwrite(make_pdf(spark, [("a1", "d1", "x"), ("b1", "d2", "x")]))
    table.delete(spark, spark.createDataFrame([("b1",)], "k string"), keys=["k"])
    v2 = table.current_version()
    assert not os.path.exists(os.path.join(root, f"v={v2}", "ds=d2"))
    got = {(r.k, r.ds, r.val) for r in table.read(spark).collect()}
    assert got == {("a1", "d1", "x")}


def test_delete_no_matching_keys_links_everything(spark, tmp_path):
    root = str(tmp_path / "t")
    table = VersionedParquetTable(root, partition_by="ds")
    table.overwrite(make_pdf(spark, [("a1", "d1", "x"), ("b1", "d2", "x")]))
    v1 = table.current_version()
    table.delete(spark, spark.createDataFrame([("zz",)], "k string"), keys=["k"])
    assert table.current_version() == v1 + 1
    got = {(r.k, r.ds, r.val) for r in table.read(spark).collect()}
    assert got == {("a1", "d1", "x"), ("b1", "d2", "x")}


def test_time_travel_and_retention(spark, tmp_path):
    """M7: read_version returns the immutable predecessor snapshot;
    the retention window keeps exactly {current, previous}; a vacuumed
    version raises loudly instead of returning an empty frame."""
    import pytest

    from openweathermapapi_etl_spark.operators.merge import VersionedParquetTable

    t = VersionedParquetTable(str(tmp_path / "m7"))
    base = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    v1 = t.overwrite(base)
    t.upsert(spark, base.withColumn("v", F.col("v") + 1), keys=["k"])
    assert t.versions() == [1, 2]
    assert t.read_version(spark, v1).agg(F.sum("v")).collect()[0][0] == 100
    assert t.read(spark).agg(F.sum("v")).collect()[0][0] == 105

    t.upsert(spark, base.withColumn("v", F.col("v") + 2), keys=["k"])
    assert t.versions() == [2, 3]  # v1 vacuumed by retention
    with pytest.raises(FileNotFoundError, match="vacuumed or never written"):
        t.read_version(spark, v1)
    assert t.read_version(spark, 2).agg(F.sum("v")).collect()[0][0] == 105


def test_wap_failed_audit_abandon_leaves_production_untouched(spark, tmp_path):
    """M8's rollback half: a staged version that fails its audit is
    abandoned — the pointer never moves, readers keep the old data,
    and the staged directory is gone. Guards: publishing a stale
    version and abandoning the published version both refuse."""
    import pytest

    from openweathermapapi_etl_spark.operators.merge import VersionedParquetTable

    t = VersionedParquetTable(str(tmp_path / "m8"))
    base = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    v1 = t.overwrite(base)

    # Candidate drops half the rows — the shrink audit must catch it.
    bad = base.filter(F.col("k") < 5)
    staged = t.stage(bad)
    assert t.current_version() == v1  # staging never moves the pointer
    n_before, n_staged = t.read(spark).count(), t.read_version(spark, staged).count()
    assert n_staged < n_before  # audit verdict: fail
    t.abandon(staged)
    assert t.current_version() == v1
    assert t.read(spark).count() == 10
    assert staged not in t.versions()

    # Guards.
    good = t.stage(base.withColumn("v", F.lit(2)))
    t.publish(good)
    with pytest.raises(ValueError, match="refusing to publish"):
        t.publish(v1)
    with pytest.raises(ValueError, match="not removable"):
        t.abandon(good)


# ---------------------------------------------------------------------------
# reconcile: bucketed-checksum divergence audit (operators/reconcile.py)
# ---------------------------------------------------------------------------


def test_row_fingerprint_is_engine_portable(spark):
    """The documented contract: Spark's conv(md5) fingerprint equals
    DuckDB's '0x'||md5 cast — either side of a real migration can
    checksum itself in its own engine."""
    import duckdb
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.reconcile import row_fingerprint

    df = spark.createDataFrame(
        [(1, "a", None), (2, None, 3.5), (3, "x\x1fy", 0.0)],
        "k int, s string, v double",
    )
    got = {
        r.k: r.fp
        for r in df.select(
            "k",
            row_fingerprint(
                [F.col("k"), F.col("s"), F.col("v").cast("decimal(38,6)")]
            ).alias("fp"),
        ).collect()
    }
    con = duckdb.connect()
    want = {
        k: con.execute(
            """
            SELECT CAST(('0x' || substr(md5(
              concat_ws(chr(31),
                CASE WHEN ? IS NULL THEN chr(0)
                     ELSE chr(1) || CAST(? AS VARCHAR) END,
                CASE WHEN ? IS NULL THEN chr(0)
                     ELSE chr(1) || CAST(? AS VARCHAR) END,
                CASE WHEN CAST(? AS DECIMAL(38,6)) IS NULL THEN chr(0)
                     ELSE chr(1) || CAST(CAST(? AS DECIMAL(38,6)) AS VARCHAR)
                END)), 1, 15)) AS BIGINT)
            """,
            [k, k, s, s, v, v],
        ).fetchone()[0]
        for k, s, v in [(1, "a", None), (2, None, 3.5), (3, "x\x1fy", 0.0)]
    }
    assert got == want


def test_reconcile_identical_tables_report_nothing(spark):
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.reconcile import reconcile

    df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    out = reconcile(df, df, ["k"], [F.col("v")], n_buckets=16)
    assert out.count() == 0


def test_reconcile_classifies_missing_extra_changed(spark):
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.reconcile import reconcile

    src = spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    dst = (
        src.filter(F.col("k") != 10)  # 10 missing
        .withColumn("v", F.when(F.col("k") == 20, F.lit(99)).otherwise(F.col("v")))
        .unionAll(
            spark.createDataFrame([(1000, 1)], "k long, v long")  # extra
        )
    )
    got = {(r.k, r.status) for r in reconcile(src, dst, ["k"], [F.col("v")], 8).collect()}
    assert got == {(10, "missing"), (20, "changed"), (1000, "extra")}


def test_reconcile_detects_value_swap_between_keys(spark):
    """Two keys in the SAME bucket swapping values is the multiset-
    equality blind spot of a value-only fingerprint: count and XOR
    both match, the bucket pruned as equal, report empty — despite
    two changed rows (r11 review catch). With keys folded into the
    row fingerprint, the swap flips both fingerprints."""
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.reconcile import reconcile

    src = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    dst = spark.createDataFrame([(1, "b"), (2, "a")], "k long, v string")
    # n_buckets=1: both keys share a bucket by construction.
    got = {
        (r.k, r.status)
        for r in reconcile(src, dst, ["k"], [F.col("v")], n_buckets=1).collect()
    }
    assert got == {(1, "changed"), (2, "changed")}


def test_reconcile_detects_duplicate_key_count_drift(spark):
    """src holds a key's row TWICE, dst once (failed dedup or partial
    replay): the bucket phase flags it, but the old row-level
    full-outer join many-to-many-matched the copies, fingerprints
    agreed, and the report came back EMPTY (r11 review catch). The
    per-key (count, xor) fold classifies it as changed."""
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.reconcile import reconcile

    src = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k long, v string")
    dst = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    got = {
        (r.k, r.status)
        for r in reconcile(src, dst, ["k"], [F.col("v")], n_buckets=4).collect()
    }
    assert got == {(1, "changed")}


def test_reconcile_null_never_collides_with_literal(spark):
    """A NULL field vs the literal two-NUL string — binary junk from a
    bad load, exactly what a corruption audit hunts — fingerprinted
    IDENTICALLY under the old chr(0)chr(0) sentinel (r11 review
    catch); the flag rendering keeps the NULL class collision-free."""
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.reconcile import reconcile

    src = spark.createDataFrame([(1, None)], "k long, v string")
    dst = spark.createDataFrame([(1, "\x00\x00")], "k long, v string")
    got = {
        (r.k, r.status)
        for r in reconcile(src, dst, ["k"], [F.col("v")], n_buckets=4).collect()
    }
    assert got == {(1, "changed")}


def test_reconcile_null_vs_absent_column_value_differ(spark):
    """(a, NULL) must not fingerprint-collide with ('aNULL',) nor with
    the null sentinel appearing literally."""
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.reconcile import reconcile

    src = spark.createDataFrame([(1, "a", None)], "k int, a string, b string")
    dst = spark.createDataFrame([(1, "a\x00\x00", None)], "k int, a string, b string")
    out = reconcile(src, dst, ["k"], [F.col("a"), F.col("b")], 4).collect()
    assert [(r.k, r.status) for r in out] == [(1, "changed")]


# ---------------------------------------------------------------------------
# manifest: min/max file skipping (operators/manifest.py)
# ---------------------------------------------------------------------------


def test_manifest_prunes_files_and_loses_no_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.manifest import (
        file_stats,
        pruned_files,
        skipping_read,
    )

    path = str(tmp_path / "t")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    (
        orders.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    manifest = file_stats(spark, path, "o_orderdate")
    n_files = manifest.count()
    lo = F.lit("1998-03-01").cast("timestamp")
    hi = F.lit("1998-09-30").cast("timestamp")
    survivors = pruned_files(manifest, lo, hi)
    # Range clustering makes a 7-month slice of a 6.5-year span skip
    # most files.
    assert 0 < len(survivors) < n_files
    got = skipping_read(spark, path, manifest, "o_orderdate", lo, hi)
    want = orders.filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") <= hi)
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_manifest_empty_survivor_set_keeps_schema(spark, tmp_path):
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.manifest import (
        file_stats,
        skipping_read,
    )

    path = str(tmp_path / "t2")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    orders.write.mode("overwrite").parquet(path)
    manifest = file_stats(spark, path, "o_orderdate")
    lo = F.lit("2050-01-01").cast("timestamp")
    hi = F.lit("2050-12-31").cast("timestamp")
    out = skipping_read(spark, path, manifest, "o_orderdate", lo, hi)
    assert out.count() == 0
    assert out.schema == orders.schema


# ---------------------------------------------------------------------------
# keyed_upsert schema evolution (allow_new_columns)
# ---------------------------------------------------------------------------


def test_upsert_schema_evolution_null_fills_survivors(spark):
    from openweathermapapi_etl_spark.operators.merge import keyed_upsert

    old = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    upd = spark.createDataFrame([(2, "B", "web")], "k int, v string, ch string")
    out = keyed_upsert(old, upd, ["k"], allow_new_columns=True)
    assert out.columns == ["k", "v", "ch"]
    rows = {r.k: (r.v, r.ch) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("B", "web")}
    # Without the flag the legacy contract holds: the batch aligns to
    # the TABLE's schema (extra columns projected away, no evolution).
    legacy = keyed_upsert(old, upd, ["k"])
    assert legacy.columns == ["k", "v"]
    assert {(r.k, r.v) for r in legacy.collect()} == {(1, "a"), (2, "B")}


def test_upsert_schema_evolution_rejects_dropped_columns(spark):
    import pytest

    from openweathermapapi_etl_spark.operators.merge import keyed_upsert

    old = spark.createDataFrame([(1, "a")], "k int, v string")
    upd = spark.createDataFrame([(1, "web")], "k int, ch string")  # no v
    with pytest.raises(ValueError, match="additive-only"):
        keyed_upsert(old, upd, ["k"], allow_new_columns=True)


def test_reconcile_fast_flavor_matches_portable(spark):
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.reconcile import reconcile

    src = spark.range(300).select(F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
    dst = src.filter(F.col("k") != 7).withColumn(
        "v", F.when(F.col("k") == 11, F.lit(99)).otherwise(F.col("v"))
    )
    want = {(r.k, r.status) for r in reconcile(src, dst, ["k"], [F.col("v")], 16).collect()}
    got = {
        (r.k, r.status)
        for r in reconcile(
            src, dst, ["k"], [F.col("v")], 16, fingerprint="fast"
        ).collect()
    }
    assert got == want == {(7, "missing"), (11, "changed")}


# ---------------------------------------------------------------------------
# M14: branches (create / write / fast-forward merge / divergence)
# ---------------------------------------------------------------------------


def test_branch_isolated_and_fast_forward_merges(spark, tmp_path):
    table = VersionedParquetTable(str(tmp_path / "t"))
    table.upsert(spark, make_df(spark, [("a", 1, "x")]), keys=["k"])
    table.create_branch("exp")
    table.upsert_branch(
        spark, "exp", make_df(spark, [("a", 2, "X"), ("b", 1, "y")]), keys=["k"]
    )
    # Main untouched while the branch carries the experiment.
    assert _rows(table.read(spark)) == {("a", 1, "x")}
    assert _rows(table.read_branch(spark, "exp")) == {("a", 2, "X"), ("b", 1, "y")}
    table.merge_branch("exp")
    assert _rows(table.read(spark)) == {("a", 2, "X"), ("b", 1, "y")}
    assert table.branches() == []


def test_branch_merge_refuses_diverged_main(spark, tmp_path):
    import pytest

    table = VersionedParquetTable(str(tmp_path / "t"))
    table.upsert(spark, make_df(spark, [("a", 1, "x")]), keys=["k"])
    table.create_branch("exp")
    table.upsert_branch(spark, "exp", make_df(spark, [("b", 1, "y")]), keys=["k"])
    # Main moves past the branch base -> fast-forward must refuse.
    table.upsert(spark, make_df(spark, [("c", 1, "z")]), keys=["k"])
    with pytest.raises(RuntimeError, match="diverged"):
        table.merge_branch("exp")
    # Branch still readable after the refused merge.
    assert _rows(table.read_branch(spark, "exp")) == {("a", 1, "x"), ("b", 1, "y")}


def test_vacuum_retains_branch_referenced_versions(spark, tmp_path):
    table = VersionedParquetTable(str(tmp_path / "t"))
    table.upsert(spark, make_df(spark, [("a", 1, "v1")]), keys=["k"])
    table.create_branch("exp")  # base = head = v1
    # Churn main well past the retention window.
    for i in range(2, 7):
        table.upsert(spark, make_df(spark, [("a", i, f"v{i}")]), keys=["k"])
    # v1 would normally be vacuumed (retain=2) — the branch pins it.
    assert 1 in table.versions()
    assert _rows(table.read_branch(spark, "exp")) == {("a", 1, "v1")}


def test_reconcile_null_keys_null_safe(spark):
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.reconcile import reconcile

    src = spark.createDataFrame([(None, 1), (1, 1)], "k int, v int")
    dst = spark.createDataFrame([(None, 2), (1, 1)], "k int, v int")
    out = reconcile(src, dst, ["k"], [F.col("v")], 4).collect()
    assert [(r.k, r.status) for r in out] == [(None, "changed")]


def test_multi_table_txn_commits_atomically(spark, tmp_path):
    from openweathermapapi_etl_spark.operators.merge import MultiTableTxn

    txn = MultiTableTxn(str(tmp_path / "txn"))
    a, b = txn.table("a"), txn.table("b")
    txn.commit(
        {
            "a": a.stage(make_df(spark, [("a", 1, "x")])),
            "b": b.stage(make_df(spark, [("b", 1, "y")])),
        }
    )
    # Stage new versions of BOTH tables but crash before commit: readers
    # must still see the old consistent pair.
    sa = a.stage(make_df(spark, [("a", 2, "x2")]))
    sb = b.stage(make_df(spark, [("b", 2, "y2")]))
    assert _rows(txn.read(spark, "a")) == {("a", 1, "x")}
    assert _rows(txn.read(spark, "b")) == {("b", 1, "y")}
    # The commit flips both visible versions in one pointer swing.
    txn.commit({"a": sa, "b": sb})
    assert _rows(txn.read(spark, "a")) == {("a", 2, "x2")}
    assert _rows(txn.read(spark, "b")) == {("b", 2, "y2")}


def test_multi_table_txn_partial_commit_keeps_other_tables(spark, tmp_path):
    from openweathermapapi_etl_spark.operators.merge import MultiTableTxn

    txn = MultiTableTxn(str(tmp_path / "txn"))
    a, b = txn.table("a"), txn.table("b")
    txn.commit(
        {
            "a": a.stage(make_df(spark, [("a", 1, "x")])),
            "b": b.stage(make_df(spark, [("b", 1, "y")])),
        }
    )
    # A txn naming only one table leaves the other at its version.
    txn.commit({"a": a.stage(make_df(spark, [("a", 2, "x2")]))})
    assert _rows(txn.read(spark, "a")) == {("a", 2, "x2")}
    assert _rows(txn.read(spark, "b")) == {("b", 1, "y")}


def test_multi_table_txn_refuses_missing_staged_dir(spark, tmp_path):
    import pytest as _pytest

    from openweathermapapi_etl_spark.operators.merge import MultiTableTxn

    txn = MultiTableTxn(str(tmp_path / "txn"))
    txn.table("a")
    with _pytest.raises(FileNotFoundError):
        txn.commit({"a": 99})


def test_shallow_clone_shares_inodes_and_diverges(spark, tmp_path):
    import os as _os

    src = VersionedParquetTable(str(tmp_path / "src"))
    src.upsert(spark, make_df(spark, [("a", 1, "x"), ("b", 1, "y")]), keys=["k"])
    clone = src.clone_to(str(tmp_path / "dst"))
    # Zero-copy: every clone data file shares its inode with the source.
    vdir = clone._version_dir(clone.current_version())
    linked = [
        _os.stat(_os.path.join(dp, f)).st_nlink
        for dp, _d, fs in _os.walk(vdir)
        for f in fs
    ]
    assert linked and all(n >= 2 for n in linked)
    # Divergence is two-way invisible: mutate both, neither leaks.
    src.upsert(spark, make_df(spark, [("a", 2, "x2")]), keys=["k"])
    clone.upsert(spark, make_df(spark, [("b", 2, "y2")]), keys=["k"])
    assert _rows(src.read(spark)) == {("a", 2, "x2"), ("b", 1, "y")}
    assert _rows(clone.read(spark)) == {("a", 1, "x"), ("b", 2, "y2")}


def test_shallow_clone_refuses_empty_table(spark, tmp_path):
    import pytest as _pytest

    empty = VersionedParquetTable(str(tmp_path / "e"))
    with _pytest.raises(FileNotFoundError):
        empty.clone_to(str(tmp_path / "e2"))


def test_merge_on_read_delete_links_tombstones_and_compacts(spark, tmp_path):
    import os as _os

    table = VersionedParquetTable(str(tmp_path / "t"))
    table.overwrite(
        make_df(spark, [("a", 1, "x"), ("b", 1, "y"), ("c", 1, "z")])
    )
    v2 = table.delete_mor(
        spark, spark.createDataFrame([("a",)], "k string"), keys=["k"]
    )
    # MOR read applies tombstones; data files are LINKS, not rewrites.
    assert _rows(table.read(spark)) == {("b", 1, "y"), ("c", 1, "z")}
    vdir = table._version_dir(v2)
    linked = [
        _os.stat(_os.path.join(dp, f)).st_nlink
        for dp, _d, fs in _os.walk(vdir)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert linked and all(n >= 2 for n in linked)
    # A second MOR delete accumulates tombstones against the same data.
    table.delete_mor(
        spark, spark.createDataFrame([("b",)], "k string"), keys=["k"]
    )
    assert _rows(table.read(spark)) == {("c", 1, "z")}
    # Time travel still sees v2 with only its own tombstone set.
    assert _rows(table.read_version(spark, v2)) == {("b", 1, "y"), ("c", 1, "z")}
    # Compaction folds tombstones into data; the new current version
    # has no side file and reads identically.
    v4 = table.apply_deletes(spark)
    assert not _os.path.isdir(table._deletes_dir(v4))
    assert _rows(table.read(spark)) == {("c", 1, "z")}


def test_partitioned_upsert_compacts_tombstones_first(spark, tmp_path):
    table = VersionedParquetTable(str(tmp_path / "t"), partition_by="val")
    table.overwrite(make_df(spark, [("a", 1, "p1"), ("b", 1, "p2")]))
    table.delete_mor(
        spark, spark.createDataFrame([("a",)], "k string"), keys=["k"]
    )
    # An upsert touching ONLY partition p2 must not resurrect 'a'
    # (whose partition p1 would be hard-linked untouched).
    table.upsert(spark, make_df(spark, [("b", 2, "p2")]), keys=["k"])
    assert _rows(table.read(spark)) == {("b", 2, "p2")}


def test_rollback_restores_and_guards(spark, tmp_path):
    import pytest as _pytest

    table = VersionedParquetTable(str(tmp_path / "t"))
    v1 = table.overwrite(make_df(spark, [("a", 1, "x")]))
    v2 = table.upsert(spark, make_df(spark, [("a", 2, "BAD")]), keys=["k"])
    table.rollback(v1)
    assert _rows(table.read(spark)) == {("a", 1, "x")}
    # The abandoned version stays readable for forensics.
    assert _rows(table.read_version(spark, v2)) == {("a", 2, "BAD")}
    # A post-rollback write allocates PAST the abandoned version.
    v3 = table.upsert(spark, make_df(spark, [("a", 3, "ok")]), keys=["k"])
    assert v3 > v2
    # Guards: no forward rollback, no rollback to a missing version.
    with _pytest.raises(ValueError):
        table.rollback(v3)
    with _pytest.raises(FileNotFoundError):
        table.rollback(99)


def test_partitioned_delete_compacts_tombstones_first(spark, tmp_path):
    table = VersionedParquetTable(str(tmp_path / "t"), partition_by="val")
    table.overwrite(
        make_df(spark, [("a", 1, "p1"), ("b", 1, "p2"), ("c", 1, "p2")])
    )
    table.delete_mor(
        spark, spark.createDataFrame([("a",)], "k string"), keys=["k"]
    )
    # An eager delete touching ONLY partition p2 must not resurrect
    # 'a' (whose partition p1 is hard-linked untouched — the same
    # hazard the partitioned upsert guards against).
    table.delete(spark, spark.createDataFrame([("b",)], "k string"), keys=["k"])
    assert _rows(table.read(spark)) == {("c", 1, "p2")}


def test_clone_carries_pending_mor_tombstones(spark, tmp_path):
    src = VersionedParquetTable(str(tmp_path / "src"))
    src.overwrite(make_df(spark, [("a", 1, "x"), ("b", 1, "y")]))
    src.delete_mor(
        spark, spark.createDataFrame([("a",)], "k string"), keys=["k"]
    )
    clone = src.clone_to(str(tmp_path / "dst"))
    # The MOR-deleted row must stay deleted in the clone's v=1...
    assert _rows(clone.read(spark)) == {("b", 1, "y")}
    # ...and the clone's tombstones are its OWN: compacting them in
    # the clone leaves the source's pending set untouched.
    clone.apply_deletes(spark)
    assert _rows(clone.read(spark)) == {("b", 1, "y")}
    assert os.path.isdir(src._deletes_dir(src.current_version()))
    assert _rows(src.read(spark)) == {("b", 1, "y")}


def test_txn_committed_versions_survive_per_table_cleanup(spark, tmp_path):
    import pytest as _pytest

    from openweathermapapi_etl_spark.operators.merge import (
        MultiTableTxn,
        version_states,
    )

    txn = MultiTableTxn(str(tmp_path / "txn"))
    a = txn.table("a")
    txn.commit({"a": a.stage(make_df(spark, [("a", 1, "x")]))})
    # The txn-committed version is NEWER than the per-table pointer
    # (txn commits never swing it) — the audit must not call it
    # abandonable staged work.
    assert version_states(a) == [(1, "txn-committed")]
    with _pytest.raises(ValueError):
        a.abandon(1)
    assert _rows(txn.read(spark, "a")) == {("a", 1, "x")}
    # Per-table vacuum (run by any direct commit) must pin the
    # txn-referenced version even when it falls outside the per-table
    # retention window.
    for i in range(2, 6):
        a.overwrite(make_df(spark, [("a", i, "direct")]))
    assert os.path.isdir(a._version_dir(1))
    assert _rows(txn.read(spark, "a")) == {("a", 1, "x")}


def test_repartition_layout_persists_across_handles(spark, tmp_path):
    root = str(tmp_path / "t")
    t1 = VersionedParquetTable(root, partition_by="val")
    t1.upsert(spark, make_df(spark, [("a", 1, "p1"), ("b", 1, "p2")]), keys=["k"])
    t1.repartition_layout(spark, "k")
    # A handle opened later with the STALE constructor argument must
    # resolve the evolved layout from disk — otherwise its partitioned
    # upsert would link nothing (no 'val=' dirs remain) and silently
    # drop every untouched row.
    t2 = VersionedParquetTable(root, partition_by="val")
    assert t2.partition_by == "k"
    t2.upsert(spark, make_df(spark, [("b", 2, "p2b")]), keys=["k"])
    # select() normalizes hive-partition column position on read.
    assert _rows(t2.read(spark).select("k", "ord", "val")) == {
        ("a", 1, "p1"),
        ("b", 2, "p2b"),
    }


def test_rollback_across_partition_evolution_restores_layout(spark, tmp_path):
    table = VersionedParquetTable(str(tmp_path / "t"), partition_by="val")
    v1 = table.overwrite(make_df(spark, [("a", 1, "p1"), ("b", 1, "p2")]))
    table.repartition_layout(spark, "k")
    table.rollback(v1)
    # The handle's write layout follows the restored snapshot.
    assert table.partition_by == "val"
    table.upsert(spark, make_df(spark, [("b", 2, "p2")]), keys=["k"])
    assert _rows(table.read(spark).select("k", "ord", "val")) == {
        ("a", 1, "p1"),
        ("b", 2, "p2"),
    }


def test_delete_all_rows_leaves_readable_empty_table(spark, tmp_path):
    table = VersionedParquetTable(str(tmp_path / "t"), partition_by="val")
    table.overwrite(make_df(spark, [("a", 1, "p1"), ("b", 1, "p2")]))
    table.delete(
        spark, spark.createDataFrame([("a",), ("b",)], "k string"), keys=["k"]
    )
    # A partitioned write of an empty frame leaves no data files;
    # the schema sidecar keeps the empty version readable.
    out = table.read(spark)
    assert out.count() == 0
    assert set(out.columns) == {"k", "ord", "val"}
    # And the table stays writable past the empty state.
    table.upsert(spark, make_df(spark, [("c", 1, "p3")]), keys=["k"])
    assert _rows(table.read(spark).select("k", "ord", "val")) == {("c", 1, "p3")}


def test_enforce_constraints_blocks_dirty_batch_zero_trace(spark, tmp_path):
    import pytest as _pytest

    from openweathermapapi_etl_spark.operators.constraints import (
        ConstraintViolation,
        audit_constraints,
        enforce_constraints,
    )

    rules = {
        "ord_positive": F.col("ord") > 0,
        "val_not_null": F.col("val").isNotNull(),
    }
    table = VersionedParquetTable(str(tmp_path / "t"))
    table.overwrite(
        enforce_constraints(make_df(spark, [("a", 1, "x")]), rules)
    )
    dirty = make_df(spark, [("b", -1, "y"), ("c", 2, None), ("d", None, "z")])
    with _pytest.raises(ConstraintViolation) as exc:
        table.overwrite(enforce_constraints(dirty, rules))
    # NULL predicate results count as violations (Delta semantics):
    # ord=-1 and ord=NULL both fail ord_positive.
    assert dict(exc.value.report) == {"ord_positive": 2, "val_not_null": 1}
    # Zero trace: the refused batch wrote no version dir; the table
    # still reads the last good commit.
    assert table.versions() == [1]
    assert _rows(table.read(spark)) == {("a", 1, "x")}
    # The audit report includes zero-violation rules (proof each ran).
    clean = audit_constraints(make_df(spark, [("e", 3, "w")]), rules)
    assert _rows(clean) == {("ord_positive", 0), ("val_not_null", 0)}
    # An empty batch passes every rule (vacuously valid).
    empty = audit_constraints(make_df(spark, []), rules)
    assert _rows(empty) == {("ord_positive", 0), ("val_not_null", 0)}


def test_occ_commit_conflict_detected_and_retry_merges_all(spark, tmp_path):
    import pytest as _pytest

    from openweathermapapi_etl_spark.operators.merge import (
        ConcurrentWriteError,
        keyed_upsert,
    )

    root = str(tmp_path / "t")
    a = VersionedParquetTable(root)
    b = VersionedParquetTable(root)
    a.overwrite(make_df(spark, [("k1", 1, "seed"), ("k2", 1, "seed")]))
    # Writer A merges against base v1 and stages its slot...
    base_a = a.current_version()
    merged_a = keyed_upsert(
        a.read(spark), make_df(spark, [("k1", 2, "A")]), keys=["k"]
    )
    slot_a = a.claim_version()
    a._write(merged_a, a._version_dir(slot_a))
    # ...but writer B commits first (plain last-write-wins upsert).
    b.upsert(spark, make_df(spark, [("k2", 2, "B")]), keys=["k"])
    # A's CAS must refuse: committing would silently drop B's write.
    with _pytest.raises(ConcurrentWriteError):
        a.commit_if(slot_a, base_a)
    # The OCC retry loop re-merges against B's commit: NO lost update.
    v, attempts = a.upsert_occ(
        spark, make_df(spark, [("k1", 2, "A")]), keys=["k"]
    )
    assert attempts == 1  # no new competitor during the retry
    assert _rows(a.read(spark)) == {("k1", 2, "A"), ("k2", 2, "B")}


def test_occ_real_threads_no_lost_update(spark, tmp_path):
    """REAL concurrency, not a simulated interleaving: three threads
    race upsert_occ against one table root through separate handles
    (separate processes in production — same FS protocol). Whatever
    order the OS schedules, OCC must lose NO writer's rows, leave the
    commit log consistent with the pointer (heal is a no-op), and
    clean every losing slot (no unlogged-orphan residue). The model
    test proves the protocol over chosen interleavings; this proves
    the FS primitives (mkdir claim, O_EXCL lock, O_APPEND log) under
    scheduling the test does NOT choose. max_retries is generous:
    transient lock-held conflicts legitimately burn attempts."""
    import threading

    from openweathermapapi_etl_spark.operators.merge import version_states

    root = str(tmp_path / "t")
    seed = VersionedParquetTable(root, retain=50)
    seed.overwrite(make_df(spark, [("seed", 1, "s")]))
    results: dict[int, tuple[int, int]] = {}
    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            handle = VersionedParquetTable(root, retain=50)
            results[i] = handle.upsert_occ(
                spark,
                make_df(spark, [(f"w{i}", 1, f"val{i}")]),
                keys=["k"],
                max_retries=20,
            )
        except Exception as exc:  # surfaced below: threads hide raises
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors
    assert len(results) == 3
    # No lost update: every writer's row landed, seed intact.
    assert _rows(seed.read(spark)) == {
        ("seed", 1, "s"),
        ("w0", 1, "val0"),
        ("w1", 1, "val1"),
        ("w2", 1, "val2"),
    }
    # Log and pointer agree: the next heal finds nothing to repair.
    hist = os.path.join(root, "_HISTORY.jsonl")
    before = open(hist).read()
    seed._heal_history()
    assert open(hist).read() == before
    # Losing attempts removed their claimed slots: nothing unlogged.
    assert not [
        v for v, s in version_states(seed) if s == "unlogged-orphan"
    ]
    # All three commits are time-travel reachable in commit order.
    assert set(seed._committed_versions()) == set(seed.versions())


_OCC_WRITER_SCRIPT = r"""
import json, os, shutil, sys, time

sys.path.insert(0, sys.argv[4])
from openweathermapapi_etl_spark.operators.merge import (
    ConcurrentWriteError,
    VersionedParquetTable,
)

root, wid, n_commits = sys.argv[1], sys.argv[2], int(sys.argv[3])
table = VersionedParquetTable(root, retain=50)
# Start barrier: maximize the real race window across processes.
go = os.path.join(root, "_GO")
while not os.path.exists(go):
    time.sleep(0.001)
done = 0
while done < n_commits:
    for attempt in range(200):
        base = table.current_version()
        counts = {}
        if base is not None:
            with open(os.path.join(table._version_dir(base), "data.json")) as fh:
                counts = json.load(fh)
        counts[wid] = counts.get(wid, 0) + 1
        slot = table.claim_version()
        with open(os.path.join(table._version_dir(slot), "data.json"), "w") as fh:
            json.dump(counts, fh)
        try:
            table.commit_if(slot, base)
            done += 1
            break
        except ConcurrentWriteError:
            # Mirror upsert_occ's loser cleanup: the claimed slot is
            # removed so no unlogged-orphan residue accumulates.
            shutil.rmtree(table._version_dir(slot), ignore_errors=True)
            time.sleep(0.001)
    else:
        sys.exit(3)  # starved: never won a CAS in 200 attempts
print(done)
"""


def test_occ_cross_process_no_lost_update(tmp_path):
    """The claim the thread test (below) cannot make: upsert_occ's
    safety rests on FS primitives — atomic mkdir claim, O_EXCL commit
    lock, O_APPEND history log — whose CROSS-PROCESS behavior is the
    actual multi-writer story (three threads share one Python runtime
    and one open-file table; production writers are separate JVMs on
    separate hosts over a shared FS). Three real subprocesses race the
    same claim→stage→CAS→retry loop upsert_occ runs (payloads are
    plain JSON so the children need no Spark; the protocol under test
    is exactly the control plane). Each writer increments its own
    counter on top of whatever the current version holds, so ANY lost
    update shows as a final count below commits-made. Also pinned:
    the log needs no heal afterwards, losers left no unlogged-orphan
    residue, and every committed version is time-travel reachable."""
    import subprocess
    import sys as _sys

    from openweathermapapi_etl_spark.operators.merge import version_states

    root = str(tmp_path / "t")
    os.makedirs(root)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n_writers, n_commits = 3, 5
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", _OCC_WRITER_SCRIPT, root, f"w{i}",
             str(n_commits), repo],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for i in range(n_writers)
    ]
    open(os.path.join(root, "_GO"), "w").close()
    outs = [p.communicate(timeout=120) for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert [o.strip() for o, _ in outs] == [str(n_commits)] * n_writers
    table = VersionedParquetTable(root, retain=50)
    cur = table.current_version()
    import json as _json

    with open(os.path.join(table._version_dir(cur), "data.json")) as fh:
        counts = _json.load(fh)
    # No lost update: the final chained state holds every commit.
    assert counts == {f"w{i}": n_commits for i in range(n_writers)}
    # Log and pointer agree: the next heal finds nothing to repair.
    hist = os.path.join(root, "_HISTORY.jsonl")
    before = open(hist).read()
    table._heal_history()
    assert open(hist).read() == before
    # Losing attempts removed their claimed slots: nothing unlogged.
    assert not [
        v for v, s in version_states(table) if s == "unlogged-orphan"
    ]
    assert set(table._committed_versions()) == set(table.versions())
    assert len(table._committed_versions()) == n_writers * n_commits


def test_occ_claim_version_slots_are_exclusive(spark, tmp_path):
    import os as _os

    root = str(tmp_path / "t")
    a = VersionedParquetTable(root)
    b = VersionedParquetTable(root)
    a.overwrite(make_df(spark, [("k1", 1, "x")]))
    s1, s2 = a.claim_version(), b.claim_version()
    assert s1 != s2
    assert _os.path.isdir(a._version_dir(s1))
    assert _os.path.isdir(b._version_dir(s2))


def test_occ_commit_lock_held_raises(spark, tmp_path):
    import os as _os

    import pytest as _pytest

    from openweathermapapi_etl_spark.operators.merge import (
        ConcurrentWriteError,
    )

    root = str(tmp_path / "t")
    table = VersionedParquetTable(root)
    table.overwrite(make_df(spark, [("k1", 1, "x")]))
    slot = table.claim_version()
    table._write(table.read(spark), table._version_dir(slot))
    lock = _os.path.join(root, "_COMMIT_LOCK")
    open(lock, "w").close()
    with _pytest.raises(ConcurrentWriteError, match="lock"):
        table.commit_if(slot, 1)
    _os.unlink(lock)  # fenced: the dead writer's lock is removed
    assert table.commit_if(slot, 1) == slot


def test_change_feed_reports_deltas_and_guards_vacuumed_window(spark, tmp_path):
    import pytest as _pytest

    table = VersionedParquetTable(str(tmp_path / "t"), retain=10)
    table.overwrite(make_df(spark, [("a", 1, "x"), ("b", 1, "y")]))
    table.upsert(spark, make_df(spark, [("a", 2, "x2"), ("c", 1, "z")]), keys=["k"])
    table.delete(spark, spark.createDataFrame([("b",)], "k string"), keys=["k"])
    feed = table.change_feed(
        spark, keys=["k"], tracked=["val"], from_version=1, to_version=3
    )
    got = {
        (r["version"], r["k"], r["change_type"], r["old_val"], r["new_val"])
        for r in feed.collect()
    }
    assert got == {
        (2, "a", "update", "x", "x2"),
        (2, "c", "insert", None, "z"),
        (3, "b", "delete", "y", None),
    }
    # Default retention (2) vacuums the feed's history: the same
    # window must fail LOUDLY, never yield a silently partial feed.
    short = VersionedParquetTable(str(tmp_path / "s"))
    short.overwrite(make_df(spark, [("a", 1, "x")]))
    short.upsert(spark, make_df(spark, [("a", 2, "y")]), keys=["k"])
    short.upsert(spark, make_df(spark, [("a", 3, "z")]), keys=["k"])
    with _pytest.raises(FileNotFoundError, match="retain"):
        short.change_feed(
            spark, keys=["k"], tracked=["val"], from_version=1, to_version=3
        )


def test_as_of_timestamp_resolves_rollback_and_guards(spark, tmp_path):
    import time as _time

    import pytest as _pytest

    table = VersionedParquetTable(str(tmp_path / "t"))
    t0 = _time.time()
    v1 = table.overwrite(make_df(spark, [("a", 1, "good")]))
    t1 = _time.time()
    table.upsert(spark, make_df(spark, [("a", 2, "BAD")]), keys=["k"])
    t2 = _time.time()
    table.rollback(v1)
    t3 = _time.time()
    # Between commits each timestamp resolves to what was current THEN.
    assert _rows(table.read_as_of_timestamp(spark, t1)) == {("a", 1, "good")}
    assert _rows(table.read_as_of_timestamp(spark, t2)) == {("a", 2, "BAD")}
    # After the restore, the log re-surfaces the restored version —
    # NOT the bad deploy the pointer abandoned.
    assert _rows(table.read_as_of_timestamp(spark, t3)) == {("a", 1, "good")}
    # A timestamp before the first commit fails loudly.
    with _pytest.raises(FileNotFoundError):
        table.read_as_of_timestamp(spark, t0 - 10)


def test_apply_deletes_partitioned_is_pruned_and_null_safe(spark, tmp_path):
    import os as _os

    table = VersionedParquetTable(str(tmp_path / "t"), partition_by="val")
    table.overwrite(
        make_df(
            spark,
            [("a", 1, "p1"), (None, 1, "p1"), ("b", 1, "p2"), ("c", 1, "p3")],
        )
    )
    # Tombstone a NULL key and a p1 key: compaction must remove BOTH
    # (null-safe semantics, matching the merge-on-read scan)...
    table.delete_mor(
        spark,
        spark.createDataFrame([("a",), (None,)], "k string"),
        keys=["k"],
    )
    v = table.apply_deletes(spark)
    assert not _os.path.isdir(table._deletes_dir(v))
    assert _rows(table.read(spark).select("k", "ord", "val")) == {
        ("b", 1, "p2"),
        ("c", 1, "p3"),
    }
    # ...and only partition p1 rewrites: p2/p3 data files hard-link
    # from the previous version (st_nlink >= 2).
    vdir = table._version_dir(v)
    for part in ("val=p2", "val=p3"):
        links = [
            _os.stat(_os.path.join(dp, f)).st_nlink
            for dp, _d, fs in _os.walk(_os.path.join(vdir, part))
            for f in fs
            if f.endswith(".parquet")
        ]
        assert links and all(n >= 2 for n in links), part


def test_drop_partitions_zero_rewrite_and_idempotent(spark, tmp_path):
    import os as _os

    import pytest as _pytest

    table = VersionedParquetTable(str(tmp_path / "t"), partition_by="val")
    table.overwrite(
        make_df(spark, [("a", 1, "p1"), ("b", 1, "p2"), ("c", 1, "p3")])
    )
    v2 = table.drop_partitions(spark, ["p2", "nonexistent"])
    assert _rows(table.read(spark).select("k", "ord", "val")) == {
        ("a", 1, "p1"),
        ("c", 1, "p3"),
    }
    # Zero rewrite: every surviving data file is a hard link.
    vdir = table._version_dir(v2)
    links = [
        _os.stat(_os.path.join(dp, f)).st_nlink
        for dp, _d, fs in _os.walk(vdir)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert links and all(n >= 2 for n in links)
    # The expired partition stays time-travel readable until vacuum.
    assert ("b", 1, "p2") in _rows(
        table.read_version(spark, 1).select("k", "ord", "val")
    )
    # Idempotent re-run (value already gone) commits a no-op version.
    table.drop_partitions(spark, ["p2"])
    assert _rows(table.read(spark).select("k", "ord", "val")) == {
        ("a", 1, "p1"),
        ("c", 1, "p3"),
    }
    # MOR tombstones fold before linking (no resurrection).
    table.delete_mor(
        spark, spark.createDataFrame([("a",)], "k string"), keys=["k"]
    )
    table.drop_partitions(spark, ["p3"])
    assert _rows(table.read(spark).select("k", "ord", "val")) == set()
    with _pytest.raises(ValueError):
        VersionedParquetTable(str(tmp_path / "u")).drop_partitions(spark, ["x"])


def test_occ_commit_never_vacuums_competitors_base(spark, tmp_path):
    import os as _os

    root = str(tmp_path / "t")
    a = VersionedParquetTable(root)
    b = VersionedParquetTable(root)
    a.overwrite(make_df(spark, [("k1", 1, "seed")]))
    # Writer A claims a slot (creating a numeric gap) but stalls...
    slot_a = a.claim_version()
    # ...writer B commits past the gap: the vacuum horizon must count
    # COMMITTED versions, not raw numbers — v1 (A's merge base, and
    # the documented time-travel predecessor) must survive.
    b.upsert(spark, make_df(spark, [("k2", 1, "x")]), keys=["k"])
    assert _os.path.isdir(a._version_dir(1)), "predecessor vacuumed"
    assert _rows(a.read_version(spark, 1)) == {("k1", 1, "seed")}
    # A's CAS still fails cleanly and its slot is removable.
    import pytest as _pytest

    from openweathermapapi_etl_spark.operators.merge import (
        ConcurrentWriteError,
    )

    a._write(make_df(spark, [("k1", 2, "A")]), a._version_dir(slot_a))
    with _pytest.raises(ConcurrentWriteError):
        a.commit_if(slot_a, 1)


def test_change_feed_ignores_staged_and_claimed_dirs(spark, tmp_path):
    table = VersionedParquetTable(str(tmp_path / "t"), retain=10)
    table.overwrite(make_df(spark, [("a", 1, "x")]))
    # A staged-but-never-published WAP version and a crashed writer's
    # empty claimed slot both occupy dirs; neither was ever committed.
    table.stage(make_df(spark, [("a", 9, "PHANTOM")]))
    table.claim_version()
    table.upsert(spark, make_df(spark, [("a", 2, "y")]), keys=["k"])
    feed = table.change_feed(
        spark, keys=["k"], tracked=["val"],
        from_version=1, to_version=table.current_version(),
    )
    got = {
        (r["change_type"], r["old_val"], r["new_val"])
        for r in feed.collect()
    }
    # One real update; the phantom staged data never appears.
    assert got == {("update", "x", "y")}


def test_delete_matches_hive_escaped_partition_values(spark, tmp_path):
    table = VersionedParquetTable(str(tmp_path / "t"), partition_by="val")
    # 'a b' is percent-escaped on disk (val=a%20b): the delete must
    # still recognize the emptied partition and NOT re-link it.
    table.overwrite(make_df(spark, [("a", 1, "a b"), ("c", 1, "p3")]))
    table.delete(spark, spark.createDataFrame([("a",)], "k string"), keys=["k"])
    assert _rows(table.read(spark).select("k", "ord", "val")) == {
        ("c", 1, "p3")
    }
    # And partition expiry on the escaped value actually drops it.
    t2 = VersionedParquetTable(str(tmp_path / "u"), partition_by="val")
    t2.overwrite(make_df(spark, [("a", 1, "a b"), ("c", 1, "p3")]))
    t2.drop_partitions(spark, ["a b"])
    assert _rows(t2.read(spark).select("k", "ord", "val")) == {("c", 1, "p3")}


def test_noop_batch_commits_nothing(spark, tmp_path):
    table = VersionedParquetTable(str(tmp_path / "t"))
    v1 = table.overwrite(make_df(spark, [("a", 1, "x"), ("b", 1, "y")]))
    # A byte-identical replay must not move the pointer at all.
    v = table.upsert_changed_only(
        spark, make_df(spark, [("a", 1, "x"), ("b", 1, "y")]), keys=["k"]
    )
    assert v == v1 and table.versions() == [v1]
    # A mixed batch commits once and only the real change applies.
    v2 = table.upsert_changed_only(
        spark, make_df(spark, [("a", 1, "x"), ("b", 2, "y2")]), keys=["k"]
    )
    assert v2 == v1 + 1
    assert _rows(table.read(spark)) == {("a", 1, "x"), ("b", 2, "y2")}


# -- round-9 advisor-fix regressions ------------------------------------


def test_change_feed_refuses_vacuumed_interior_after_rollback(
    spark, tmp_path
):
    """Round-8 advisor medium: a rollback reorders the retention
    ranking (history 1,2,3, rollback-to-1, commit-4 with retain=2
    pins {1,4} and vacuums 2,3), so an endpoints-only guard let
    change_feed(1,4) silently collapse the vacuumed intermediate
    commits into one mis-stamped diff. Now: ANY committed version
    inside the window missing from disk fails loudly."""
    import pytest as _pytest

    table = VersionedParquetTable(str(tmp_path / "t"), retain=3)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.upsert(spark, make_df(spark, [("a", 2, "v2")]), keys=["k"])
    table.upsert(spark, make_df(spark, [("a", 3, "v3")]), keys=["k"])
    table.rollback(1)
    table.upsert(spark, make_df(spark, [("a", 4, "v4")]), keys=["k"])
    # The rollback reorders the commit ranking to [2, 3, 1, 4], so
    # retain=3 pins {3, 1, 4} and vacuums v2 — an INTERIOR gap whose
    # endpoints both survive.
    assert set(table.versions()) == {1, 3, 4}
    with _pytest.raises(FileNotFoundError, match="vacuumed"):
        table.change_feed(
            spark, keys=["k"], tracked=["ord", "val"],
            from_version=1, to_version=4,
        )


def test_as_of_timestamp_resolves_by_committed_at_not_line_order(
    spark, tmp_path
):
    """Round-8 advisor low: plain last-write-wins commits don't hold
    the commit lock, so two writers can interleave their pointer
    swings and history appends OUT OF ORDER on disk. Resolution must
    sort by committed_at, not trust line position."""
    import json as _json

    table = VersionedParquetTable(str(tmp_path / "t"))
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    with open(hist) as fh:
        entries = [_json.loads(line) for line in fh if line.strip()]
    assert [e["version"] for e in entries] == [1, 2]
    # Simulate the interleaving: the LATER commit's history line lands
    # FIRST in the file.
    with open(hist, "w") as fh:
        for e in reversed(entries):
            fh.write(_json.dumps(e) + "\n")
    ts_after_both = max(e["committed_at"] for e in entries) + 1
    got = _rows(table.read_as_of_timestamp(spark, ts_after_both))
    assert got == {("a", 2, "v2")}  # v2 committed last by TIMESTAMP


def test_stale_txn_file_does_not_pin_unrelated_table(spark, tmp_path):
    """Round-8 advisor low: a standalone table that merely shares a
    parent directory with a stale/unrelated _TXN file must not have
    versions misclassified as txn-committed (which blocked abandon()
    and exempted them from vacuum forever). Only tables stamped with
    the _TXN_MEMBER marker by MultiTableTxn.table() consult the
    pointer."""
    import json as _json

    from openweathermapapi_etl_spark.operators.merge import version_states

    parent = tmp_path / "shared"
    parent.mkdir()
    # A stale _TXN left behind by some long-gone transaction, naming a
    # table called "foo" at version 1.
    with open(parent / "_TXN", "w") as fh:
        _json.dump({"txn": 9, "tables": {"foo": 1}}, fh)
    # A STANDALONE table that happens to live at shared/foo.
    table = VersionedParquetTable(str(parent / "foo"))
    table.overwrite(make_df(spark, [("a", 1, "x")]))
    staged = table.stage(make_df(spark, [("a", 2, "staged")]))
    # Without the marker gate, v=1 would classify txn-committed.
    states = dict(version_states(table))
    assert states[1] == "current"
    assert states[staged] == "staged-uncommitted"
    table.abandon(staged)  # must not raise "committed by txn"
    assert staged not in table.versions()
    # And the marker path still works: a REAL txn member stays pinned.
    from openweathermapapi_etl_spark.operators.merge import MultiTableTxn

    txn = MultiTableTxn(str(tmp_path / "txn"))
    member = txn.table("foo")
    txn.commit({"foo": member.stage(make_df(spark, [("m", 1, "t")]))})
    assert dict(version_states(member))[1] == "txn-committed"


def test_inflight_write_dirs_are_invisible_and_claim_never_reopens(
    spark, tmp_path
):
    """Round-8 advisor medium: _write used mode('overwrite'), which
    DELETED the claimed version dir before recreating it — reopening
    the slot for a racing writer. Now snapshots land in a
    writer-private .inflight temp dir renamed INTO the claim. This
    pins the observable invariants: a leftover .inflight dir (crashed
    writer) is invisible to versions()/vacuum/readers, successful
    writes leave no .inflight residue, and a claimed slot stays
    claimed (mkdir fails for a second writer) from claim to commit."""
    table = VersionedParquetTable(str(tmp_path / "t"))
    table.overwrite(make_df(spark, [("a", 1, "x")]))
    # Crash residue: a fake in-flight dir beside the slots.
    os.makedirs(os.path.join(table.root, "v=7.inflight-deadbeef"))
    assert table.versions() == [1]
    table.overwrite(make_df(spark, [("a", 2, "y")]))  # vacuum runs
    assert os.path.isdir(os.path.join(table.root, "v=7.inflight-deadbeef"))
    assert _rows(table.read(spark)) == {("a", 2, "y")}
    # No residue from successful writes.
    leftovers = [
        e for e in os.listdir(table.root)
        if ".inflight-" in e and e != "v=7.inflight-deadbeef"
    ]
    assert leftovers == []
    # The claim survives the whole write: after claim+_write the dir
    # exists (rename landed IN it), so a competitor's mkdir fails.
    slot = table.claim_version()
    table._write(make_df(spark, [("a", 3, "z")]), table._version_dir(slot))
    assert os.path.isdir(table._version_dir(slot))
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        os.mkdir(table._version_dir(slot))
    assert table.claim_version() == slot + 1  # next writer gets a new slot


def test_vacuum_retention_ranks_by_committed_at_not_line_order(
    spark, tmp_path
):
    """Review finding (round 9): _committed_versions ranked retention
    by _HISTORY.jsonl line order, so the same concurrent-writer
    interleaving read_as_of_timestamp guards against could vacuum the
    true second-newest commit while keeping an older one."""
    import json as _json

    table = VersionedParquetTable(str(tmp_path / "t"), retain=2)
    for i in (1, 2, 3):
        table.overwrite(make_df(spark, [("a", i, f"v{i}")]))
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    with open(hist) as fh:
        entries = [_json.loads(line) for line in fh if line.strip()]
    # Force distinct, ordered timestamps, then scramble LINE order:
    # file says [1, 3, 2] while commit time says [1, 2, 3].
    for i, e in enumerate(sorted(entries, key=lambda e: e["version"])):
        e["committed_at"] = 100.0 + i
    with open(hist, "w") as fh:
        for v in (1, 3, 2):
            e = next(x for x in entries if x["version"] == v)
            fh.write(_json.dumps(e) + "\n")
    assert table._committed_versions() == [1, 2, 3]
    assert table._committed_versions(order="file") == [1, 3, 2]
    # And the consumer: a v4 commit with retain=2 must KEEP v3 (the
    # true second-newest — line-order-only ranking vacuumed it) while
    # v1, recent under NEITHER ordering, goes. v2 may survive as the
    # documented conservative cost of pinning the union of both
    # orderings (it is file-order-recent).
    table.overwrite(make_df(spark, [("a", 4, "v4")]))
    assert {3, 4} <= set(table.versions())
    assert 1 not in table.versions()


def test_txn_marker_migrates_on_store_open(spark, tmp_path):
    """Review finding (round 9): stores committed before _TXN_MEMBER
    existed have a _TXN pointer but unmarked members; opening the
    store through MultiTableTxn must re-stamp them or their
    txn-committed versions silently lose vacuum/abandon protection."""
    from openweathermapapi_etl_spark.operators.merge import (
        MultiTableTxn,
        version_states,
    )

    root = str(tmp_path / "txn")
    txn = MultiTableTxn(root)
    member = txn.table("foo")
    txn.commit({"foo": member.stage(make_df(spark, [("m", 1, "t")]))})
    marker = os.path.join(member.root, "_TXN_MEMBER")
    os.remove(marker)  # simulate a pre-marker store
    fresh = VersionedParquetTable(member.root)
    assert dict(version_states(fresh))[1] == "staged-uncommitted"  # unprotected
    MultiTableTxn(root)  # reopening the store migrates the marker...
    assert os.path.isfile(marker)
    assert dict(version_states(fresh))[1] == "txn-committed"  # ...restored


def test_inflight_residue_is_listed_and_abandon_reclaims_it(
    spark, tmp_path
):
    """Review finding (round 9): crashed writers' .inflight-* dirs
    were invisible to every audit and unremovable by any API."""
    table = VersionedParquetTable(str(tmp_path / "t"))
    table.overwrite(make_df(spark, [("a", 1, "x")]))
    slot = table.claim_version()  # a claim whose writer "died"...
    residue = os.path.join(table.root, f"v={slot}.inflight-deadbeef")
    os.makedirs(residue)  # ...after the parquet write, before rename
    assert table.inflight_dirs() == [f"v={slot}.inflight-deadbeef"]
    table.abandon(slot)
    assert table.inflight_dirs() == []
    assert not os.path.isdir(residue)
    assert not os.path.isdir(table._version_dir(slot))


def test_delete_fails_loudly_when_current_version_dir_missing(
    spark, tmp_path
):
    """Review finding (round 9): the empty-table no-op guard must not
    conflate 'empty version' with 'version dir gone from disk' — a
    GDPR delete against a corrupted table must raise, not report a
    successful no-op."""
    import shutil as _shutil

    import pytest as _pytest

    table = VersionedParquetTable(
        str(tmp_path / "t"), partition_by="val"
    )
    table.overwrite(make_df(spark, [("a", 1, "p0")]))
    _shutil.rmtree(table._version_dir(table.current_version()))
    with _pytest.raises(FileNotFoundError, match="not on disk"):
        table.delete(
            spark,
            spark.createDataFrame([("a",)], "k string"),
            keys=["k"],
        )


def test_vacuum_survives_backwards_clock_step(spark, tmp_path):
    """Second-review finding (round 9): committed_at-only ranking made
    a backwards clock step (NTP correction) vacuum the newest-but-one
    snapshot. Retention now pins the union of both orderings."""
    import json as _json

    table = VersionedParquetTable(str(tmp_path / "t"), retain=2)
    for i in (1, 2, 3):
        table.overwrite(make_df(spark, [("a", i, f"v{i}")]))
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    with open(hist) as fh:
        entries = [_json.loads(line) for line in fh if line.strip()]
    # Clock stepped back after v1's commit: file order [1,2,3] is the
    # true commit order, wall clock says [2,3,1].
    ts = {1: 100.0, 2: 95.0, 3: 96.0}
    with open(hist, "w") as fh:
        for e in entries:
            e["committed_at"] = ts[e["version"]]
            fh.write(_json.dumps(e) + "\n")
    table.overwrite(make_df(spark, [("a", 4, "v4")]))
    # v3 (file-order newest-but-one — the snapshot in-flight readers
    # hold) must survive even though wall-clock ranking calls it old.
    assert {3, 4} <= set(table.versions())
    assert 2 not in table.versions()  # recent under NEITHER ordering


def test_txn_store_opens_despite_corrupt_pointer(tmp_path):
    """Second-review finding (round 9): the migration in __init__ made
    a corrupt _TXN file unopenable; it must skip migration and surface
    on current()/read() instead."""
    import pytest as _pytest

    from openweathermapapi_etl_spark.operators.merge import MultiTableTxn

    root = tmp_path / "txn"
    root.mkdir()
    (root / "_TXN").write_text("{not json")
    txn = MultiTableTxn(str(root))  # must not raise
    with _pytest.raises(ValueError):
        txn.current()


def test_txn_migration_skips_bogus_pointer_entries(spark, tmp_path):
    """Second-review finding (round 9): the migration must not stamp
    markers for non-identifier names (path traversal from a corrupt
    pointer) or for versions that were never staged (stale pointer
    naming a coincidental standalone table)."""
    import json as _json

    from openweathermapapi_etl_spark.operators.merge import MultiTableTxn

    root = tmp_path / "shared"
    root.mkdir()
    # A standalone table at shared/foo currently at v=1 only.
    standalone = VersionedParquetTable(str(root / "foo"))
    standalone.overwrite(make_df(spark, [("a", 1, "x")]))
    # Stale pointer: names foo at a version that DOESN'T exist, plus a
    # traversal-shaped name.
    with open(root / "_TXN", "w") as fh:
        _json.dump({"txn": 1, "tables": {"foo": 99, "..": 1}}, fh)
    MultiTableTxn(str(root))
    assert not os.path.exists(root / "foo" / "_TXN_MEMBER")
    assert not os.path.exists(root.parent / "_TXN_MEMBER")


def test_delete_after_mor_emptied_all_commits_once(spark, tmp_path):
    """Second-review finding (round 9): when the tombstone fold empties
    the table, delete() must stop at the fold's version instead of
    committing a second content-identical empty version."""
    table = VersionedParquetTable(
        str(tmp_path / "t"), partition_by="val", retain=10
    )
    table.overwrite(make_df(spark, [("k1", 0, "p0"), ("k2", 0, "p1")]))
    table.delete_mor(
        spark,
        spark.createDataFrame([("k1",), ("k2",)], "k string"),
        keys=["k"],
    )  # v2: tombstones cover every row
    v = table.delete(
        spark, spark.createDataFrame([("k1",)], "k string"), keys=["k"]
    )
    assert v == 3  # the fold's commit — no phantom v4
    assert table.current_version() == 3
    assert table.read(spark).count() == 0


def test_pointer_swung_but_history_unlogged_self_heals(spark, tmp_path):
    """Crash-point audit: a writer dying between the pointer swing and
    the history append leaves _VERSION at vN with no vN history line.
    The table must stay fully usable AND self-repair: reads serve vN
    immediately, the NEXT commit back-fills the missing history line
    with the pointer's own committed_at (so M26 timestamp travel
    resolves vN at its true commit time), and vacuum then reclaims vN
    on the normal retention schedule. Scope (r10 review): the heal
    sees only the CURRENT pointer, so it closes the single-writer
    crash; a swing a concurrent competitor overwrote before any heal
    ran is NOT healable from the pointer and is instead surfaced as
    an unlogged-orphan by version_states (pinned below)."""
    import json as _json

    table = VersionedParquetTable(str(tmp_path / "t"), retain=2)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    with open(os.path.join(table.root, "_VERSION")) as fh:
        t2 = _json.load(fh)["committed_at"]  # v2's true commit time
    # Simulate the crash: drop v2's history line (pointer already at 2).
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    with open(hist) as fh:
        lines = fh.readlines()
    with open(hist, "w") as fh:
        fh.writelines(lines[:-1])
    assert table.current_version() == 2
    assert _rows(table.read(spark)) == {("a", 2, "v2")}
    # Unhealed, timestamp travel at t2 resolves the WRONG version (v1).
    assert _rows(table.read_as_of_timestamp(spark, t2)) == {("a", 1, "v1")}
    # The next commit heals: v2's line is back with its ORIGINAL time.
    table.overwrite(make_df(spark, [("a", 3, "v3")]))
    with open(hist) as fh:
        entries = [_json.loads(ln) for ln in fh if ln.strip()]
    assert {"version": 2, "committed_at": t2} in entries
    assert _rows(table.read_as_of_timestamp(spark, t2)) == {("a", 2, "v2")}
    # And once healed, v2 ages out of retention like any other version.
    table.overwrite(make_df(spark, [("a", 4, "v4")]))
    table.overwrite(make_df(spark, [("a", 5, "v5")]))
    assert _rows(table.read(spark)) == {("a", 5, "v5")}
    assert 2 not in table.versions()  # vacuumed normally, not leaked


def test_overwritten_unlogged_swing_surfaces_as_orphan(spark, tmp_path):
    """The multi-writer gap the pointer-based heal CANNOT close (r10
    review): writer B's swing to vN landed but its history append
    never ran, then writer A committed vN+1 over it — the pointer no
    longer names vN, so no future heal sees it. The table must not
    pretend otherwise: vN stays out of timestamp travel, vacuum never
    silently deletes it (on disk it is indistinguishable from a live
    OCC claim), version_states surfaces it as unlogged-orphan, and
    abandon() is the explicit reclamation path."""
    from openweathermapapi_etl_spark.operators.merge import version_states

    table = VersionedParquetTable(str(tmp_path / "t"), retain=2)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    table.overwrite(make_df(spark, [("a", 3, "v3")]))
    # Simulate: v2's swing was never logged and v3 overwrote it.
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    with open(hist) as fh:
        lines = [ln for ln in fh if '"version": 2' not in ln]
    with open(hist, "w") as fh:
        fh.writelines(lines)
    states = dict(version_states(table))
    assert states[2] == "unlogged-orphan"
    assert states[3] == "current"
    # Subsequent commits neither heal it (pointer moved past) nor
    # vacuum it (never logged => never in the removable set).
    table.overwrite(make_df(spark, [("a", 4, "v4")]))
    table.overwrite(make_df(spark, [("a", 5, "v5")]))
    assert 2 in table.versions()
    assert dict(version_states(table))[2] == "unlogged-orphan"
    # Explicit reclamation once the writer is confirmed dead.
    table.abandon(2)
    assert 2 not in table.versions()


def test_branch_pinned_version_classified_not_retained(spark, tmp_path):
    """A branch's head/base must classify as branch-pinned, not
    retained: 'retained' invites retention-based cleanup reasoning,
    but a branch reference is live state vacuum already pins."""
    from openweathermapapi_etl_spark.operators.merge import version_states

    table = VersionedParquetTable(str(tmp_path / "t"), retain=1)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    table.create_branch("exp")  # head = base = v2
    table.overwrite(make_df(spark, [("a", 3, "v3")]))
    states = dict(version_states(table))
    assert states[2] == "branch-pinned"
    assert states[3] == "current"


def test_abandon_refuses_branch_pinned_version(spark, tmp_path):
    """abandon() must guard branch heads/bases like it guards current
    and txn-pinned versions (r10 review): version_states now reports
    branch-pinned as a first-class state, and the documented
    'abandon once the writer is dead' reclamation path must not be
    able to delete a live branch's only snapshot."""
    import pytest as _pytest

    table = VersionedParquetTable(str(tmp_path / "t"), retain=5)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    table.create_branch("exp")  # head = base = v2
    table.overwrite(make_df(spark, [("a", 3, "v3")]))
    with _pytest.raises(ValueError, match="branch"):
        table.abandon(2)
    table.delete_branch("exp")
    table.abandon(2)  # unpinned once the branch is gone
    assert 2 not in table.versions()


def test_non_dict_control_files_degrade_not_crash(spark, tmp_path):
    """A control file whose JSON parses to a NON-DICT (a bare list —
    e.g. a foreign tool's output landing on the pointer path) must
    degrade exactly like unparseable JSON: current_version -> None,
    layout -> sentinel fallback. Subscripting a list with a string
    key raises TypeError, which the except tuples now include."""
    table = VersionedParquetTable(str(tmp_path / "t"), retain=2)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    with open(os.path.join(table.root, "_VERSION"), "w") as fh:
        fh.write("[1, 2]")
    assert table.current_version() is None  # same as unparseable
    with open(table._layout_path(1), "w") as fh:
        fh.write('["not", "a", "layout"]')
    assert table._persisted_layout(1) is table._NO_LAYOUT


def test_corrupt_txn_value_never_crashes_audit_or_vacuum(spark, tmp_path):
    """_txn_pinned_versions tolerance for a CORRUPT version value
    ('abc', a list) in the parent _TXN pointer — the int() used to
    run outside the except and crash every vacuum and audit; a
    damaged control file must degrade to 'pins nothing', same as a
    torn branch ref."""
    import json as _json

    from openweathermapapi_etl_spark.operators.merge import version_states

    root = str(tmp_path / "t")
    table = VersionedParquetTable(root, retain=2)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    open(os.path.join(root, "_TXN_MEMBER"), "w").close()
    with open(os.path.join(str(tmp_path), "_TXN"), "w") as fh:
        _json.dump({"tables": {"t": "not-a-version"}}, fh)
    assert table._txn_pinned_versions() == set()
    states = dict(version_states(table))  # audit survives
    assert states[1] == "current"
    table.overwrite(make_df(spark, [("a", 2, "v2")]))  # commit + vacuum
    assert _rows(table.read(spark)) == {("a", 2, "v2")}


def test_corrupt_or_vanishing_branch_ref_never_crashes_audit_or_vacuum(
    spark, tmp_path
):
    """_branch_pinned_versions tolerance pin (r10 review): a branch
    ref that is unparseable (torn write) or missing expected keys —
    the on-disk shapes a delete/rewrite race exposes — must pin
    nothing rather than crash version_states or the vacuum inside
    every commit. The intact branch alongside keeps pinning."""
    from openweathermapapi_etl_spark.operators.merge import version_states

    table = VersionedParquetTable(str(tmp_path / "t"), retain=1)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    table.create_branch("good")  # head = base = v2
    with open(os.path.join(table.root, "_BRANCH_torn"), "w") as fh:
        fh.write('{"head": 2, "ba')  # writer died mid-write
    with open(os.path.join(table.root, "_BRANCH_nokeys"), "w") as fh:
        fh.write('{"note": "not a ref"}')
    # Audit survives and still reports the intact branch's pin.
    states = dict(version_states(table))
    table.overwrite(make_df(spark, [("a", 3, "v3")]))  # commit + vacuum
    assert dict(version_states(table))[2] == "branch-pinned"
    assert 2 in table.versions()  # intact ref kept pinning through vacuum
    assert states[2] in ("current", "branch-pinned")


def test_null_committed_at_lines_never_poison_the_log(spark, tmp_path):
    """A hand-repaired pointer or history line carrying an explicit
    null committed_at (key present, value None) must normalize to the
    same 0.0 floor as a MISSING key (r10 review): before, the heal
    back-filled the null verbatim and every later vacuum sort and
    as-of resolution raised TypeError comparing None to float."""
    import json as _json

    table = VersionedParquetTable(str(tmp_path / "t"), retain=5)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    with open(os.path.join(table.root, "_VERSION")) as fh:
        t2 = _json.load(fh)["committed_at"]
    # Null-valued pointer AND a null-valued history line.
    with open(os.path.join(table.root, "_VERSION"), "w") as fh:
        _json.dump({"version": 2, "committed_at": None}, fh)
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    with open(hist, "a") as fh:
        fh.write('{"version": 1, "committed_at": null}\n')
    table._heal_history()
    table._heal_history()  # idempotent, same as the missing-key case
    # Commits, vacuum sorts, and as-of resolution all survive.
    table.overwrite(make_df(spark, [("a", 3, "v3")]))
    assert _rows(table.read(spark)) == {("a", 3, "v3")}
    assert _rows(table.read_as_of_timestamp(spark, t2)) == {("a", 2, "v2")}
    with open(hist) as fh:
        entries = [_json.loads(ln) for ln in fh if ln.strip()]
    assert [
        e for e in entries if e["version"] == 2 and e["committed_at"] == 0.0
    ], "null pointer ts must back-fill as the 0.0 floor"


def test_uncoercible_version_or_ts_degrades_not_wedges(spark, tmp_path):
    """A corrupt pointer value ({"version": "abc"} or a garbage
    committed_at — shapes current_version() already degrades on) must
    NOT be copied verbatim into the append-only log by _heal_history,
    and a hand-edited history line with a non-int version or non-float
    committed_at must cost exactly that one record, never wedge every
    later vacuum / audit / as-of resolution (r10 advice: the unguarded
    int('abc') / str<float sort was a persistent wedge surviving
    pointer repair)."""
    import json as _json

    table = VersionedParquetTable(str(tmp_path / "t"), retain=5)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    with open(os.path.join(table.root, "_VERSION")) as fh:
        good_pointer = fh.read()
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    # 1) Corrupt pointer version: heal must refuse to back-fill it.
    with open(os.path.join(table.root, "_VERSION"), "w") as fh:
        _json.dump({"version": "abc", "committed_at": 123.0}, fh)
    table._heal_history()
    # 2) Corrupt pointer committed_at: same refusal.
    with open(os.path.join(table.root, "_VERSION"), "w") as fh:
        _json.dump({"version": 2, "committed_at": "garbage"}, fh)
    table._heal_history()
    with open(hist) as fh:
        entries = [_json.loads(ln) for ln in fh if ln.strip()]
    assert all(isinstance(e["version"], int) for e in entries)
    assert all(
        isinstance(e.get("committed_at"), float) for e in entries
    ), "a corrupt pointer must never poison the log"
    # 3) Hand-edited log lines with uncoercible values: one lost
    # record each, everything downstream keeps working.
    with open(hist, "a") as fh:
        fh.write('{"version": "abc", "committed_at": 1.0}\n')
        fh.write('{"version": 1, "committed_at": "x"}\n')
    with open(os.path.join(table.root, "_VERSION"), "w") as fh:
        fh.write(good_pointer)  # pointer repaired
    # The wedge claim: post-repair commits, vacuum, audits, and as-of
    # reads must all survive the damaged lines.
    table.overwrite(make_df(spark, [("a", 3, "v3")]))
    assert _rows(table.read(spark)) == {("a", 3, "v3")}
    from openweathermapapi_etl_spark.operators.merge import version_states

    states = dict(version_states(table))
    assert states[3] == "current"
    assert 1 in table._committed_versions()
    # The "x" timestamp floors to 0.0 (same policy as null), so the
    # version stays visible to file-order retention; the "abc" line
    # is skipped entirely.
    assert all(
        isinstance(e["committed_at"], float)
        for e in table._history_entries()
    )


def test_versions_below_log_floor_stay_retained(spark, tmp_path):
    """A lost-and-recreated commit log must not turn the table's
    earlier life into 'orphans' (r10 review): dirs BELOW the oldest
    logged version predate the log itself and are legitimately
    committed, time-travel-readable snapshots — classifying them
    unlogged-orphan would direct an operator to abandon() real data.
    Orphan detection applies only INSIDE the log's coverage, where an
    overwritten unlogged swing always sits between logged
    neighbors."""
    from openweathermapapi_etl_spark.operators.merge import version_states

    table = VersionedParquetTable(str(tmp_path / "t"), retain=10)
    for i in (1, 2, 3, 4):
        table.overwrite(make_df(spark, [("a", i, f"v{i}")]))
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    with open(hist) as fh:
        lines = fh.readlines()
    # Log "lost" and recreated from v3 onward; v2's line also torn
    # out WITHIN the remaining coverage (a real orphan-shaped gap
    # would be between logged neighbors — here there is none below
    # the floor, so everything below v3 must read as retained).
    with open(hist, "w") as fh:
        fh.writelines(ln for ln in lines if '"version": 1' not in ln
                      and '"version": 2' not in ln)
    states = dict(version_states(table))
    assert states[1] == "retained"
    assert states[2] == "retained"
    assert states[3] == "retained"
    assert states[4] == "current"


def test_pointer_without_committed_at_heals_exactly_once(spark, tmp_path):
    """A pointer record lacking committed_at (hand-repaired or foreign
    writer — every reader tolerates the shape) must back-fill ONCE
    with the same 0.0 default the healthy-check compares against. The
    r10 review caught the asymmetry: comparing against None while
    back-filling 0.0 meant every later heal re-appended the line,
    growing the log and permanently ranking that version newest in
    file order (pinning it against vacuum)."""
    import json as _json

    table = VersionedParquetTable(str(tmp_path / "t"), retain=3)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    with open(os.path.join(table.root, "_VERSION"), "w") as fh:
        _json.dump({"version": 2}, fh)  # committed_at lost
    table._heal_history()
    table._heal_history()  # idempotent: second heal is a no-op
    table.overwrite(make_df(spark, [("a", 3, "v3")]))
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    with open(hist) as fh:
        entries = [_json.loads(ln) for ln in fh if ln.strip()]
    backfills = [
        e for e in entries
        if e["version"] == 2 and e["committed_at"] == 0.0
    ]
    assert len(backfills) == 1
    assert [e["version"] for e in entries] == [1, 2, 2, 3]


def test_first_commit_crash_before_any_history_heals(spark, tmp_path):
    """Degenerate heal case: the FIRST writer dies between its pointer
    swing and its history append, so no _HISTORY.jsonl exists at all.
    The next commit must create the log with the crashed v1 back-filled
    as its first line (pointer committed_at preserved), so timestamp
    travel covers the table's whole life."""
    import json as _json

    table = VersionedParquetTable(str(tmp_path / "t"), retain=3)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    os.remove(hist)  # simulate: pointer at v1, log never written
    with open(os.path.join(table.root, "_VERSION")) as fh:
        t1 = _json.load(fh)["committed_at"]
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    with open(hist) as fh:
        entries = [_json.loads(ln) for ln in fh if ln.strip()]
    assert entries[0] == {"version": 1, "committed_at": t1}
    assert [e["version"] for e in entries] == [1, 2]
    assert _rows(table.read_as_of_timestamp(spark, t1)) == {("a", 1, "v1")}


def test_torn_history_tail_isolated_and_healed(spark, tmp_path):
    """The sibling crash point to the unlogged swing: a writer dying
    DURING the history append leaves a torn trailing line (no
    newline). Commits must not wedge on the parse error (r10 review
    catch — _heal_history used to raise JSONDecodeError at the top of
    every _commit); the next append isolates the fragment on its own
    line instead of concatenating onto it, readers skip exactly that
    one record, and because the torn record was the CURRENT pointer's,
    the heal back-fills it with its true commit time."""
    import json as _json

    table = VersionedParquetTable(str(tmp_path / "t"), retain=5)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    with open(os.path.join(table.root, "_VERSION")) as fh:
        t2 = _json.load(fh)["committed_at"]
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    with open(hist) as fh:
        lines = fh.readlines()
    # Tear v2's line mid-write: truncated JSON, no trailing newline.
    with open(hist, "w") as fh:
        fh.writelines(lines[:-1])
        fh.write(lines[-1][: len(lines[-1]) // 2].rstrip("\n"))
    # Reads and time travel survive the torn tail (v2 simply unlogged).
    assert _rows(table.read(spark)) == {("a", 2, "v2")}
    assert _rows(table.read_as_of_timestamp(spark, t2)) == {("a", 1, "v1")}
    # The next commit neither crashes nor garbles: the fragment stays
    # on its own line, v2 is back-filled at its true time, v3 logs.
    table.overwrite(make_df(spark, [("a", 3, "v3")]))
    with open(hist) as fh:
        raw = fh.readlines()
    parsed = []
    for ln in raw:
        try:
            parsed.append(_json.loads(ln))
        except ValueError:
            parsed.append(None)  # exactly one isolated fragment
    assert parsed.count(None) == 1
    good = [e for e in parsed if e]
    assert {"version": 2, "committed_at": t2} in good
    assert [e["version"] for e in good] == [1, 2, 3]
    assert _rows(table.read_as_of_timestamp(spark, t2)) == {("a", 2, "v2")}


def test_rollback_then_commit_adds_no_spurious_heal_line(spark, tmp_path):
    """Rollback must stamp its pointer and its history line with ONE
    timestamp: it used to call time.time() twice, so the heal check
    (exact pointer-record match) would treat every rollback as a
    crashed unlogged swing and back-fill a near-duplicate line on the
    next commit. Pin: after overwrite/overwrite/rollback/overwrite the
    log is exactly [1, 2, 1, 3] — one line per actual pointer swing."""
    import json as _json

    table = VersionedParquetTable(str(tmp_path / "t"), retain=5)
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    table.overwrite(make_df(spark, [("a", 2, "v2")]))
    table.rollback(1)
    table.overwrite(make_df(spark, [("a", 3, "v3")]))
    with open(os.path.join(table.root, "_HISTORY.jsonl")) as fh:
        entries = [_json.loads(ln) for ln in fh if ln.strip()]
    assert [e["version"] for e in entries] == [1, 2, 1, 3]


def test_abandon_removes_stale_tombstones_with_the_slot(spark, tmp_path):
    """abandon() must take _DELETES_v{N} WITH the version dir: the
    version counter allocates from max-on-disk, so the freed number is
    reused and a surviving tombstone set would anti-join ITS stale
    keys out of the unrelated future occupant — silent row loss (r11
    review catch)."""
    table = VersionedParquetTable(str(tmp_path / "t"))
    table.overwrite(make_df(spark, [("a", 1, "v1"), ("b", 1, "v1")]))
    # Stage a crashed MOR delete: claimed v2 + _DELETES_v2, no commit.
    staged = table.claim_version()
    os.makedirs(table._deletes_dir(staged), exist_ok=True)
    make_df(spark, [("a", 0, "x")]).select("k").write.mode("overwrite").parquet(
        table._deletes_dir(staged)
    )
    table.abandon(staged)
    assert not os.path.isdir(table._deletes_dir(staged))
    # The reused number's occupant keeps ALL its rows.
    v = table.upsert(spark, make_df(spark, [("c", 1, "v2")]), keys=["k"])
    assert v == staged, "freed number should be reused (max-on-disk)"
    assert {r.k for r in table.read(spark).collect()} == {"a", "b", "c"}


def test_partitioned_ops_handle_null_partition_values(spark, tmp_path):
    """A NULL hive partition (__HIVE_DEFAULT_PARTITION__) must merge
    and delete like any other: the old null-unsafe isin(touched)
    neither rewrote nor re-linked it, so a 1-key delete destroyed
    every other row of the NULL partition (r11 review catch)."""
    table = VersionedParquetTable(str(tmp_path / "tp"), partition_by="val")
    rows = [("a", 1, None), ("b", 1, None), ("c", 1, "x"), ("d", 1, "x")]
    table.overwrite(make_df(spark, rows))
    # Delete one key living in the NULL partition.
    table.delete(spark, make_df(spark, [("a", 1, None)]).select("k"), ["k"])
    got = {(r.k, r.val) for r in table.read(spark).collect()}
    assert got == {("b", None), ("c", "x"), ("d", "x")}, (
        "the NULL partition's other rows must survive a 1-key delete"
    )
    # And upserting INTO the NULL partition merges, not duplicates.
    table.upsert(spark, make_df(spark, [("b", 2, None)]), keys=["k"])
    got = {(r.k, r.ord, r.val) for r in table.read(spark).collect()}
    assert got == {("b", 2, None), ("c", 1, "x"), ("d", 1, "x")}


def test_rollback_refuses_never_committed_slot(spark, tmp_path):
    """rollback to a claimed-but-never-written (or staged-uncommitted)
    version must refuse: the old guards accepted an OCC loser's empty
    slot and the 'successful' restore made every read() raise until
    someone rolled back again (r11 review catch)."""
    import pytest as _pytest

    table = VersionedParquetTable(str(tmp_path / "tr"))
    table.overwrite(make_df(spark, [("a", 1, "v1")]))
    # The OCC loser: claims the next number, dies before writing —
    # an empty dir that was NEVER in the commit log.
    dead = table.claim_version()
    assert dead == 2 and not os.listdir(table._version_dir(dead))
    # A competitor commits past it; current is now above the corpse.
    table.overwrite(make_df(spark, [("a", 3, "v3")]))
    with _pytest.raises(ValueError, match="never committed"):
        table.rollback(dead)
    # A genuinely committed target still restores.
    assert table.rollback(1) == 1
    assert {r.val for r in table.read(spark).collect()} == {"v1"}


def test_clone_to_refuses_non_empty_destination(spark, tmp_path):
    """Cloning onto an existing table must fail loudly — the old
    EEXIST-swallowing link fallback copy2'd OVER the destination's
    committed files, corrupting it in place (r11 review catch)."""
    import pytest as _pytest

    src = VersionedParquetTable(str(tmp_path / "src"))
    src.overwrite(make_df(spark, [("a", 1, "s")]))
    dst = VersionedParquetTable(str(tmp_path / "dst"))
    dst.overwrite(make_df(spark, [("z", 1, "d")]))
    with _pytest.raises(FileExistsError, match="not empty"):
        src.clone_to(str(tmp_path / "dst"))
    # The destination is untouched.
    assert {r.k for r in dst.read(spark).collect()} == {"z"}


def test_merge_branch_cas_rejects_concurrent_main_commit(spark, tmp_path):
    """merge_branch must CAS against the branch base under the commit
    lock: the old hand-rolled check-then-commit could last-write-wins
    over an OCC writer that committed between the check and the swing
    (r11 review catch). Simulated by advancing main after branching."""
    import pytest as _pytest

    table = VersionedParquetTable(str(tmp_path / "tb"))
    table.overwrite(make_df(spark, [("a", 1, "main1")]))
    table.create_branch("exp")
    table.write_branch("exp", make_df(spark, [("a", 2, "branch")]))
    # Concurrent main commit AFTER the branch was cut.
    table.overwrite(make_df(spark, [("a", 3, "main2")]))
    with _pytest.raises(RuntimeError, match="rebase"):
        table.merge_branch("exp")
    # Branch pointer survives the refused merge (delete-after-commit).
    assert table.read_branch(spark, "exp").collect()[0].val == "branch"
    assert table.read(spark).collect()[0].val == "main2"


def test_dedup_tolerates_map_columns_with_order_col(spark):
    """A map-typed payload column must not make the table
    un-upsertable: maps are unorderable and the old tie-break put
    EVERY non-key column in the window ORDER BY (r11 review catch).
    Without order_col and only map payloads, the error is loud."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [("a", 1, {"x": "1"}), ("a", 2, {"x": "2"}), ("b", 1, {"y": "3"})],
        "k string, ord int, attrs map<string,string>",
    )
    out = dedup_last_write_wins(df, ["k"], order_col="ord")
    assert {(r.k, r.ord) for r in out.collect()} == {("a", 2), ("b", 1)}
    maps_only = df.select("k", "attrs")
    with _pytest.raises(ValueError, match="order_col"):
        dedup_last_write_wins(maps_only, ["k"])


# -- file-pruned unpartitioned upsert ----------------------------------------

WX_KEYS = ["Time", "City_Name"]


def _wx(spark, rows):
    return spark.createDataFrame(
        rows, "Time timestamp, City_Name string, Temperature double"
    )


def _wx_rows(table, spark, version=None):
    df = table.read(spark) if version is None else table.read_version(spark, version)
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda r: (r[0] is not None, r[0] or 0, r[1]),
    )


def _t(h):
    return datetime.datetime(2023, 7, 1, h)


SEED = [(_t(h), c, float(h)) for h in range(4) for c in ("A", "B")] + [
    (None, "A", -1.0)
]


@pytest.fixture
def file_pruned(monkeypatch):
    """Every unpartitioned upsert takes the file-pruned path."""
    monkeypatch.setattr(merge_mod, "_FILE_PRUNE_MIN_BYTES", 0)


def _seeded(spark, tmp_path, retain=2):
    table = VersionedParquetTable(str(tmp_path / "wx"), retain=retain)
    table.overwrite(_wx(spark, SEED).repartition(4))  # several data files
    return table


def _linked_files(table) -> set[str]:
    """Data files of the current version that share an inode with an
    older version (hard-linked, not rewritten)."""
    d = table._version_dir(table.current_version())
    return {
        f
        for f in table._data_file_sizes(table.current_version())
        if os.stat(os.path.join(d, f)).st_nlink > 1
    }


def test_file_pruned_upsert_links_untouched_files_and_updates_null_key(
    spark, tmp_path, file_pruned
):
    """A batch holding the NULL-Time key rewrites only the file that
    holds it; the other seed files are hard-linked with their .crc
    siblings. A later batch updates the NULL key again (NULL-safe
    detection and merge): still exactly one NULL-key row."""
    table = _seeded(spark, tmp_path)
    seed_files = set(table._data_file_sizes(table.current_version()))
    assert len(seed_files) == 4
    table.upsert(spark, _wx(spark, [(None, "A", 5.0), (_t(9), "B", 9.0)]), WX_KEYS)
    linked = _linked_files(table)
    assert linked < seed_files and len(linked) == 3
    d = table._version_dir(table.current_version())
    for f in linked:
        if os.path.exists(os.path.join(table._version_dir(1), f".{f}.crc")):
            assert os.stat(os.path.join(d, f".{f}.crc")).st_nlink > 1
    table.upsert(spark, _wx(spark, [(None, "A", 6.0)]), WX_KEYS)
    want = sorted(
        [r for r in SEED if r[0] is not None] + [(_t(9), "B", 9.0)],
        key=lambda r: (r[0], r[1]),
    )
    assert _wx_rows(table, spark) == [(None, "A", 6.0)] + want


def test_file_pruned_upsert_same_key_conflict_and_idempotent_reapply(
    spark, tmp_path, file_pruned
):
    """Same-key conflicts inside one batch resolve last-write-wins by
    ``order_col`` on the pruned path, and re-applying the batch changes
    nothing."""
    table = VersionedParquetTable(str(tmp_path / "kv"))
    table.overwrite(
        make_df(spark, [(k, 0, f"old_{k}") for k in "abcdefgh"]).repartition(4)
    )
    batch = make_df(
        spark, [("b", 1, "first"), ("b", 3, "last"), ("b", 2, "mid"), ("z", 1, "new")]
    )
    want = {(k, 0, f"old_{k}") for k in "acdefgh"} | {
        ("b", 3, "last"),
        ("z", 1, "new"),
    }
    table.upsert(spark, batch, keys=["k"], order_col="ord")
    assert _rows(table.read(spark)) == want
    assert _linked_files(table)  # the pruned path ran
    table.upsert(spark, batch, keys=["k"], order_col="ord")
    assert _rows(table.read(spark)) == want
    assert table.read(spark).count() == len(want)


def test_file_pruned_previous_version_readable_after_source_vacuumed(
    spark, tmp_path, file_pruned
):
    """retain=2: v3's commit vacuums v1, whose files v2 hard-linked.
    v2 stays time-travel readable (links keep the inodes alive)."""
    table = _seeded(spark, tmp_path, retain=2)
    v2 = table.upsert(spark, _wx(spark, [(_t(0), "A", 10.0)]), WX_KEYS)
    v2_rows = _wx_rows(table, spark)
    v3 = table.upsert(spark, _wx(spark, [(_t(1), "B", 11.0)]), WX_KEYS)
    assert 1 not in table.versions() and {v2, v3} <= set(table.versions())
    assert _wx_rows(table, spark, v2) == v2_rows
    assert (_t(1), "B", 11.0) in _wx_rows(table, spark)


def test_file_pruned_failure_before_pointer_swap_keeps_previous_version(
    spark, tmp_path, file_pruned, monkeypatch
):
    """A failure after the data write but before the pointer swap (here:
    linking the untouched files) leaves the previous version current
    and unchanged; the next upsert succeeds."""
    table = _seeded(spark, tmp_path)
    before_version, before = table.current_version(), _wx_rows(table, spark)

    def broken_link(src, dst):
        raise OSError(5, "injected link failure")

    with monkeypatch.context() as m:
        m.setattr(VersionedParquetTable, "_link_file", staticmethod(broken_link))
        with pytest.raises(OSError, match="injected"):
            table.upsert(spark, _wx(spark, [(_t(0), "A", 7.0)]), WX_KEYS)
    assert table.current_version() == before_version
    assert _wx_rows(table, spark) == before
    table.upsert(spark, _wx(spark, [(_t(0), "A", 7.0)]), WX_KEYS)
    assert (_t(0), "A", 7.0) in _wx_rows(table, spark)
    assert len(_wx_rows(table, spark)) == len(before)


def test_file_pruned_upsert_widening_batch_rewrites_whole_table(
    spark, tmp_path, file_pruned
):
    """A batch whose column type is wider than the table's (bigint into
    int) would leave files of two types in one version if its files
    were linked; the pruned path falls back to the whole-table rewrite,
    which widens every file, as below the size cutoff."""
    table = VersionedParquetTable(str(tmp_path / "wide"))
    table.overwrite(make_df(spark, [(k, 0, k) for k in "abcd"]).repartition(2))
    wide = spark.createDataFrame([("a", 2**40, "a2")], "k string, ord bigint, val string")
    table.upsert(spark, wide, keys=["k"])
    assert not _linked_files(table)
    out = table.read(spark)
    assert dict(out.dtypes)["ord"] == "bigint"
    assert _rows(out) == {("a", 2**40, "a2")} | {(k, 0, k) for k in "bcd"}


def test_partitioned_upsert_widening_batch_rewrites_whole_table(spark, tmp_path):
    """The partition-pruned upsert shares the file-pruned path's type
    guard. Linking partition p0's int files beside a rewritten p1 of
    doubles leaves a version the reader rejects (it takes its schema
    from the first partition); the whole table is rewritten instead,
    with the same result as on an unpartitioned table."""
    wide = spark.createDataFrame([("k2", 3.5, "p1")], "k string, ord double, val string")
    got = {}
    for name, partition_by in (("part", "val"), ("flat", None)):
        table = VersionedParquetTable(str(tmp_path / name), partition_by=partition_by)
        table.overwrite(make_df(spark, [("k1", 1, "p0"), ("k2", 2, "p1")]))
        table.upsert(spark, wide, keys=["k"])
        out = table.read(spark).select("k", "ord", "val")
        assert dict(out.dtypes)["ord"] == "double", name
        got[name] = _rows(out)
    assert got["part"] == got["flat"] == {("k1", 1.0, "p0"), ("k2", 3.5, "p1")}


def test_file_pruned_upsert_after_mor_delete_keeps_rows_deleted(
    spark, tmp_path, file_pruned
):
    """Merge-on-read tombstones live beside the version, not in its
    files: linking the untouched files into a version without the side
    file would resurrect the deleted rows. Such a version takes the
    whole-table rewrite."""
    table = _seeded(spark, tmp_path)
    table.delete_mor(spark, _wx(spark, [(_t(2), "A", 0.0)]), WX_KEYS)
    table.upsert(spark, _wx(spark, [(_t(9), "B", 9.0)]), WX_KEYS)
    got = _wx_rows(table, spark)
    assert (_t(2), "A", 2.0) not in got and (_t(9), "B", 9.0) in got
    assert len(got) == len(SEED)


# -- layout from the base version; one planner for plain, OCC and branch -----


def _layout_on_disk(table):
    """(hive partition dirs, sidecar layout) of the current version."""
    v = table.current_version()
    d = table._version_dir(v)
    return sorted(e for e in os.listdir(d) if "=" in e), table._persisted_layout(v)


def _seed_three(spark, root, partition_by):
    table = VersionedParquetTable(root, partition_by=partition_by)
    table.overwrite(make_df(spark, [("k1", 0, "p0"), ("k2", 0, "p1"), ("k3", 0, "p2")]))
    return table


def test_stale_handle_writes_take_layout_from_current_version(spark, tmp_path):
    """A handle opened before another handle relayouted the table must
    write in the relayouted layout. A cached ``partition_by`` made a
    stale partitioned handle link only ``val=`` dirs into an upsert
    (none exist after the relayout, so k2 and k3 vanished), empty the
    table on a delete, and a stale flat handle rewrite a partitioned
    table flat."""
    flat_rows = {("k1", 0, "p0"), ("k2", 0, "p1"), ("k3", 0, "p2")}

    a = _seed_three(spark, str(tmp_path / "up"), "val")
    VersionedParquetTable(a.root).repartition_layout(spark, None)
    a.upsert(spark, make_df(spark, [("k1", 1, "p0")]), keys=["k"])
    assert _rows(a.read(spark).select("k", "ord", "val")) == (
        flat_rows - {("k1", 0, "p0")} | {("k1", 1, "p0")}
    )
    assert _layout_on_disk(a) == ([], None)

    d = _seed_three(spark, str(tmp_path / "del"), "val")
    VersionedParquetTable(d.root).repartition_layout(spark, None)
    d.delete(spark, spark.createDataFrame([("k1",)], "k string"), keys=["k"])
    assert _rows(d.read(spark).select("k", "ord", "val")) == flat_rows - {
        ("k1", 0, "p0")
    }
    assert _layout_on_disk(d) == ([], None)

    f = _seed_three(spark, str(tmp_path / "rev"), None)
    VersionedParquetTable(f.root).repartition_layout(spark, "val")
    f.upsert(spark, make_df(spark, [("k1", 1, "p0")]), keys=["k"])
    assert _rows(f.read(spark).select("k", "ord", "val")) == (
        flat_rows - {("k1", 0, "p0")} | {("k1", 1, "p0")}
    )
    assert _layout_on_disk(f) == (["val=p0", "val=p1", "val=p2"], "val")


_PLANNER_SEED = [(k, 0, f"p{i % 3}") for i, k in enumerate("abcdefgh")]
# Touches partition p1 only: b (existing) and x (new) both map to p1.
_PLANNER_BATCH = [("b", 5, "p1"), ("x", 1, "p1")]


def _data_inodes(table, version):
    d = table._version_dir(version)
    return {
        os.path.relpath(os.path.join(dp, fn), d): os.stat(os.path.join(dp, fn)).st_ino
        for dp, _dirs, fns in os.walk(d)
        for fn in fns
        if fn.endswith(".parquet")
    }


def _linked_from(table, base, new):
    """Data files of version ``new`` that share an inode with the same
    path in version ``base`` (hard-linked, not rewritten)."""
    old = _data_inodes(table, base)
    return {p for p, ino in _data_inodes(table, new).items() if old.get(p) == ino}


@pytest.mark.parametrize("partition_by", [None, "val"])
def test_occ_and_branch_upserts_prune_like_plain_upsert(
    spark, tmp_path, file_pruned, partition_by
):
    """``upsert``, ``upsert_occ`` and ``upsert_branch`` share one planner:
    on the same seed and batch each hard-links the untouched data files
    (unpartitioned) or partitions (``partition_by``) of its base and
    gives the same rows."""
    got = {}
    for mode in ("plain", "occ", "branch"):
        table = VersionedParquetTable(str(tmp_path / mode), partition_by=partition_by)
        base = table.overwrite(make_df(spark, _PLANNER_SEED).repartition(4))
        batch = make_df(spark, _PLANNER_BATCH)
        if mode == "plain":
            new = table.upsert(spark, batch, keys=["k"])
            out = table.read(spark)
        elif mode == "occ":
            new, attempts = table.upsert_occ(spark, batch, keys=["k"])
            assert attempts == 1
            out = table.read(spark)
        else:
            table.create_branch("exp")
            new = table.upsert_branch(spark, "exp", batch, keys=["k"])
            assert table.current_version() == base  # main untouched
            out = table.read_branch(spark, "exp")
        got[mode] = _rows(out.select("k", "ord", "val"))
        base_files = set(_data_inodes(table, base))
        linked = _linked_from(table, base, new)
        if partition_by:
            assert linked == {p for p in base_files if not p.startswith("val=p1")}
            assert linked, mode
        else:
            assert linked and linked < base_files, mode
    assert got["plain"] == got["occ"] == got["branch"] == (
        {r for r in _PLANNER_SEED if r[0] != "b"} | set(_PLANNER_BATCH)
    )


def test_occ_cas_loser_slot_and_links_removed_then_retry_lands_both(
    spark, tmp_path, file_pruned, monkeypatch
):
    """A competitor commits between an OCC attempt's pruned staging and
    its compare-and-swap: the losing slot, hard links included, is
    removed, and the retry merges against the competitor's version so
    both writers' rows land."""
    from openweathermapapi_etl_spark.operators.merge import version_states

    writer = VersionedParquetTable(str(tmp_path / "t"))
    writer.overwrite(make_df(spark, _PLANNER_SEED).repartition(4))
    competitor = VersionedParquetTable(writer.root)
    orig = VersionedParquetTable._stage_upsert
    lost: list[tuple[int, set]] = []

    def racing(self, spark_, base, *args, **kw):
        slot = orig(self, spark_, base, *args, **kw)
        if self is writer and not lost:
            lost.append((slot, _linked_from(self, base, slot)))
            competitor.upsert(spark, make_df(spark, [("c", 7, "C")]), keys=["k"])
        return slot

    monkeypatch.setattr(VersionedParquetTable, "_stage_upsert", racing)
    v, attempts = writer.upsert_occ(spark, make_df(spark, [("a", 9, "W")]), keys=["k"])
    assert attempts == 2
    loser, loser_links = lost[0]
    assert loser_links  # the losing attempt was pruned: it held links
    assert not os.path.exists(writer._version_dir(loser))
    assert loser not in dict(version_states(writer))
    assert not writer.inflight_dirs()
    want = {r for r in _PLANNER_SEED if r[0] not in "ac"} | {("a", 9, "W"), ("c", 7, "C")}
    assert _rows(writer.read(spark)) == want and v == writer.current_version()


def test_occ_on_tombstoned_partitioned_base_commits_one_version(spark, tmp_path):
    """``upsert_occ`` on a partitioned base with merge-on-read tombstones
    takes the whole-table plan instead of plain upsert's fold: each
    successful attempt appends exactly one ``_HISTORY.jsonl`` line, and
    the deleted rows stay deleted."""
    table = VersionedParquetTable(str(tmp_path / "t"), partition_by="val")
    table.overwrite(make_df(spark, _PLANNER_SEED))
    table.delete_mor(spark, spark.createDataFrame([("a",), ("e",)], "k string"), ["k"])
    hist = os.path.join(table.root, "_HISTORY.jsonl")
    for i, batch in enumerate(([("b", 5, "p1")], [("c", 6, "p2"), ("y", 1, "p0")])):
        lines = len(open(hist).readlines())
        v, attempts = table.upsert_occ(spark, make_df(spark, batch), keys=["k"])
        assert attempts == 1 and len(open(hist).readlines()) == lines + 1, i
        assert not os.path.isdir(table._deletes_dir(v))
    want = {r for r in _PLANNER_SEED if r[0] not in "abce"} | {
        ("b", 5, "p1"),
        ("c", 6, "p2"),
        ("y", 1, "p0"),
    }
    assert _rows(table.read(spark).select("k", "ord", "val")) == want


def test_upsert_occ_rejects_zero_retries(spark, tmp_path):
    """``max_retries=0`` allows no attempt: a ``ValueError`` before any
    slot is claimed."""
    table = VersionedParquetTable(str(tmp_path / "t"))
    table.overwrite(make_df(spark, [("a", 1, "x")]))
    with pytest.raises(ValueError, match="max_retries"):
        table.upsert_occ(spark, make_df(spark, [("a", 2, "y")]), keys=["k"], max_retries=0)
    assert table.versions() == [1]
