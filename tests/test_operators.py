"""Unit tests for the custom operators: as-of join edges, dedup family
internals, similarity sanity, text heuristics, multimodal stub."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openweathermapapi_etl_spark.operators.asof import asof_join
from openweathermapapi_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_signature,
    simhash16,
)
from openweathermapapi_etl_spark.operators.multimodal import (
    decode_image_real,
    fake_decode_metadata,
    to_binary_payload,
)
from openweathermapapi_etl_spark.operators.similarity import (
    cosine_topk_bruteforce,
)
from openweathermapapi_etl_spark.operators.text import word_shingles


def ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, minute)


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [Row(k=1, t=ts(10)), Row(k=1, t=ts(30)), Row(k=2, t=ts(5))],
        "k int, t timestamp",
    )
    right = spark.createDataFrame(
        [Row(k=1, t=ts(10), v=1.0), Row(k=1, t=ts(20), v=2.0), Row(k=2, t=ts(9), v=9.0)],
        "k int, t timestamp, v double",
    )
    out = asof_join(left, right, on="k", left_ts="t", right_ts="t", value_cols=["v"])
    got = {(r.k, r.t.minute, r["__asof_v"]) for r in out.collect()}
    # equal ts matches (<=); no preceding right row → NULL
    assert got == {(1, 10, 1.0), (1, 30, 2.0), (2, 5, None)}


def test_word_shingles_short_doc_guard(spark):
    df = spark.createDataFrame([Row(s="one two"), Row(s="a b c d")])
    out = df.select(word_shingles(F.split("s", " "), 3).alias("sh")).collect()
    assert out[0].sh == []
    assert out[1].sh == ["a b c", "b c d"]


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [Row(id=1, t="same"), Row(id=2, t="same"), Row(id=3, t="other")]
    )
    out = {(r.keep_id, r.n_copies) for r in exact_dedup(df, "t", "id").collect()}
    assert out == {(1, 2), (3, 1)}


def test_minhash_identical_docs_identical_signatures(spark):
    df = spark.createDataFrame(
        [Row(id=1, t="the quick brown fox jumps"), Row(id=2, t="the quick brown fox jumps"),
         Row(id=3, t="a completely different sentence here")]
    )
    sig = minhash_signature(df, "t", "id", k=8).collect()
    by_id = {r.id: tuple(r)[1:] for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_simhash_close_for_similar_docs(spark):
    df = spark.createDataFrame(
        [Row(id=1, t="spark query engine for big data processing at scale"),
         Row(id=2, t="spark query engine for big data processing at speed"),
         Row(id=3, t="entirely unrelated words about cooking pasta dishes")]
    )
    sim = {r.id: r.simhash for r in simhash16(df, "t", "id").collect()}

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    assert hamming(sim[1], sim[2]) < hamming(sim[1], sim[3])


def test_cosine_self_neighbor_rank1(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),  # duplicate of 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk_bruteforce(df.filter("vec_id = 0"), df, k=2).collect()
    first = [r for r in out if r.rank == 1][0]
    assert first.neighbor_id == 1 and first.cos_sim == pytest.approx(1.0)


def test_multimodal_stub_and_fake_decode(spark):
    with pytest.raises(NotImplementedError):
        decode_image_real(b"bytes")
    df = spark.createDataFrame([Row(id=1, s="hello world")])
    wrapped = to_binary_payload(df, "s", "id").select(F.col("id"), "payload")
    out = fake_decode_metadata(wrapped, "id").collect()[0]
    assert out.n_bytes == 11
    assert out.width == 11 % 640 and out.height == (11 * 7) % 480


def test_multimodal_null_payload_degrades_not_crashes(spark):
    """A NULL payload (missing blob, failed fetch) must degrade to
    null metadata / null features / zero frames — .map(len) and
    byte-iteration raised TypeError and killed the whole task before
    (r11 review catch)."""
    from openweathermapapi_etl_spark.operators.multimodal import (
        energy_frames,
        fake_feature_extract,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"hello world")), (2, None)],
        "id long, payload binary",
    )
    meta = {r.id: r.n_bytes for r in fake_decode_metadata(df, "id").collect()}
    assert meta == {1: 11, 2: None}
    feats = {r.id: r.features for r in fake_feature_extract(df).collect()}
    assert feats[1] is not None and feats[2] is None
    frames = energy_frames(df, "id", "payload", frame_bytes=4).collect()
    assert all(r.id == 1 for r in frames) and frames


def test_cdc_latest_state_null_op_fails_loudly(spark):
    """A NULL op on a key's latest change must FAIL, not silently
    delete the key (op != 'D' is NULL under three-valued logic — the
    old where() dropped the key exactly as a delete would; r11 review
    catch)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from openweathermapapi_etl_spark.operators.sequences import cdc_latest_state

    ok = spark.createDataFrame(
        [(1, 1, "U"), (1, 2, "D"), (2, 1, "U")], "k long, seq int, op string"
    )
    assert {r.k for r in cdc_latest_state(ok, "k", ["seq"], "op").collect()} == {2}
    bad = spark.createDataFrame(
        [(1, 1, "U"), (1, 2, None)], "k long, seq int, op string"
    )
    with pytest.raises(SparkRuntimeException, match="NULL op"):
        cdc_latest_state(bad, "k", ["seq"], "op").collect()


def test_compaction_plan_null_size_fails_loudly(spark):
    """A file of unknown size cannot be bin-packed: the old plan gave
    it a NULL bin_offset/bin_id and it silently joined no compaction
    bin (r11 review catch)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from openweathermapapi_etl_spark.operators.compaction import compaction_plan

    bad = spark.createDataFrame(
        [("a", 10), ("b", None)], "path string, bytes long"
    )
    with pytest.raises(SparkRuntimeException, match="NULL bytes"):
        compaction_plan(bad, ["path"], "bytes", target_bytes=64).collect()


def test_lsh_short_docs_do_not_bucket_together(spark):
    """Docs too short to shingle (<3 tokens) have NULL signature
    components; the band key must be NULL (not joinable) — concat_ws
    alone would silently drop the NULLs and lump every short doc into
    one giant '' bucket (false candidate pairs + quadratic blowup)."""
    from openweathermapapi_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    df = spark.createDataFrame(
        [(1, "hi"), (2, "yo"), (3, "a b c d e f"), (4, "a b c d e f")],
        ["doc_id", "text"],
    )
    sigs = minhash_signature(df, "text", "doc_id", k=8)
    pairs = lsh_candidate_pairs(sigs, "doc_id", k=8, band_size=2).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(3, 4)}


def test_lsh_max_bucket_drops_hot_buckets(spark):
    from openweathermapapi_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    df = spark.createDataFrame(
        [(i, "same text repeated here often") for i in range(5)],
        ["doc_id", "text"],
    )
    sigs = minhash_signature(df, "text", "doc_id", k=8)
    assert lsh_candidate_pairs(sigs, "doc_id").count() == 10  # C(5,2)
    assert lsh_candidate_pairs(sigs, "doc_id", max_bucket=4).count() == 0


def test_lsh_star_expansion_closure_equivalent(spark):
    """r15 star expansion pin: per bucket, the hub edges (min id →
    each other id) must connect exactly the same node set into exactly
    the same connected components as the full triangle — on a
    duplicate-heavy corpus with multi-bucket overlaps, near-dup
    chains, and a capped-out hot group. Also pins the contracts star
    relies on: id_a < id_b, row count O(B) not O(B^2), and identical
    max_bucket drop decisions."""
    from openweathermapapi_etl_spark.operators.cluster import dedup_clusters
    from openweathermapapi_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    rows = (
        # exact-duplicate group of 6 (over a cap of 5 → dropped in BOTH)
        [(i, "hot boilerplate text shared by the whole group") for i in range(6)]
        # exact-duplicate group of 4 (under cap → one cluster)
        + [(10 + i, "a second duplicated document body here") for i in range(4)]
        # near-dup chain: consecutive docs share most tokens
        + [
            (20, "alpha beta gamma delta epsilon zeta eta"),
            (21, "alpha beta gamma delta epsilon zeta theta"),
            (22, "alpha beta gamma delta epsilon iota theta"),
        ]
        # singletons
        + [(30, "completely unrelated content one"),
           (31, "fully distinct words for the last row")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signature(df, "text", "doc_id", k=8)
    tri = lsh_candidate_pairs(sigs, "doc_id", k=8, band_size=2, max_bucket=5)
    star = lsh_candidate_pairs(
        sigs, "doc_id", k=8, band_size=2, max_bucket=5, expansion="star"
    )
    star_rows = star.collect()
    assert all(r.id_a < r.id_b for r in star_rows)
    assert len(star_rows) <= tri.count()
    # Node sets identical (the solo/universe contracts depend on it).
    def nodes(df_):
        return {v for r in df_.collect() for v in (r.id_a, r.id_b)}
    assert nodes(star) == nodes(tri)
    # Closures identical — clusters, ids, and sizes.
    def clusters(pairs):
        return {
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in dedup_clusters(pairs).collect()
        }
    assert clusters(star) == clusters(tri)


def test_lsh_max_bucket_filters_before_collect(spark):
    """max_bucket must be enforced BEFORE collect_list (round-3 verdict
    Wrong #5): the plan sizes buckets with a window count inside the
    same exchange and filters there, so a hot bucket never materializes
    its id array in an agg buffer. Behavior: the oversized boilerplate
    group vanishes, a within-cap pair survives."""
    import contextlib
    import io

    from openweathermapapi_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    df = spark.createDataFrame(
        [(i, "same boilerplate text repeated verbatim") for i in range(5)]
        + [(10, "another document entirely different words"),
           (11, "another document entirely different words")],
        ["doc_id", "text"],
    )
    sigs = minhash_signature(df, "text", "doc_id", k=8)
    pairs = lsh_candidate_pairs(sigs, "doc_id", k=8, band_size=2, max_bucket=4)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(10, 11)}

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    agg_at, win_at = tree.index("ObjectHashAggregate"), tree.index("Window")
    # Tree prints parents first: the collect_list agg must sit ABOVE the
    # window count, with no exchange between them (same partitioning),
    # and the size filter between the two.
    assert agg_at < win_at, "bucket-size filter must run before collect_list"
    assert "Exchange" not in tree[agg_at:win_at]
    assert "Filter" in tree[agg_at:win_at]


def test_band_rows_rejects_indivisible_k(spark):
    """k % band_size != 0 must raise at plan-build time: the remainder
    components would be silently excluded from banding, so the caller
    gets a narrower signature's recall curve than the (k, band_size)
    they asked for (r11 review catch)."""
    from openweathermapapi_etl_spark.operators.dedup import (
        band_rows,
        minhash_signature,
    )

    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    sigs = minhash_signature(df, "text", "doc_id", k=8)
    with pytest.raises(ValueError, match="not divisible"):
        band_rows(sigs, "doc_id", k=8, band_size=3)


def test_hash_split_null_key_fails_loudly(spark):
    """A NULL split key must FAIL the job, not silently land in 'test':
    the NULL bucket satisfies neither when() branch, so the otherwise
    path concentrated every malformed row in the held-out split —
    contamination invisible until eval time (r11 review catch)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from openweathermapapi_etl_spark.operators.sampling import hash_split

    ok = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    assert hash_split(ok, "doc_id").count() == 2
    bad = spark.createDataFrame([(1,), (None,)], "doc_id int")
    with pytest.raises(SparkRuntimeException, match="NULL doc_id"):
        hash_split(bad, "doc_id").collect()


def test_salted_join_default_salt_spreads_hot_key(spark):
    """The default salt (hash of all big-side columns) must spread a hot
    key's rows across MANY salts — salting on the join key itself would
    give the hot key exactly one salt (zero spread, the round-2 no-op
    bug). Also: result equals the plain join."""
    from openweathermapapi_etl_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [("hot", i) for i in range(200)] + [("cold", 0)], ["k", "payload"]
    )
    small = spark.createDataFrame([("hot", "H"), ("cold", "C")], ["k", "label"])
    out = salted_join(big, small, on="k", n_salts=8, keep_salt=True)
    hot_salts = out.filter("k = 'hot'").select("_salt").distinct().count()
    assert hot_salts > 1, "hot key landed on a single salt: no spread"
    plain = {tuple(r) for r in big.join(small, on="k").collect()}
    assert {tuple(r) for r in out.drop("_salt").collect()} == plain


def test_salted_join_default_salt_skips_map_columns(spark):
    """xxhash64 rejects MapType at analysis time; the all-columns
    default salt must skip map columns instead of failing where an
    explicit salt_on would work (round-3 advisor, low)."""
    from openweathermapapi_etl_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [("a", 1, {"x": "1"}), ("a", 2, {"y": "2"}), ("b", 3, {"z": "3"})],
        "k string, payload int, props map<string,string>",
    )
    small = spark.createDataFrame([("a", "A"), ("b", "B")], ["k", "label"])
    got = {
        (r.k, r.payload, r.label)
        for r in salted_join(big, small, on="k", n_salts=4)
        .select("k", "payload", "label")
        .collect()
    }
    assert got == {("a", 1, "A"), ("a", 2, "A"), ("b", 3, "B")}


def test_salted_join_default_salt_skips_nested_map_columns(spark):
    """Round-4 advisor: xxhash64 also rejects maps NESTED inside
    struct/array columns, so the default-salt guard must walk the full
    type tree — struct<m: map<...>> and array<map<...>> columns are
    skipped, and the surviving scalar column still salts the join."""
    from openweathermapapi_etl_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [("a", 1, ({"x": "1"},), [{"y": "2"}]), ("b", 3, ({"z": "3"},), [])],
        "k string, payload int, "
        "s struct<m: map<string,string>>, am array<map<string,string>>",
    )
    small = spark.createDataFrame([("a", "A"), ("b", "B")], ["k", "label"])
    got = {
        (r.k, r.payload, r.label)
        for r in salted_join(big, small, on="k", n_salts=4)
        .select("k", "payload", "label")
        .collect()
    }
    assert got == {("a", 1, "A"), ("b", 3, "B")}


def test_salted_agg_matches_plain_groupby(spark):
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.skew import salted_sum_count

    df = spark.createDataFrame(
        [("a", i * 1.0) for i in range(100)] + [("b", 7.0)], ["k", "v"]
    )
    out = {
        r.k: (r.sv, r.n_rows)
        for r in salted_sum_count(
            df, ["k"], {"sv": F.col("v")}, n_salts=8, salt_on="v"
        ).collect()
    }
    assert out == {"a": (sum(range(100)) * 1.0, 100), "b": (7.0, 1)}


def test_salted_join_rejects_right_full(spark):
    import pytest

    from openweathermapapi_etl_spark.operators.skew import salted_join

    df = spark.createDataFrame([(1, "x")], ["k", "v"])
    with pytest.raises(ValueError, match="inner.*left"):
        salted_join(df, df, on="k", how="full")


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:
    _doc = st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6
    ).map(" ".join)

    @given(docs=st.lists(_doc, min_size=1, max_size=8))
    @settings(max_examples=8, deadline=None)
    def test_lsh_pairs_match_naive_band_model(spark, docs):
        """The bucket-groupBy pair expansion must equal the naive model:
        (a, b) is a candidate iff some band of their MinHash signatures
        matches exactly (all components non-null)."""
        from openweathermapapi_etl_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signature,
        )

        df = spark.createDataFrame(
            list(enumerate(docs)), ["doc_id", "text"]
        )
        sigs = minhash_signature(df, "text", "doc_id", k=8)
        rows = {r.doc_id: [r[f"m{j}"] for j in range(8)] for r in sigs.collect()}
        expected = set()
        for a in rows:
            for b in rows:
                if a >= b:
                    continue
                for band in range(4):
                    ca = rows[a][band * 2 : band * 2 + 2]
                    cb = rows[b][band * 2 : band * 2 + 2]
                    if None not in ca and ca == cb:
                        expected.add((a, b))
                        break
        got = {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(sigs, "doc_id", k=8, band_size=2).collect()
        }
        assert got == expected


# ---------------------------------------------------------------------------
# global_rank (distributed total-order rank)
# ---------------------------------------------------------------------------


def test_global_rank_matches_single_reducer_window(spark):
    from pyspark.sql import Window

    from openweathermapapi_etl_spark.operators.rank import global_rank

    # Adversarial input: keys arrive shuffled across many partitions.
    df = (
        spark.range(0, 5000)
        .withColumn("key", (F.col("id") * 2654435761) % 100003)
        .repartition(16)
        .select("key")
        .distinct()
    )
    got = {
        r["key"]: r["rnk"]
        for r in global_rank(df, ["key"], rank_name="rnk").collect()
    }
    want = {
        r["key"]: r["rnk"]
        for r in df.withColumn(
            "rnk", F.row_number().over(Window.orderBy("key"))
        ).collect()
    }
    assert got == want


def test_global_rank_is_dense_and_respects_num_partitions(spark):
    from openweathermapapi_etl_spark.operators.rank import global_rank

    df = spark.range(0, 1000).withColumnRenamed("id", "key")
    out = global_rank(df, ["key"], rank_name="rnk", num_partitions=7)
    ranks = sorted(r["rnk"] for r in out.collect())
    assert ranks == list(range(1, 1001))


def test_global_rank_plan_is_one_data_exchange(spark):
    """The point of the operator, pinned: (1) never a SinglePartition
    exchange (the naive global window's shape); (2) exactly ONE data
    shuffle — the range repartition. The local rank must NOT cost a
    second Exchange(hashpartitioning(_pid)) (the Window.partitionBy
    formulation does), and the offset join must broadcast."""
    import contextlib
    import io
    import re

    from openweathermapapi_etl_spark.operators.rank import global_rank

    # pin=False: localCheckpoint truncates lineage, which would hide
    # the shuffle shape this test exists to pin.
    df = spark.range(0, 10000).withColumnRenamed("id", "key")
    out = global_rank(df, ["key"], rank_name="rnk", pin=False)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    assert "SinglePartition" not in tree
    # \bExchange\b does not match BroadcastExchange (word boundary).
    assert len(re.findall(r"\bExchange\b", tree)) <= 1
    assert "BroadcastExchange" in tree


def test_prefix_sum_matches_single_reducer_window(spark):
    from pyspark.sql import Window

    from openweathermapapi_etl_spark.operators.rank import prefix_sum

    df = (
        spark.range(0, 3000)
        .withColumn("key", (F.col("id") * 48271) % 9973)
        .withColumn("v", (F.col("id") % 7) + 1)
        .repartition(16)
        .select("key", "v")
        .dropDuplicates(["key"])
    )
    got = {
        r["key"]: r["cum"]
        for r in prefix_sum(df, ["key"], "v", out_col="cum").collect()
    }
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r["key"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_prefix_sum_null_rule_is_global_not_partition_local(spark):
    """SQL's SUM-over-frame null rule is GLOBAL: a row is null only
    before the first non-null value of the WHOLE frame. With many
    range partitions, a partition whose prefix is all-null must show
    the carried offset from earlier partitions, not null (r11 review
    catch — the old `_offset + _local_cum` nulled such rows). Also:
    leading nulls before any value anywhere stay null."""
    from pyspark.sql import Window

    from openweathermapapi_etl_spark.operators.rank import prefix_sum

    rows = [(0, None), (1, 5), (2, None), (3, None), (4, 7), (5, None)]
    df = spark.createDataFrame(rows, "key long, v long").repartition(4)
    # More partitions than rows: some range partitions start with (or
    # are entirely) nulls, exercising every carry path.
    got = {
        r["key"]: r["cum"]
        for r in prefix_sum(
            df, ["key"], "v", out_col="cum", num_partitions=6
        ).collect()
    }
    w = Window.orderBy("key").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["key"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want  # {0: None, 1: 5, 2: 5, 3: 5, 4: 12, 5: 12}


def test_prefix_sum_nulls_do_not_degrade_big_ints_to_float(spark):
    """A null anywhere in an integral column makes Arrow→pandas
    deliver float64, and the old fillna(0).astype('int64') round-trip
    silently lost low bits above 2^53 (r11 review catch). Values near
    2^60 with interleaved nulls must come back bit-exact."""
    from openweathermapapi_etl_spark.operators.rank import prefix_sum

    big = (1 << 60) + 1
    rows = [(0, big), (1, None), (2, 1), (3, big)]
    df = spark.createDataFrame(rows, "key long, v long")
    out = prefix_sum(df, ["key"], "v", out_col="cum", num_partitions=3).collect()
    got = {r["key"]: r["cum"] for r in out}
    assert got == {0: big, 1: big, 2: big + 1, 3: 2 * big + 1}
    # The PASSTHROUGH lane too: v itself (and any other integral
    # payload column) crosses the Arrow boundary and must come back
    # bit-exact even in the partition that contains the null.
    assert {r["key"]: r["v"] for r in out} == {0: big, 1: None, 2: 1, 3: big}


def test_events_ts_loads_as_timestamp_regardless_of_parquet_flavor(spark, sf_dir):
    """The driver regenerates testdata between rounds and has shipped
    events.ts as TIMESTAMP(NANOS) (round ≤4) and as micros
    TIMESTAMP_NTZ (round 5). load_table normalizes BOTH to
    TimestampType — NTZ would reject CAST(ts AS DOUBLE) in the
    replay-split queries and diverge from the streaming schema."""
    from pyspark.sql.types import TimestampType

    from openweathermapapi_etl_spark.catalog import load_table

    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)


def test_zorder_tiles_bound_both_dimensions(spark, sf_dir):
    """B4d's skipping property, asserted: every z-prefix tile confines
    BOTH x and y to 64-wide bands (span <= 63 of 255) — single-column
    range layout can only ever bound its own column."""
    from openweathermapapi_etl_spark.plans import QUERIES

    rows = QUERIES["b04_zorder_layout"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["x_max"] - r["x_min"] <= 63
        assert r["y_max"] - r["y_min"] <= 63


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP_OPS = True
except ImportError:  # pragma: no cover
    _HAVE_HYP_OPS = False


if _HAVE_HYP_OPS:

    @given(
        vals=st.lists(
            st.tuples(st.integers(0, 10_000), st.integers(1, 9)),
            min_size=1,
            max_size=40,
            unique_by=lambda t: t[0],
        ),
        nparts=st.integers(min_value=1, max_value=5),
    )
    @settings(max_examples=10, deadline=None)
    def test_rank_and_prefix_sum_match_python_model(spark, vals, nparts):
        """global_rank and prefix_sum over arbitrary key/value sets and
        partition counts must equal sorted-list rank / itertools
        cumsum — including single-partition and more-partitions-than-
        rows edges."""
        import itertools

        from openweathermapapi_etl_spark.operators.rank import (
            global_rank,
            prefix_sum,
        )

        df = spark.createDataFrame(vals, "key long, v long").repartition(3)
        ranked = {
            r["key"]: r["rnk"]
            for r in global_rank(
                df, ["key"], rank_name="rnk", num_partitions=nparts
            ).collect()
        }
        ordered = sorted(vals)
        assert ranked == {k: i + 1 for i, (k, _) in enumerate(ordered)}

        cums = {
            r["key"]: r["cum"]
            for r in prefix_sum(
                df, ["key"], "v", out_col="cum", num_partitions=nparts
            ).collect()
        }
        want = dict(
            zip(
                [k for k, _ in ordered],
                itertools.accumulate(v for _, v in ordered),
            )
        )
        assert cums == want


def test_observe_metrics_fill_on_same_pass(spark):
    # B62's contract: the observation fills from the SAME action that
    # computes the result (no second scan), and the observed values
    # equal independently computed truth.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    obs = Observation("quality")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
    )
    result = observed.groupBy("l_returnflag").count().collect()
    truth_rows = li.count()
    truth_nulls = li.filter(F.col("l_quantity").isNull()).count()
    got = obs.get
    assert got["rows_seen"] == truth_rows
    assert got["null_qty"] == truth_nulls
    assert sum(r["count"] for r in result) == truth_rows


def test_union_by_name_aligns_drifted_column_order(spark):
    # Positional union would cross-wire these; by-name must not.
    a = spark.createDataFrame([(1, "x")], "id int, name string")
    b = spark.createDataFrame([("y", 2)], "name string, id int")
    rows = sorted(
        (r["id"], r["name"])
        for r in a.unionByName(b, allowMissingColumns=True).collect()
    )
    assert rows == [(1, "x"), (2, "y")]


def test_xor_fold_matches_reference_loop_all_pad_residues():
    """r15 resume pin: the halving-fold spelling of xor_fold must be
    value-identical to the original per-4-byte loop — the checksum is
    a FORMAT contract (stored in every record trailer), so a changed
    value would break every existing shard. Covers all four pad
    residues, the empty payload, single-lane payloads, and large
    multi-halving widths."""
    import random

    from openweathermapapi_etl_spark.sources.tfrecord import xor_fold

    def ref(payload: bytes) -> int:
        acc = 0
        for i in range(0, len(payload), 4):
            acc ^= int.from_bytes(
                payload[i : i + 4].ljust(4, b"\0"), "little"
            )
        return acc

    rng = random.Random(7)
    lengths = list(range(0, 40)) + [127, 128, 129, 130, 500, 4096, 10001]
    for n in lengths:
        for _ in range(3):
            b = rng.randbytes(n)
            assert xor_fold(b) == ref(b), n


def test_tfrecord_lite_roundtrip_and_corruption_raises(tmp_path):
    import pytest as _pytest

    from openweathermapapi_etl_spark.sources.tfrecord import (
        read_records,
        write_records,
    )

    path = str(tmp_path / "shard-0.tfr")
    rows = [(1, "hello world"), (2, ""), (3, "x" * 1000)]
    assert write_records(path, iter(rows)) == 3
    assert list(read_records(path)) == rows
    # Flip one payload byte: the checksum must catch it, with offset.
    data = bytearray(open(path, "rb").read())
    data[6] ^= 0xFF
    open(path, "wb").write(bytes(data))
    with _pytest.raises(IOError, match="checksum mismatch"):
        list(read_records(path))
    # Truncate mid-record: loud, not a silent partial yield.
    open(path, "wb").write(bytes(data[:10]))
    with _pytest.raises(IOError, match="truncated"):
        list(read_records(path))


def test_tfrecord_sequential_and_random_access_raise_identical_errors(tmp_path):
    """Sequential and random-access reads share one frame parser: for
    each corruption of the second record, ``read_records`` and
    ``read_record_at`` at that record's offset raise the same message,
    naming the same file and offset."""
    import pytest as _pytest

    from openweathermapapi_etl_spark.sources.tfrecord import (
        read_record_at,
        read_records,
        write_records_indexed,
    )

    path = str(tmp_path / "shard-e.tfr")
    index = write_records_indexed(path, iter([(1, "hello world"), (2, "x" * 100)]))
    off = index[1][1]
    good = open(path, "rb").read()
    flipped = bytearray(good)
    flipped[off + 6] ^= 0xFF
    corruptions = {
        "checksum mismatch": bytes(flipped),
        "truncated length header": good[: off + 2],
        "truncated record": good[:-2],
    }
    for what, data in corruptions.items():
        open(path, "wb").write(data)
        with _pytest.raises(IOError) as seq:
            list(read_records(path))
        with _pytest.raises(IOError) as at:
            read_record_at(path, off)
        assert str(seq.value) == str(at.value), what
        assert str(seq.value).startswith(f"{path}: {what} at offset {off}")


def test_tfrecord_random_access_bad_offset_names_file_and_offset(tmp_path):
    """A stale/garbage offset (index sidecar paired with the wrong
    shard) must raise with file+offset context, not a bare
    struct.error from a short read (r12 review catch)."""
    import pytest as _pytest

    from openweathermapapi_etl_spark.sources.tfrecord import (
        read_record_at,
        read_records_at,
        write_records_indexed,
    )

    path = str(tmp_path / "shard-ra.tfr")
    index = write_records_indexed(path, iter([(7, "abc"), (8, "defgh")]))
    # good offsets still round-trip (single and batched)
    assert read_record_at(path, index[1][1]) == (8, "defgh")
    assert read_records_at(path, [off for _, off in index]) == [
        (7, "abc"),
        (8, "defgh"),
    ]
    size = len(open(path, "rb").read())
    # offset at EOF: truncated header, named loudly
    with _pytest.raises(IOError, match=rf"truncated length header at offset {size}"):
        read_record_at(path, size)
    # offset 2 bytes before EOF: short header read, still named
    with _pytest.raises(IOError, match="truncated"):
        read_records_at(path, [size - 2])
    # offset into the middle of a payload: garbage length -> truncated
    # record or checksum mismatch, never a silent/garbled row
    with _pytest.raises(IOError, match="truncated record|checksum mismatch"):
        read_record_at(path, index[0][1] + 5)
