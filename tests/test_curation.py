"""Unit tests for the corpus-curation operators (operators/cluster.py,
operators/sampling.py, the text.py repetition/PII additions, and
similarity.label_centroids) on hand-built inputs where the expected
output is known exactly. The oracle suite (test_queries_oracle.py)
covers the same operators end-to-end on the testdata corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openweathermapapi_etl_spark.operators.cluster import (
    connected_components,
    connected_components_star,
    dedup_clusters,
)
from openweathermapapi_etl_spark.operators.sampling import (
    hash_split,
    mixture_expand,
    stratified_sample,
)
from openweathermapapi_etl_spark.operators.similarity import label_centroids
from openweathermapapi_etl_spark.operators.text import (
    ngram_repetition_stats,
    pii_counts,
    redact_pii,
)


# ---------------------------------------------------------------------------
# connected components / dedup clusters
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a bigint, id_b bigint")


def test_components_chain_cycle_and_pair(spark):
    # chain 1-2-3 (diameter 2), isolated pair 10-11, cycle 20-21-22-20.
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)])
    got = {
        (r.node, r.label) for r in connected_components(e).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_components_long_chain_needs_diameter_rounds(spark):
    # 0-1-2-...-9: min label must walk the whole chain (worst case for
    # min-label propagation) — proves the loop iterates past round 1.
    e = _edges(spark, [(i, i + 1) for i in range(9)])
    got = {(r.node, r.label) for r in connected_components(e).collect()}
    assert got == {(i, 0) for i in range(10)}


def test_components_raise_rather_than_emit_half_merged(spark):
    # max_iter too small for the diameter → loud failure, never a
    # silently wrong half-merged labeling.
    e = _edges(spark, [(i, i + 1) for i in range(9)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iter=2)


def test_components_odd_diameter_converges_one_iteration_early(spark):
    # r15 probe pin: the change-flag probe detects the fixpoint at hop
    # d+1, i.e. iteration ceil((d+1)/2). A diameter-5 chain (0-..-5)
    # therefore converges within max_iter=3 — the r14 cross-iteration
    # sum compare needed a 4th iteration (two more edge-list hops) to
    # see an unchanged sum. Failing here means the probe regressed to
    # late detection.
    e = _edges(spark, [(i, i + 1) for i in range(5)])
    got = {
        (r.node, r.label)
        for r in connected_components(e, max_iter=3).collect()
    }
    assert got == {(i, 0) for i in range(6)}


def test_dedup_clusters_sizes_and_survivors(spark):
    e = _edges(spark, [(5, 3), (3, 7), (100, 101)])
    rows = {r.doc_id: (r.cluster_id, r.cluster_size)
            for r in dedup_clusters(e).collect()}
    assert rows == {
        3: (3, 3), 5: (3, 3), 7: (3, 3),
        100: (100, 2), 101: (100, 2),
    }
    survivors = {d for d, (c, _n) in rows.items() if d == c}
    assert survivors == {3, 100}


# ---------------------------------------------------------------------------
# alternating-star connected components (the O(log n) fallback)
# ---------------------------------------------------------------------------


def test_star_components_chain_cycle_and_pair(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)])
    got = {(r.node, r.label) for r in connected_components_star(e).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_star_components_long_chain_in_log_rounds(spark):
    # 0-1-...-64: diameter 64, so min-label would need 64 rounds —
    # alternating star must finish inside max_iter=12 (~log₂ 64 + slack),
    # which is the whole point of the fallback.
    e = _edges(spark, [(i, i + 1) for i in range(64)])
    got = {(r.node, r.label)
           for r in connected_components_star(e, max_iter=12).collect()}
    assert got == {(i, 0) for i in range(65)}


def test_star_components_raise_rather_than_emit_half_merged(spark):
    e = _edges(spark, [(i, i + 1) for i in range(64)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(e, max_iter=1)


def test_star_components_self_loops_and_duplicate_edges(spark):
    # self loops dropped, duplicate + reversed edges collapse.
    e = _edges(spark, [(4, 4), (1, 2), (2, 1), (1, 2), (3, 3)])
    got = {(r.node, r.label) for r in connected_components_star(e).collect()}
    assert got == {(1, 1), (2, 1)}


def test_dedup_clusters_star_flavor_matches_minlabel(spark):
    e = _edges(spark, [(5, 3), (3, 7), (100, 101), (7, 50), (60, 61)])
    ml = {(r.doc_id, r.cluster_id, r.cluster_size)
          for r in dedup_clusters(e).collect()}
    star = {(r.doc_id, r.cluster_id, r.cluster_size)
            for r in dedup_clusters(e, algorithm="star").collect()}
    assert ml == star


def test_dedup_clusters_unknown_algorithm_raises(spark):
    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError, match="unknown algorithm"):
        dedup_clusters(e, algorithm="bogus")


# ---------------------------------------------------------------------------
# sampling / splits / mixtures
# ---------------------------------------------------------------------------


def _docs(spark, n=60):
    return spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3]) for i in range(n)], "doc_id bigint, lang string"
    )


def test_hash_split_is_deterministic_and_bounded(spark):
    d = _docs(spark)
    a = {(r.doc_id, r.split_bucket, r.split) for r in hash_split(d, "doc_id").collect()}
    b = {(r.doc_id, r.split_bucket, r.split) for r in hash_split(d, "doc_id").collect()}
    assert a == b  # stable across runs
    for _id, bucket, split in a:
        assert 0 <= bucket < 100
        assert split == ("train" if bucket < 80 else "val" if bucket < 90 else "test")


def test_hash_split_salt_decorrelates(spark):
    d = _docs(spark, n=200)
    a = {r.doc_id: r.split_bucket for r in hash_split(d, "doc_id", salt="s1").collect()}
    b = {r.doc_id: r.split_bucket for r in hash_split(d, "doc_id", salt="s2").collect()}
    assert any(a[i] != b[i] for i in a)  # different salt → different buckets


def test_stratified_sample_exact_n_per_stratum(spark):
    d = _docs(spark)  # 20 docs per lang
    out = stratified_sample(d, ["lang"], n_per_stratum=5, key_col="doc_id")
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r.lang, []).append(r.sample_rank)
    assert set(per) == {"en", "de", "fr"}
    for ranks in per.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]
    again = {(r.doc_id, r.sample_rank) for r in
             stratified_sample(d, ["lang"], 5, "doc_id").collect()}
    assert again == {(r.doc_id, r.sample_rank) for r in rows}  # deterministic


def test_mixture_expand_counts_and_zero_weight_drops(spark):
    d = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id bigint, src string"
    )
    w = (F.when(F.col("src") == "a", 3)
         .when(F.col("src") == "b", 1)
         .otherwise(0))
    rows = mixture_expand(d, w).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(r.copy_no)
    assert got == {1: [0, 1, 2], 2: [0]}  # weight-0 row dropped entirely


# ---------------------------------------------------------------------------
# repetition stats / PII redaction
# ---------------------------------------------------------------------------


def test_repetition_stats_on_crafted_docs(spark):
    d = spark.createDataFrame(
        [
            (1, "a b a b a"),     # 2-grams: ab ba ab ba → all duplicated
            (2, "w x y z"),       # 2-grams: wx xy yz → all unique
            (3, "solo"),          # < 2 tokens → no grams, absent
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in
           ngram_repetition_stats(d, "text", "doc_id", n=2).collect()}
    assert set(out) == {1, 2}
    r1 = out[1]
    assert (r1.n_grams, r1.n_distinct, r1.top_gram_n) == (4, 2, 2)
    assert r1.dup_gram_frac == 1.0
    assert r1.top_gram_token_frac == pytest.approx(2 * 2 / 5)
    r2 = out[2]
    assert (r2.n_grams, r2.n_distinct, r2.top_gram_n) == (3, 3, 1)
    assert r2.dup_gram_frac == 0.0


def test_pii_redaction_masks_and_counts(spark):
    d = spark.createDataFrame(
        [(1, "mail a.b@x.org and b_c@y.example.net or call 555-1234 now"),
         (2, "no pii here")],
        "id bigint, text string",
    )
    out = {r.id: r for r in d.select(
        "id",
        redact_pii(F.col("text")).alias("clean"),
        pii_counts(F.col("text"))[0].alias("ne"),
        pii_counts(F.col("text"))[1].alias("np"),
    ).collect()}
    assert out[1].clean == "mail <EMAIL> and <EMAIL> or call <PHONE> now"
    assert (out[1].ne, out[1].np) == (2, 1)
    assert out[2].clean == "no pii here"
    assert (out[2].ne, out[2].np) == (0, 0)


# ---------------------------------------------------------------------------
# label centroids
# ---------------------------------------------------------------------------


def test_label_centroids_exact_means(spark):
    d = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 6.0]), (1, [10.0, 0.0])],
        "label int, embedding array<float>",
    )
    out = {(r.label, r.dim): (r.centroid_val, r.n_vectors)
           for r in label_centroids(d, "embedding", "label").collect()}
    assert out == {
        (0, 1): (2.0, 2), (0, 2): (4.0, 2),
        (1, 1): (10.0, 1), (1, 2): (0.0, 1),
    }


# ---------------------------------------------------------------------------
# property tests vs Python models
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:
    _edge = st.tuples(
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=11),
    ).filter(lambda e: e[0] != e[1])

    @given(edges=st.lists(_edge, min_size=1, max_size=14))
    @settings(max_examples=8, deadline=None)
    def test_components_match_union_find_model(spark, edges):
        """Min-label propagation must equal a Python union-find on any
        graph shape hypothesis throws at it (self-dedup, multi-edges in
        both orientations, cycles, stars, chains)."""
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {n: find(n) for n in parent}

        df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        got = {r.node: r.label for r in connected_components(df).collect()}
        assert got == expected

    @given(edges=st.lists(_edge, min_size=1, max_size=14))
    @settings(max_examples=8, deadline=None)
    def test_star_components_match_union_find_model(spark, edges):
        """Alternating large-star/small-star must equal the same
        union-find model — identical contract to min-label, different
        round complexity."""
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {n: find(n) for n in parent}

        df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        got = {
            r.node: r.label for r in connected_components_star(df).collect()
        }
        assert got == expected

    _key = st.sampled_from(["a", "b", "c"])
    _val = st.sampled_from(["v1", "v2", None])

    @given(
        snapshots=st.lists(
            st.lists(st.tuples(_key, _val), min_size=0, max_size=3),
            min_size=1,
            max_size=4,
        )
    )
    @settings(max_examples=8, deadline=None)
    def test_scd2_sequential_applies_match_model(spark, snapshots):
        """Applying N snapshots in sequence must equal a Python SCD2
        model: per key, a chain of versions closed at each change, one
        open row max, intervals contiguous. Intra-snapshot duplicate
        keys collapse to the LAST tuple (eff ties break by value desc
        — mirror dedup_last_write_wins's order for a deterministic
        model)."""
        from openweathermapapi_etl_spark.operators.merge import scd2_apply

        # Python model -------------------------------------------------
        hist_model: list[tuple] = []  # (k, val, vfrom, vto, is_current)
        open_row: dict = {}  # k -> (val, vfrom)
        for t_i, snap in enumerate(snapshots):
            eff = 100 + t_i
            # dedup_last_write_wins orders by (eff desc, val desc nulls
            # last): all rows in one snapshot share eff, so the max
            # value wins and a NULL wins only if every duplicate is
            # NULL — mirror that exactly.
            per_key: dict = {}
            for k, v in snap:
                per_key.setdefault(k, []).append(v)
            dedup = {
                k: sorted(
                    vs, key=lambda x: (x is not None, x if x is not None else "")
                )[-1]
                for k, vs in per_key.items()
            }
            for k, v in dedup.items():
                if k in open_row:
                    cur_v, cur_from = open_row[k]
                    if cur_v != v:  # null-safe inequality
                        hist_model.append((k, cur_v, cur_from, eff, False))
                        open_row[k] = (v, eff)
                else:
                    open_row[k] = (v, eff)
        expected = set(hist_model) | {
            (k, v, vf, None, True) for k, (v, vf) in open_row.items()
        }

        # Spark --------------------------------------------------------
        hist = spark.createDataFrame(
            [], "k string, val string, valid_from int, valid_to int, is_current boolean"
        )
        for t_i, snap in enumerate(snapshots):
            upd = spark.createDataFrame(
                [(k, v, 100 + t_i) for k, v in snap],
                "k string, val string, eff int",
            )
            hist = scd2_apply(hist, upd, ["k"], ["val"], "eff")
        got = {tuple(r) for r in hist.collect()}
        assert got == expected
        # invariant: at most one open row per key
        open_counts = {}
        for k, _v, _f, _t, cur in got:
            if cur:
                open_counts[k] = open_counts.get(k, 0) + 1
        assert all(n == 1 for n in open_counts.values())


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def test_sequence_pack_streams_are_contiguous_and_deterministic(spark):
    from openweathermapapi_etl_spark.operators.sampling import sequence_pack

    d = spark.createDataFrame(
        [(i, 10 + (i % 7)) for i in range(100)], "doc_id bigint, n_tokens bigint"
    )
    out = sequence_pack(d, "doc_id", "n_tokens", budget=64, n_shards=4)
    rows = out.collect()
    assert len(rows) == 100
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(4))
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.stream_offset)
        expect = 0
        for r in shard_rows:
            # concat-and-chunk: offsets tile the stream with no gaps
            assert r.stream_offset == expect
            assert r.pack_id == r.stream_offset // 64
            expect += r.n_tokens
    again = {(r.doc_id, r.shard, r.stream_offset, r.pack_id)
             for r in sequence_pack(d, "doc_id", "n_tokens", 64, 4).collect()}
    assert again == {(r.doc_id, r.shard, r.stream_offset, r.pack_id) for r in rows}


def test_group_split_never_splits_a_neardup_pair(spark, sf_dir):
    # The contamination property c07_group_split exists for: no LSH
    # candidate pair may straddle the train/test boundary. Re-derive
    # the pair graph the query uses and check every edge lands in ONE
    # split (c07_hash_split, by contrast, has no such guarantee).
    from openweathermapapi_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )
    from openweathermapapi_etl_spark.plans.curation import c07_group_split

    assign = c07_group_split(spark, sf_dir)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signature(d, "text", "doc_id", k=8, portable=True)
    pairs = lsh_candidate_pairs(sigs, "doc_id", k=8, band_size=2, max_bucket=10_000)
    a = assign.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    b = assign.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    crossers = (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert pairs.count() > 0  # the property must be non-vacuous
    assert crossers.count() == 0
    # and all three splits are actually populated at this corpus size
    assert assign.select("split").distinct().count() == 3


# ---------------------------------------------------------------------------
# empty-input edges
# ---------------------------------------------------------------------------


def test_components_empty_edges_returns_empty(spark):
    e = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert connected_components(e).count() == 0
    assert dedup_clusters(e).count() == 0


def test_scd2_empty_updates_is_identity(spark):
    from openweathermapapi_etl_spark.operators.merge import scd2_apply

    hist = spark.createDataFrame(
        [("a", "v1", 10, None, True), ("a", "v0", 5, 10, False)],
        "k string, val string, valid_from int, valid_to int, is_current boolean",
    )
    upd = spark.createDataFrame([], "k string, val string, eff int")
    got = {tuple(r) for r in scd2_apply(hist, upd, ["k"], ["val"], "eff").collect()}
    assert got == {("a", "v1", 10, None, True), ("a", "v0", 5, 10, False)}


def test_sequence_pack_empty_and_single_row(spark):
    from openweathermapapi_etl_spark.operators.sampling import sequence_pack

    empty = spark.createDataFrame([], "doc_id bigint, n_tokens bigint")
    assert sequence_pack(empty, "doc_id", "n_tokens", 64).count() == 0
    one = spark.createDataFrame([(7, 100)], "doc_id bigint, n_tokens bigint")
    r = sequence_pack(one, "doc_id", "n_tokens", 64).collect()[0]
    assert (r.stream_offset, r.pack_id) == (0, 0)


if _HAVE_HYP:

    @given(edges=st.lists(_edge, min_size=1, max_size=14))
    @settings(max_examples=8, deadline=None)
    def test_kcore_matches_python_peeling_model(spark, edges):
        """Bounded k-core peeling must equal the same bounded rounds in
        pure Python on any graph shape (multi-edges collapse, both
        orientations, chains that peel completely, cliques that don't)."""
        from openweathermapapi_etl_spark.operators.cluster import kcore_peel

        k, rounds = 2, 3
        adj = set()
        for a, b in edges:
            adj.add((a, b))
            adj.add((b, a))
        cur = set(adj)
        for _ in range(rounds):
            deg = {}
            for u, _v in cur:
                deg[u] = deg.get(u, 0) + 1
            keep = {u for u, d in deg.items() if d >= k}
            cur = {(u, v) for u, v in cur if u in keep and v in keep}
        expected = {}
        for u, _v in cur:
            expected[u] = expected.get(u, 0) + 1

        df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        got = {
            r.node: r.degree
            for r in kcore_peel(df, k=k, rounds=rounds).collect()
        }
        assert got == expected

    _code = st.integers(min_value=0, max_value=(1 << 60) - 1)

    @given(codes=st.lists(_code, min_size=2, max_size=12, unique=True))
    @settings(max_examples=8, deadline=None)
    def test_hamming_band_pairs_match_python_model(spark, codes):
        """Banded-Hamming candidate generation + popcount verify must
        equal the brute-force Python model restricted to pairs sharing
        at least one band (the candidate contract), at any distance."""
        from openweathermapapi_etl_spark.operators.dedup import hamming_band_pairs

        nbits, bands, max_dist = 60, 4, 59
        bb = nbits // bands
        mask = (1 << bb) - 1
        rows = list(enumerate(codes))
        expected = {}
        for i, (ia, ca) in enumerate(rows):
            for ib, cb in rows[i + 1:]:
                shares = any(
                    (ca >> (bb * j)) & mask == (cb >> (bb * j)) & mask
                    for j in range(bands)
                )
                d = bin(ca ^ cb).count("1")
                if shares and d <= max_dist:
                    expected[(ia, ib)] = d

        df = spark.createDataFrame(rows, "doc_id bigint, ph bigint")
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in hamming_band_pairs(
                df, "doc_id", "ph", nbits=nbits, bands=bands, max_dist=max_dist
            ).collect()
        }
        assert got == expected


def test_shard_balance_near_equal_weights_and_deterministic(spark):
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.sampling import shard_balance

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "n_chars"
    )
    out = shard_balance(d, "n_chars", n_shards=8)
    w = {
        r.shard: r.total
        for r in out.groupBy("shard")
        .agg(F.sum("n_chars").alias("total"))
        .collect()
    }
    assert set(w) == set(range(8))
    # Serpentine LPT bound: with many groups the shards are near-equal;
    # pin a loose but meaningful envelope.
    assert max(w.values()) <= 1.05 * min(w.values())
    # Deterministic across runs.
    a = sorted((r.doc_id, r.shard) for r in out.collect())
    b = sorted(
        (r.doc_id, r.shard)
        for r in shard_balance(d, "n_chars", n_shards=8).collect()
    )
    assert a == b


def test_incremental_clusters_matches_full_recompute(spark):
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.cluster import (
        dedup_clusters,
        incremental_clusters,
    )

    # Base graph: {1,2,3} and {10,11} are existing clusters.
    base_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    base = dedup_clusters(base_edges)
    # Delta: 20 bridges the two clusters (20-3, 20-10) and 30-31 is a
    # brand-new pair; 2-3 arrives again as a stale duplicate edge.
    new_edges = spark.createDataFrame(
        [(20, 3), (20, 10), (30, 31), (2, 3)], "id_a long, id_b long"
    )
    inc = incremental_clusters(base, new_edges)
    full = dedup_clusters(base_edges.unionAll(new_edges))
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, full.collect())
    )
    got = {r.doc_id: (r.cluster_id, r.cluster_size) for r in inc.collect()}
    # The bridge merges everything reachable into root 1, size 6.
    assert got[20] == (1, 6) and got[11] == (1, 6)
    assert got[30] == (30, 2) and got[31] == (30, 2)


if _HAVE_HYP:

    @given(
        base=st.lists(_edge, min_size=0, max_size=10),
        delta=st.lists(_edge, min_size=1, max_size=8),
    )
    @settings(max_examples=8, deadline=None)
    def test_incremental_clusters_equals_full_cc_on_any_graph(
        spark, base, delta
    ):
        """incremental_clusters(base CC, delta edges) must equal the
        full-graph CC on base ∪ delta for ANY split hypothesis throws
        at it — bridges between base clusters, delta-only components,
        repeated/stale edges, edges landing entirely inside one
        existing cluster (contract to self-loops and must drop)."""
        from openweathermapapi_etl_spark.operators.cluster import (
            dedup_clusters,
            incremental_clusters,
        )

        schema = "id_a long, id_b long"
        base_df = spark.createDataFrame(base, schema) if base else (
            spark.createDataFrame([], schema)
        )
        delta_df = spark.createDataFrame(delta, schema)
        base_cc = dedup_clusters(base_df)
        inc = incremental_clusters(base_cc, delta_df)
        full = dedup_clusters(base_df.unionAll(delta_df))
        assert sorted(map(tuple, inc.collect())) == sorted(
            map(tuple, full.collect())
        )


# ---------------------------------------------------------------------------
# c04_boilerplate_strip_hashkey — hash-keyed rewrite equals text-keyed
# ---------------------------------------------------------------------------


def test_boilerplate_hashkey_rewrite_is_exact(spark):
    """The xxhash64-keyed shuffle (c04_boilerplate_strip_hashkey) must
    reproduce the text-keyed query row for row, and the collision
    premise must hold: every distinct chunk text maps to a distinct
    64-bit hash on this corpus (a collision would silently merge two
    chunks' document frequencies — the one failure mode the rewrite
    admits)."""
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.plans import QUERIES
    from openweathermapapi_etl_spark.operators.text import token_chunks, tokens

    sf_dir = "/root/testdata/sf0.001"
    a = {
        tuple(r)
        for r in QUERIES["c04_boilerplate_strip"](spark, sf_dir).collect()
    }
    b = {
        tuple(r)
        for r in QUERIES["c04_boilerplate_strip_hashkey"](
            spark, sf_dir
        ).collect()
    }
    assert a == b

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = d.select(
        F.explode(token_chunks(tokens("text"), 2, 2)).alias("c")
    ).select(F.array_join(F.col("c.toks"), " ").alias("ctext")).distinct()
    n_text, n_hash = chunks.agg(
        F.count("*"), F.count_distinct(F.xxhash64("ctext"))
    ).first()
    assert n_text == n_hash, f"xxhash64 collision: {n_text} texts, {n_hash} hashes"


def test_source_overlap_hashkey_rewrite_is_exact(spark):
    """The r13 third instance of the hash-key discipline
    (c02_source_overlap_matrix_hashkey): bit-identical output to the
    text-keyed query, and the collision premise holds — every distinct
    4-gram maps to a distinct xxhash64 on this corpus (a collision
    would merge two grams' source sets and inflate `shared`)."""
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.text import tokens
    from openweathermapapi_etl_spark.plans import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    a = {
        tuple(r)
        for r in QUERIES["c02_source_overlap_matrix"](spark, sf_dir).collect()
    }
    b = {
        tuple(r)
        for r in QUERIES["c02_source_overlap_matrix_hashkey"](
            spark, sf_dir
        ).collect()
    }
    assert a == b and a

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tk = tokens("text")
    toks = d.select(tk.alias("tk")).filter(F.size("tk") >= 4)
    gram = F.concat_ws(
        " ",
        F.col("tk")[F.col("pos") - 1],
        F.col("tk")[F.col("pos")],
        F.col("tk")[F.col("pos") + 1],
        F.col("tk")[F.col("pos") + 2],
    )
    grams = toks.select(
        F.explode(F.sequence(F.lit(1), F.size("tk") - 3)).alias("pos"),
        gram.alias("g"),
    ).select("g").distinct()
    n_text, n_hash = grams.agg(
        F.count("*"), F.count_distinct(F.xxhash64("g"))
    ).first()
    assert n_text == n_hash, (
        f"xxhash64 collision: {n_text} grams, {n_hash} hashes"
    )


def test_dedup_corpus_exact_first_equals_banding_first(spark, tmp_path):
    """The r13 stage-order rewrite (exact-dedup before near-dup
    banding, c06_dedup_corpus): on a corpus with an exact-duplicate
    MEGA-CLUSTER, near-dup pairs, and uniques, the surviving corpus
    must equal the banding-first spelling's output exactly — identical
    texts share MinHash signatures and min-id survivorship composes
    across stages. (The reorder exists because the banding-first shape
    fed a C(n,2) same-text clique into CC — 7.0x wall on the zipf
    mega-cluster fixture, SCALE.md "Dedup family".)"""
    import os

    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.cluster import dedup_clusters
    from openweathermapapi_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )
    from openweathermapapi_etl_spark.plans import QUERIES

    boiler = "the same boilerplate page text repeated on every mirror site"
    near_a = "a nearly duplicated article body with shared shingle runs intact"
    near_b = "a nearly duplicated article body with shared shingle runs intact!"
    rows = (
        [(i, boiler, "en", "s1", len(boiler)) for i in range(40)]  # mega
        + [(100, near_a, "en", "s2", len(near_a)),
           (101, near_b, "en", "s2", len(near_b))]
        + [(200 + i, f"unique document number {i} with its own words here",
            "en", "s3", 40) for i in range(5)]
    )
    sf = str(tmp_path / "sf_mega")
    os.makedirs(sf)
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d.write.parquet(os.path.join(sf, "documents.parquet"))

    got = {r.doc_id for r in QUERIES["c06_dedup_corpus"](spark, sf).collect()}

    # The banding-first spelling, reconstructed inline (the pre-r13 shape).
    sigs = minhash_signature(d, "text", "doc_id", k=8, portable=True)
    pairs = lsh_candidate_pairs(sigs, "doc_id", k=8, band_size=2,
                                max_bucket=10_000)
    losers = {
        r.doc_id
        for r in dedup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .collect()
    }
    want = {r[0] for r in rows} - losers
    assert got == want
    # And the mega-cluster really collapsed to its min id.
    assert 0 in got and not any(1 <= i < 40 for i in got)


def test_dedup_corpus_oracle_agrees_above_max_bucket(spark, tmp_path):
    """r14 advisor catch: a banding-first oracle DIVERGES from the
    exact-first code once an exact-duplicate group exceeds
    ``max_bucket`` (10_000) — the oversized band bucket is dropped by
    the cap, so the whole same-text mega-cluster would SURVIVE in the
    oracle while the code's unconditional sha2 collapse removes it.
    The oracle now collapses exact dups first too; this test pins
    query ≡ oracle ON that regime: a 10_050-member same-text group
    (strictly above the cap), plus a near-dup pair and uniques, run
    through BOTH the Spark query and the registered DuckDB oracle."""
    import os

    import duckdb

    from openweathermapapi_etl_spark.plans import ORACLES, QUERIES

    boiler = "the same boilerplate page text repeated on every mirror site"
    near_a = "a nearly duplicated article body with shared shingle runs intact"
    near_b = "a nearly duplicated article body with shared shingle runs intact!"
    n_mega = 10_050  # > max_bucket=10_000
    rows = (
        [(i, boiler, "en", "s1", len(boiler)) for i in range(n_mega)]
        + [(20_000, near_a, "en", "s2", len(near_a)),
           (20_001, near_b, "en", "s2", len(near_b))]
        + [(30_000 + i, txt, "en", "s3", len(txt)) for i, txt in enumerate([
            "quarterly finance report on supplier margins and freight costs",
            "gardening tips for arid climates with drip irrigation notes",
            "open source licensing survey across copyleft and permissive",
            "recipe for sourdough starters using whole rye flour blends",
            "field guide to migratory shorebirds of the northern flyway",
        ])]
    )
    sf = str(tmp_path / "sf_over_cap")
    os.makedirs(sf)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(sf, "documents.parquet"))

    got = {r.doc_id for r in QUERIES["c06_dedup_corpus"](spark, sf).collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'"
    )
    want = {r[0] for r in con.execute(ORACLES["c06_dedup_corpus"]).fetchall()}
    con.close()

    assert got == want
    # The over-cap mega-cluster collapsed to its min id in BOTH engines.
    assert 0 in got and not any(1 <= i < n_mega for i in got)
    # Near-dup pair collapsed; uniques survived.
    assert 20_000 in got and 20_001 not in got
    assert all(30_000 + i in got for i in range(5))


def test_dedup_clusters_compact_equals_classic_below_cap(spark, tmp_path):
    """r14 order #2 composition pin: on a corpus with an exact
    mega-cluster (40 same-text docs), a cross-group near-dup pair, and
    uniques — all texts >= 3 tokens, all exact groups below
    max_bucket — the compact spelling (exact-collapse → band reps →
    CC → join labels back) returns EXACTLY the classic
    dedup_clusters-over-full-banding rows: same members, same min-id
    cluster ids, same member-counted sizes."""
    import os

    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.cluster import dedup_clusters
    from openweathermapapi_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )
    from openweathermapapi_etl_spark.plans import QUERIES

    boiler = "the same boilerplate page text repeated on every mirror site"
    near_a = "a nearly duplicated article body with shared shingle runs intact"
    near_b = "a nearly duplicated article body with shared shingle runs intact!"
    rows = (
        [(i, boiler, "en", "s1", len(boiler)) for i in range(40)]
        + [(100, near_a, "en", "s2", len(near_a)),
           (101, near_b, "en", "s2", len(near_b)),
           (102, near_a, "en", "s2", len(near_a))]  # exact dup of a near-dup
        + [(200 + i, txt, "en", "s3", len(txt)) for i, txt in enumerate([
            "quarterly finance report on supplier margins and freight costs",
            "gardening tips for arid climates with drip irrigation notes",
        ])]
    )
    sf = str(tmp_path / "sf_compact")
    os.makedirs(sf)
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d.write.parquet(os.path.join(sf, "documents.parquet"))

    got = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in QUERIES["c06_dedup_clusters_compact"](spark, sf).collect()
    }

    # Classic spelling: band the FULL corpus, CC over all members.
    sigs = minhash_signature(d, "text", "doc_id", k=8, portable=True)
    pairs = lsh_candidate_pairs(sigs, "doc_id", k=8, band_size=2,
                                max_bucket=10_000)
    want = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup_clusters(pairs).collect()
    }
    assert got == want
    # Shape sanity: the mega-cluster is one 40-member cluster rooted
    # at 0; {100, 101, 102} is one 3-member cluster rooted at 100.
    assert (0, 0, 40) in got and (39, 0, 40) in got
    assert {(100, 100, 3), (101, 100, 3), (102, 100, 3)} <= got
    # Uniques absent (no near-dup edge, exact group of 1).
    assert not any(doc in (200, 201) for doc, _, _ in got)


def test_chunk_count_size_spelling_matches_explode_drop_semantics(spark):
    """The r14 batch-5 `tot` rewrite: per-doc chunk counts computed as
    row-local ``size(token_chunks(...))`` with a ``> 0`` filter must
    reproduce the old explode + groupBy(count) spelling EXACTLY —
    including the edge explode defines: a doc whose chunk array is
    empty or NULL produces no exploded rows, so it must be absent from
    the counts frame (not present with n_chunks = 0). Pinned on a
    crafted corpus carrying NULL text, empty text, a 1-token doc and
    multi-chunk docs, for both chunk widths the queries use (2 and 3)."""
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.text import (
        token_chunks,
        tokens,
    )

    d = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "one"),
            (4, "two tokens"),
            (5, "five tokens in this document"),
            (6, "a much longer document with nine whitespace tokens here"),
        ],
        "doc_id long, text string",
    )
    for n in (2, 3):
        ch_arr = token_chunks(tokens("text"), n, n)
        got = {
            (r.doc_id, r.n_chunks)
            for r in d.select(
                "doc_id", F.size(ch_arr).alias("n_chunks")
            ).filter(F.col("n_chunks") > 0).collect()
        }
        want = {
            (r.doc_id, r.n_chunks)
            for r in d.select("doc_id", F.explode(ch_arr).alias("c"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_chunks"))
            .collect()
        }
        assert got == want, (n, got, want)


def test_chunk_count_closed_form_matches_size_of_token_chunks(spark):
    """The r15 `tot` fix: the closed-form chunk count
    (``token_chunk_count`` — floor((ntok-1)/stride)+1 guarded on
    ntok>0) must equal ``size(token_chunks(tok, w, stride))`` for
    every (width, stride) combination the queries use AND for
    non-aligned strides, on the same edge corpus (NULL text, empty
    text, 1-token, exact-boundary and off-boundary token counts) —
    including the 0-on-empty value and the int column type, so a
    caller's ``> 0`` filter and the oracle schema behave identically."""
    from pyspark.sql import functions as F

    from openweathermapapi_etl_spark.operators.text import (
        token_chunk_count,
        token_chunks,
        tokens,
    )

    d = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "one"),
            (4, "two tokens"),
            (5, "five tokens in this document"),
            (6, "a much longer document with nine whitespace tokens here"),
            (7, "exactly six tokens right here now"),
        ],
        "doc_id long, text string",
    )
    for w, s in ((2, 2), (3, 3), (4, 2), (2, 3)):
        tok = tokens("text")
        res = d.select(
            "doc_id",
            F.size(token_chunks(tok, w, s)).alias("want"),
            token_chunk_count(tok, s).alias("got"),
        )
        assert dict(res.dtypes)["got"] == dict(res.dtypes)["want"] == "int"
        rows = res.collect()
        assert all(r.got == r.want for r in rows), (w, s, rows)
