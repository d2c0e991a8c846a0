"""C1/C2 — deduplication family for training-data pipelines:

- exact dedup (content-hash groupBy)
- MinHash signatures + LSH banding (near-dup candidates)
- SimHash (bit-majority fingerprint)
- n-gram Jaccard verification (blocked pairwise)

Scale design
------------
Exact dedup is one hash-partitioned groupBy on the content hash —
the canonical 100 TB dedup shape (shuffle keyed on a 128-bit hash is
skew-free by construction). MinHash/LSH replaces the quadratic
all-pairs problem with: per-doc signature (one scan, no shuffle) →
explode to (band, banded-signature) keys → groupBy band bucket →
pairs only within buckets. SimHash is a single groupBy over exploded
tokens. Jaccard verification only ever runs on candidate pairs, never
the cross product.

All checked variants use the portable :func:`~.text.char_fold_hash`
so DuckDB oracles reproduce them bit-for-bit; pass ``portable=False``
for the xxhash64 production flavor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import HASH_P, char_fold_hash, fast_hash, tokens, word_shingles

# Affine universal-hash family for MinHash: h_j(x) = (A_j * x + B_j) mod P.
def _affine_params(k: int) -> list[tuple[int, int]]:
    return [(2 * j + 3, 97 * j + 13) for j in range(k)]


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """C1: group by content hash; keep the smallest id as canonical.

    Returns (content_hash, keep_id, n_copies). Downstream keeps rows
    whose id is in keep_id (a broadcast or semi join at scale).
    """
    return (
        df.select(F.md5(F.col(content_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_hashes(text_col: Column, n: int = 3, portable: bool = True) -> Column:
    """Array of hashed word n-gram shingles for one document.

    Both flavors land in [0, P): the portable char-fold is < P by
    construction; the xxhash64 fast path is pmod-reduced so the affine
    MinHash transform (a*h+b) can't overflow int64 under ANSI mode.
    """
    sh = word_shingles(tokens(text_col), n)
    if portable:
        return F.transform(sh, char_fold_hash)
    return F.transform(sh, lambda x: F.pmod(fast_hash(x), F.lit(HASH_P)))


def minhash_signature(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, n: int = 3,
    portable: bool = True,
) -> DataFrame:
    """C2a: k-wide MinHash signature per document.

    Two stacked projections, no shuffle, no Python. The hashed-shingle
    array is materialized in its own projection and the k affine mins
    read *that column*: higher-order functions are interpreted (not
    codegen'd, no common-subexpression elimination), so inlining the
    shingle pipeline into each of the k components re-evaluates it k
    times — measured 8x slower at sf0.1. Catalyst's CollapseProject
    keeps the split because the alias is non-cheap and multiply
    referenced. Documents with fewer than ``n`` tokens get NULL
    signature components.
    """
    hashed = df.select(
        F.col(id_col), shingle_hashes(F.col(text_col), n, portable).alias("_hs")
    )

    def affine_min(a: int, b: int):
        # Closure factory — F.transform requires a 1-/2-arg lambda, so
        # the constants can't ride along as default args.
        return F.array_min(
            F.transform(
                F.col("_hs"), lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(HASH_P)
            )
        )

    cols = [F.col(id_col)]
    for j, (a, b) in enumerate(_affine_params(k)):
        cols.append(affine_min(a, b).alias(f"m{j}"))
    return hashed.select(*cols)


def band_rows(
    sigs: DataFrame, id_col: str, k: int = 8, band_size: int = 2
) -> DataFrame:
    """(id, band_no, band_key) — one row per document per band.

    The shared front half of every banding consumer (self-join pair
    expansion, the delta-vs-corpus incremental join). NULL minhash
    components ("too short to shingle") NULL the whole band — a bare
    concat_ws would silently DROP the null and lump every short doc
    into one giant '' bucket.

    ``k`` must divide evenly into bands: a remainder would silently
    DROP the trailing ``k % band_size`` signature components from
    banding — the caller asked for a (k, band_size) recall curve and
    would get a narrower signature's with no warning (r11 review).
    """
    if k % band_size != 0:
        raise ValueError(
            f"k={k} not divisible by band_size={band_size}: the "
            f"trailing {k % band_size} minhash components would be "
            "silently excluded from banding (recall differs from the "
            "requested curve); choose k a multiple of band_size"
        )
    n_bands = k // band_size

    def band_key(b: int):
        comps = [F.col(f"m{b * band_size + i}") for i in range(band_size)]
        nonnull = comps[0].isNotNull()
        for c in comps[1:]:
            nonnull = nonnull & c.isNotNull()
        return F.when(nonnull, F.concat_ws("_", *[c.cast("string") for c in comps]))

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_no"), band_key(b).alias("band_key")
            )
            for b in range(n_bands)
        ]
    )
    return (
        sigs.select(F.col(id_col), F.explode(bands).alias("band"))
        .select(
            F.col(id_col),
            F.col("band.band_no").alias("band_no"),
            F.col("band.band_key").alias("band_key"),
        )
        .filter(F.col("band_key").isNotNull())
    )


def delta_lsh_candidates(
    corpus_sigs: DataFrame,
    delta_sigs: DataFrame,
    id_col: str,
    k: int = 8,
    band_size: int = 2,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-dup candidates between a NEW batch and an EXISTING corpus
    — the incremental-ingest form of LSH dedup: when documents arrive
    continuously, re-running the corpus self-join per batch is
    O(corpus²)-shaped work for an O(delta·bucket) question. Band rows
    of the delta equi-join band rows of the corpus on (band_no,
    band_key): cost scales with the DELTA and the bucket densities it
    touches, never with corpus². The corpus band table is exactly the
    persistable index (write it once, append each batch's bands — the
    same index-as-table lifecycle as c03_ivf_persist).

    ``max_bucket`` caps the CORPUS side per band bucket (window count
    before the join, same pre-materialization discipline as
    lsh_candidate_pairs): a boilerplate bucket would otherwise fan
    every matching delta doc into it. Returns (delta_id, corpus_id)
    distinct pairs; exact verification (jaccard/containment/edit
    distance — the C2 verify family) composes downstream unchanged.
    """
    d = band_rows(delta_sigs, id_col, k, band_size).withColumnRenamed(
        id_col, "delta_id"
    )
    c = band_rows(corpus_sigs, id_col, k, band_size).withColumnRenamed(
        id_col, "corpus_id"
    )
    if max_bucket is not None:
        from pyspark.sql import Window as W

        w = W.partitionBy("band_no", "band_key")
        c = (
            c.withColumn("_n", F.count("*").over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    return (
        d.join(c, ["band_no", "band_key"])
        .filter(F.col("delta_id") != F.col("corpus_id"))
        .select("delta_id", "corpus_id")
        .distinct()
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    k: int = 8,
    band_size: int = 2,
    max_bucket: int | None = 10_000,
    expansion: str = "all_pairs",
) -> DataFrame:
    """C2b: LSH banding — docs sharing any band of their signature
    become a candidate pair (id_a < id_b).

    Plan shape: explode each doc into k/band_size (band_no, band_key)
    rows → groupBy the band key → expand id pairs *inside* each bucket
    → distinct pairs. One shuffle, and the signatures are computed
    exactly once (a self-join formulation re-evaluates the whole
    MinHash pipeline on both sides — measured 2x the cost — and
    shuffles twice). Pair expansion per bucket is O(B^2) by nature of
    LSH; hot buckets (boilerplate docs) are the skew risk at 100 TB.

    ``max_bucket`` DEFAULTS to 10_000 (round-4 verdict: the scale-safe
    shape must be the path you get without opting in): a bucket larger
    than that is boilerplate by construction — 10k near-identical docs
    sharing a band — and contributes O(10^8) pairs from a single key,
    so dropping it is standard practice and loses no real near-dup
    signal while bounding both the collect_list buffer and the pair
    expansion. Pass ``max_bucket=None`` ONLY for the exhaustive oracle
    twin (``c02_lsh_candidates`` keeps the uncapped flavor
    driver-checked); at 100 TB that path is a deliberate skew hazard.

    ``max_bucket`` is enforced BEFORE any bucket materializes: a
    window count over the bucket key sizes each bucket row-wise (the
    window buffer spills; an agg buffer holding one giant id array
    cannot) and oversized buckets are filtered out ahead of the
    ``collect_list``, in the same exchange. The previous shape filtered
    AFTER the collect_list, so one pathological boilerplate bucket
    still built its full id array on a single executor before being
    dropped — the exact skew this parameter exists to prevent (pinned
    by tests/test_operators.py::test_lsh_max_bucket_filters_before_collect).

    ``expansion`` (r15, the sf1z probe's finding): ``"all_pairs"``
    (default) emits the full upper triangle — the CANDIDATE-PAIR
    contract every verify/score consumer needs. ``"star"`` emits one
    hub edge per bucket member (min id → each other id): a bucket's
    star connects exactly the same node set into exactly the same
    connected components as its clique, with O(B) rows instead of
    O(B²) — for callers that feed the pairs STRAIGHT into a
    connected-components closure (the c06 cluster family), the
    triangle is pure thrown-away work (guide §1.2(1)). Measured at
    the sf1z zipf fixture, where the hot exact-duplicate group sits
    exactly AT the 10k cap: the kept 10k-member bucket expands to
    ~5x10^7 triangle pairs (1x10^8 symmetrized CC edge rows) under
    "all_pairs" and to 9,999 star rows — a single-task generator
    straggler removed at the source rather than salted downstream.
    NEVER use "star" where the pair SET (not just its connectivity)
    is consumed — verification joins, precision/recall audits, graph
    metrics (degree, triangles, PageRank) — because the star is not
    the near-dup candidate relation, only closure-equivalent to it.
    """
    exploded = band_rows(sigs, id_col, k, band_size)
    if max_bucket is not None:
        # Enforce the cap BEFORE any bucket materializes: a window
        # count over the same (band_no, band_key) partitioning sizes
        # every bucket row-wise (WindowExec buffers ROWS and spills —
        # never one giant array in an agg buffer), and the filter drops
        # oversized buckets ahead of the collect_list. Same partitioning
        # → the groupBy below adds NO second exchange. This beats the
        # count-then-anti-join formulation, whose count branch rescans
        # the corpus and re-runs the whole MinHash pipeline (the
        # dominant per-row cost) a second time. Bonus: singleton
        # buckets — the vast majority at real data densities — are
        # dropped here too, before they ever occupy agg state.
        from pyspark.sql import Window as W

        w = W.partitionBy("band_no", "band_key")
        exploded = (
            exploded.withColumn("_n", F.count("*").over(w))
            .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
            .drop("_n")
        )
    buckets = (
        exploded.groupBy("band_no", "band_key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if expansion == "star":
        # Hub edges only: ids are bucket-distinct + sorted, so
        # element_at(ids, 1) is the bucket min and id_a < id_b holds
        # by construction; distinct collapses hub edges repeated
        # across bands. Same connected components as the triangle
        # (see docstring), O(B) rows per bucket.
        return (
            buckets.select(
                F.element_at("ids", 1).alias("id_a"),
                F.explode(
                    F.slice(F.col("ids"), 2, F.size("ids"))
                ).alias("id_b"),
            )
            .distinct()
        )
    if expansion != "all_pairs":
        raise ValueError(f"unknown expansion: {expansion!r}")
    # Upper-triangle expansion as TWO generators, never one array: the
    # previous flatten(transform × transform) spelling evaluated the
    # full B² struct array AS ONE VALUE before the triangle filter —
    # at the max_bucket=10_000 boundary that is a ~10^8-struct
    # allocation in a single row (the exact single-key blowup the cap
    # exists to prevent; r11 review catch). posexplode streams one row
    # per member, and slice() from the member's successor emits only
    # the triangle — per-ROW memory is O(B), GenerateExec streams and
    # spills, and ids are bucket-distinct + sorted so id_a < id_b
    # holds by construction.
    return (
        buckets.select("ids", F.posexplode("ids").alias("_i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("ids"), F.col("_i") + F.lit(2), F.size("ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


def simhash16(df: DataFrame, text_col: str, id_col: str, portable: bool = True) -> DataFrame:
    """C2c: 16-bit SimHash — per-bit majority vote over token hashes.

    Plan: explode tokens → hash → one groupBy(id) with 16 conditional
    sums → recombine bits. A single shuffle keyed on the doc id.
    (Production flavor: 64 bits over xxhash64, same plan.)
    """
    hash_fn = char_fold_hash if portable else fast_hash
    tok = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tk"))
        .filter(F.col("tk") != "")
        .select(F.col(id_col), hash_fn(F.col("tk")).alias("h"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(16)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sim = None
    for i in range(16):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select(F.col(id_col), sim.cast("bigint").alias("simhash"))


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int = 3,
) -> DataFrame:
    """C2d: exact n-gram Jaccard within blocking groups (id_a < id_b).

    Blocking bounds the pair count; at scale the block is the LSH
    bucket from :func:`lsh_candidate_pairs` rather than metadata.
    Set semantics: shingle arrays are deduplicated before intersecting.
    """
    sh = F.array_distinct(word_shingles(tokens(F.col(text_col)), n))
    docs = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols], sh.alias("sh")
    )
    a, b = docs.alias("a"), docs.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{c}").alias(c) for c in block_cols],
        inter.alias("n_common"),
        union.alias("n_union"),
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def hamming_band_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    nbits: int = 60,
    bands: int = 4,
    max_dist: int = 10,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Banded HAMMING near-dup join over an n-bit integer code column
    (SimHash / perceptual-hash family) → (id_a, id_b, hamming) pairs
    with distance ≤ ``max_dist``.

    The Hamming analogue of :func:`lsh_candidate_pairs`: split the code
    into ``bands`` contiguous bit-bands; by pigeonhole, any pair within
    distance < ``bands`` shares at least one band exactly, and pairs
    within ``max_dist`` share one with high probability — so candidate
    generation is a bucket groupBy on (band_no, band_value), ONE
    shuffle, never an all-pairs join, and verification is a row-local
    ``bit_count(a XOR b)`` popcount on the candidates only. Same
    window-based ``max_bucket`` cap as LSH, enforced before any bucket
    materializes (a degenerate band value — e.g. the all-zeros band of
    near-empty payloads — is the skew hazard here too).

    At 100 TB: shuffle volume is rows × bands small tuples; pair
    expansion is bucket-bounded; the verify is a codegen'd bit op. The
    code column is engine-agnostic — SimHash votes, pHash bits, or any
    learned binary embedding.
    """
    from pyspark.sql import Window as W

    band_bits = nbits // bands
    mask = (1 << band_bits) - 1
    bvals = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_no"),
                F.shiftright(F.col(hash_col), band_bits * j)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for j in range(bands)
        ]
    )
    exploded = df.select(
        F.col(id_col), F.col(hash_col), F.explode(bvals).alias("b")
    ).select(
        F.col(id_col),
        F.col(hash_col),
        F.col("b.band_no").alias("band_no"),
        F.col("b.band_val").alias("band_val"),
    )
    if max_bucket is not None:
        w = W.partitionBy("band_no", "band_val")
        exploded = (
            exploded.withColumn("_n", F.count("*").over(w))
            .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
            .drop("_n")
        )
    buckets = (
        exploded.groupBy("band_no", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col), F.col(hash_col)))
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    # Two-generator upper triangle, same rationale as
    # lsh_candidate_pairs: the flatten(transform × transform) spelling
    # built the full B² 4-field-struct array in ONE row before the
    # triangle filter (r11 review catch — the cap bounds B, not B² in
    # a single allocation). ms is sorted on (id, hash) and ids are
    # bucket-distinct, so slicing past the member keeps id_a < id_b.
    cand = (
        buckets.select("band_no", "ms", F.posexplode("ms").alias("_i", "a"))
        .select(
            "band_no",
            "a",
            F.explode(
                F.slice(F.col("ms"), F.col("_i") + F.lit(2), F.size("ms"))
            ).alias("b"),
        )
        .select(
            "band_no",
            F.col("a")[id_col].alias("id_a"),
            F.col("b")[id_col].alias("id_b"),
            F.col("a")[hash_col].alias("ha"),
            F.col("b")[hash_col].alias("hb"),
        )
    )
    if max_bucket is None:
        # First-match dedup (r14, guide §2.3/§2.4): a pair sharing
        # several bands appears once per shared band; instead of a
        # corpus-scale DISTINCT shuffle over the expanded candidates,
        # keep the pair only where the emitting band is its SMALLEST
        # shared band — row-local arithmetic, since both signatures
        # ride the candidate row and band equality is the same
        # shift/mask the bucket key used. Output rows are then unique
        # by construction and the Exchange disappears. Only valid
        # uncapped: with a cap, the smallest shared band's bucket may
        # have been dropped as oversized while a later band's bucket
        # survives — suppressing the pair here would be a false
        # negative, so the capped path keeps the DISTINCT.
        shares = F.array(
            *[
                (
                    F.shiftright(F.col("ha"), band_bits * j).bitwiseAND(
                        F.lit(mask)
                    )
                    == F.shiftright(F.col("hb"), band_bits * j).bitwiseAND(
                        F.lit(mask)
                    )
                )
                for j in range(bands)
            ]
        )
        cand = cand.filter(
            F.array_position(shares, F.lit(True)) == F.col("band_no") + 1
        )
    else:
        cand = cand.drop("band_no").distinct()
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_dist)
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    w: int = 4,
    portable: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003; the MOSS algorithm — public literature): slide a
    w-wide window over the POSITIONAL shingle-hash sequence and keep
    each window's minimum. The selection guarantee MinHash cannot
    give: any shared run of at least w+n-1 tokens between two
    documents shares at least one selected fingerprint — so matches
    LOCALIZE (plagiarism/quotation detection), where MinHash only
    estimates whole-document similarity.

    Spark shape: posexplode the hash sequence → per-document window
    ``min() OVER (ROWS CURRENT..w-1 FOLLOWING)`` → distinct selected
    values. Deliberately window-based, NOT a
    ``transform(sequence, i -> array_min(slice(hs, i, w)))`` lambda:
    an outer expression inside a higher-order lambda re-evaluates per
    element (the word_shingles lesson, SCALE.md "Curation layer") — the
    window spelling computes the hash array once per row and shuffles
    on the high-cardinality document id. Returns (id, fp) distinct
    rows — the join-ready fingerprint table.
    """
    hs = shingle_hashes(F.col(text_col), n, portable)
    rows = df.select(F.col(id_col), F.posexplode(hs).alias("pos", "h"))
    from pyspark.sql import Window as W

    win = (
        W.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    n_sh = W.partitionBy(id_col)
    return (
        rows.withColumn("_wmin", F.min("h").over(win))
        .withColumn("_n", F.count("*").over(n_sh))
        # Full windows only — EXCEPT documents with fewer than w
        # shingles, which have no full window at all: they emit their
        # whole-sequence minimum (the pos-0 window min covers every
        # shingle) instead of ZERO fingerprints, which made short
        # documents — including byte-identical ones — invisible to
        # the match stage (r11 review catch; MOSS likewise always
        # selects at least one fingerprint per non-empty document).
        .filter(
            (F.col("pos") <= F.col("_n") - w)
            | ((F.col("_n") < w) & (F.col("pos") == 0))
        )
        .select(F.col(id_col), F.col("_wmin").alias("fp"))
        .distinct()
    )


def winnow_match_pairs(
    fps: DataFrame, id_col: str, min_shared: int = 2, max_bucket: int = 10_000
) -> DataFrame:
    """(id_a, id_b, n_shared_fps) — document pairs sharing at least
    ``min_shared`` winnowed fingerprints. Fingerprint-bucketed
    equi-join (the LSH banding skew discipline applies unchanged:
    ``max_bucket`` drops boilerplate fingerprints shared by half the
    corpus before they go quadratic)."""
    from pyspark.sql import Window as W

    # Filter ONCE, before the side split, with >= 2 alongside the cap:
    # unique fingerprints — the vast majority at real densities — can
    # only self-join and be dropped by id_a < id_b, and over-cap
    # boilerplate fps go quadratic; neither deserves a shuffle on
    # EITHER join side (the old shape filtered side a only, so
    # singletons and boilerplate still shuffled in full on side b —
    # r11 review catch; same singleton prefilter as
    # lsh_candidate_pairs, same window pass).
    wb = W.partitionBy("fp")
    kept = (
        fps.withColumn("_n", F.count("*").over(wb))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
        .drop("_n")
    )
    a = kept.select(F.col(id_col).alias("id_a"), "fp")
    b = kept.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )
