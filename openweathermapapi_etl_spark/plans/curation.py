"""Tier C continued — corpus-curation operators (SURVEY.md §2.4):
cluster resolution over LSH candidate pairs, repetition quality
filters, PII redaction, vocabulary statistics, deterministic
splits/samples/mixtures, and per-label embedding centroids.

These are the stages a 100 TB training-data pipeline runs between the
dedup/similarity primitives (tier_c.py) and the training job; each is
hash-checked against a DuckDB oracle (the connected-components oracle
is a recursive CTE — transitive closure is SQL-expressible even though
the Spark side is iterative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.skew import bounded_partition_key
from ..operators.cluster import (
    connected_components,
    dedup_clusters,
    dedup_clusters_compact,
    kcore_peel,
    symmetrize_pairs,
)
from ..operators.dedup import (
    delta_lsh_candidates,
    lsh_candidate_pairs,
    minhash_signature,
)
from ..operators.sampling import (
    domain_mix_plan,
    hash_split,
    mixture_expand,
    shard_balance,
    stratified_sample,
)
from ..operators.similarity import knn_graph, label_centroids, semdedup
from ..operators.text import (
    char_fold_hash,
    lang_id,
    token_chunk_count,
    token_chunks,
    EMAIL_RE,
    contamination_flags,
    PHONE_RE,
    bigram_pairs,
    ngram_repetition_stats,
    pii_counts,
    redact_pii,
    tokens,
)
from .registry import register
from .tier_c import _O_HASH, _O_SCRAMBLE, _knn_graph_oracle, _lsh_oracle
from .util import DEC, davg, o_davg, t

# ---------------------------------------------------------------------------
# C6 — near-dup cluster resolution (connected components)
# ---------------------------------------------------------------------------


def _clusters_oracle() -> str:
    """Transitive closure of the LSH pair graph as a recursive CTE:
    min reachable doc_id == the component's canonical cluster id."""
    pairs_sql = _lsh_oracle(max_bucket=10_000).strip()
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
    ),
    comp AS (SELECT node AS doc_id, MIN(r) AS cluster_id
             FROM reach GROUP BY node)
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    """


@register("c06_dedup_clusters", oracle=_clusters_oracle())
def c06_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: LSH candidate pairs → duplicate CLUSTERS via min-label
    propagation (operators/cluster.py) — the closure step every dedup
    pipeline runs after banding (A~B, B~C ⇒ {A,B,C} is one group with
    one survivor). Iterative on the Spark side (diameter-bounded, one
    shuffle per round, lineage truncated per round); the oracle is the
    same closure as a DuckDB recursive CTE. Production-default bucket
    cap (10k) on the pair generation."""
    sigs = minhash_signature(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=8, portable=True
    )
    # Star expansion (r15): the pairs feed ONLY the CC closure, whose
    # result depends on bucket CONNECTIVITY, not the full candidate
    # relation — O(B) hub edges per bucket replace the O(B^2) triangle
    # (identical clusters; see lsh_candidate_pairs and the sf1z probe).
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", k=8, band_size=2, max_bucket=10_000, expansion="star"
    )
    return dedup_clusters(pairs)


def _clusters_compact_oracle() -> str:
    """Oracle twin of c06_dedup_clusters_compact — SAME stage order:
    exact collapse to min-id reps first, the banding/closure CTEs see
    reps only, per-member rows come back through the exact groups and
    sizes sum the group counts per component. Solo exact groups (>= 2
    members, rep unpaired) are their own cluster."""
    pairs_sql = _lsh_oracle(max_bucket=10_000, source="reps").strip()
    return f"""
    WITH RECURSIVE grouped AS (
      SELECT doc_id, text,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id,
             COUNT(*) OVER (PARTITION BY md5(text)) AS grp_n
      FROM documents),
    reps AS (SELECT doc_id, text FROM grouped WHERE doc_id = rep_id),
    gstat AS (SELECT rep_id, MAX(grp_n) AS n_members
              FROM grouped GROUP BY rep_id),
    pairs AS ({pairs_sql}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
    ),
    comp AS (SELECT node AS rep, MIN(r) AS cluster_id
             FROM reach GROUP BY node),
    rep_label AS (
      SELECT rep, cluster_id FROM comp
      UNION ALL
      SELECT g.rep_id, g.rep_id FROM gstat g
      WHERE g.n_members >= 2
        AND NOT EXISTS (SELECT 1 FROM comp c WHERE c.rep = g.rep_id)),
    sizes AS (SELECT rl.cluster_id,
                     CAST(SUM(g.n_members) AS BIGINT) AS cluster_size
              FROM rep_label rl JOIN gstat g ON g.rep_id = rl.rep
              GROUP BY rl.cluster_id)
    SELECT m.doc_id, rl.cluster_id, s.cluster_size
    FROM grouped m
    JOIN rep_label rl ON rl.rep = m.rep_id
    JOIN sizes s ON s.cluster_id = rl.cluster_id
    """


@register("c06_dedup_clusters_compact", oracle=_clusters_compact_oracle())
def c06_dedup_clusters_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 (corpus-scale flavor, r14 order #2): the same per-member
    cluster contract as c06_dedup_clusters, but computed exact-first —
    sha2 collapse → banding over distinct-text reps → CC over reps →
    one linear join back through the exact groups. A same-text
    mega-cluster (the zipf fixture's 10%-mass boilerplate page, the
    shape that makes banding-first CC quadratic) costs one linear
    groupBy + a single-row band entry here; see
    operators/cluster.dedup_clusters_compact for the composition
    argument and the two deliberate contract differences (>max_bucket
    exact groups and <3-token exact groups DO cluster here — both
    regimes where banding-first silently loses them). Equivalence to
    the classic spelling below the cap is pytest-pinned; the oracle
    carries the same stage order so query ≡ oracle in all regimes."""
    return dedup_clusters_compact(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# C4 continued — repetition filters, PII redaction, vocabulary stats
# ---------------------------------------------------------------------------


@register(
    "c04_repetition_stats",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) >= 2 THEN
               list_transform(generate_series(1, len(tk) - 1),
                              i -> tk[i] || ' ' || tk[i+1])
             ELSE [] END) AS gram
      FROM toks),
    per_gram AS (SELECT doc_id, gram, COUNT(*) AS cnt
                 FROM grams GROUP BY doc_id, gram),
    stats AS (SELECT doc_id,
                     CAST(SUM(cnt) AS BIGINT)  AS n_grams,
                     CAST(COUNT(*) AS BIGINT)  AS n_distinct,
                     CAST(MAX(cnt) AS BIGINT)  AS top_gram_n,
                     CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0)
                          AS BIGINT)           AS n_dup
              FROM per_gram GROUP BY doc_id)
    SELECT doc_id, n_grams, n_distinct, top_gram_n,
           CAST(n_dup AS DOUBLE) / n_grams AS dup_gram_frac,
           2 * CAST(top_gram_n AS DOUBLE) / (n_grams + 1) AS top_gram_token_frac
    FROM stats
    """,
)
def c04_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4e: Gopher-style repetition signals (duplicate-2-gram fraction,
    top-2-gram token coverage) — the boilerplate/looping-text filter.
    Explode → two document-keyed aggregations, skew-free."""
    return ngram_repetition_stats(
        t(spark, sf_dir, "documents"), "text", "doc_id", n=2
    )


@register(
    "c04_pii_redact",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.org or 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS contact
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(contact,
               '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g')                    AS clean_text,
           CAST(len(regexp_extract_all(contact, '{EMAIL_RE}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(contact, '{PHONE_RE}')) AS INTEGER)
             AS n_phones
    FROM c
    """,
)
def c04_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4f: PII scrub — mask emails/phones with typed placeholders and
    report match counts. The corpus is synthetic word soup with no real
    PII, so both engines append a deterministic contact line per doc
    and redact THAT: the regex surface is exercised end-to-end against
    text that actually contains matches. Pure regexp_replace columns,
    scan speed, ASCII-only classes so Java and RE2 agree."""
    d = t(spark, sf_dir, "documents")
    contact = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or 555-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
    )
    n_emails, n_phones = pii_counts(contact)
    return d.select(
        "doc_id",
        redact_pii(contact).alias("clean_text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


@register(
    "c04_vocab_topk",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    v AS (SELECT token,
                 CAST(COUNT(*) AS BIGINT)                AS n_occ,
                 CAST(COUNT(DISTINCT doc_id) AS BIGINT)  AS n_docs
          FROM tok WHERE token <> '' GROUP BY token)
    SELECT token, n_occ, n_docs FROM v
    ORDER BY n_occ DESC, token LIMIT 100
    """,
)
def c04_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4g: global vocabulary top-100 by occurrence (doc frequency
    alongside) — the corpus-statistics pass behind tokenizer/vocab
    decisions. Explode → one partial+final hash agg keyed on the token
    → TakeOrderedAndProject for the top-k (no global sort). The
    (n_occ DESC, token) total order makes the cutoff deterministic."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    ).filter(F.col("token") != "")
    vocab = tok.groupBy("token").agg(
        F.count("*").alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return vocab.orderBy(F.col("n_occ").desc(), "token").limit(100)


# ---------------------------------------------------------------------------
# C7 — deterministic splits / samples / mixtures
# ---------------------------------------------------------------------------


@register(
    "c07_hash_split",
    oracle=f"""
    WITH h AS (SELECT doc_id, lang, source,
                      {_O_SCRAMBLE.format(h=_O_HASH.format(s="'split:' || CAST(doc_id AS VARCHAR)"))} % 100
                        AS split_bucket
               FROM documents)
    SELECT doc_id, lang, source, split_bucket,
           CASE WHEN split_bucket < 80 THEN 'train'
                WHEN split_bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def c07_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7a: deterministic 80/10/10 train/val/test split by salted key
    hash — row-local, shuffle-free, stable across runs and cluster
    layouts (the property rand() cannot give). The salt decorrelates
    the split from every other hash use of the same key."""
    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return hash_split(d, "doc_id", train_pct=80, val_pct=10, salt="split")


@register(
    "c07_stratified_sample",
    oracle=f"""
    WITH h AS (SELECT doc_id, lang,
                      {_O_SCRAMBLE.format(h=_O_HASH.format(s="'sample:' || CAST(doc_id AS VARCHAR)"))}
                        AS hk
               FROM documents),
    r AS (SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id)
                   AS sample_rank
          FROM h)
    SELECT doc_id, lang, CAST(sample_rank AS INTEGER) AS sample_rank
    FROM r WHERE sample_rank <= 25
    """,
)
def c07_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7b: 25 documents per language in deterministic hash order —
    unbiased (hash order is uncorrelated with any data column) and
    reproducible. One shuffle on the stratum key; the rank cutoff
    lives inside the window."""
    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        d, ["lang"], n_per_stratum=25, key_col="doc_id", salt="sample"
    ).select("doc_id", "lang", "sample_rank")


@register(
    "c07_mixture_expand",
    oracle="""
    SELECT doc_id, source, CAST(f AS INTEGER) AS copy_no
    FROM documents,
         LATERAL unnest(range(0, CASE source WHEN 'src0' THEN 3
                                             WHEN 'src1' THEN 2
                                             ELSE 1 END)) AS u(f)
    """,
)
def c07_mixture_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7c: weighted mixture expansion — oversample high-quality
    sources by integer weight (src0 x3, src1 x2, rest x1), the standard
    training-mix construction. Row-multiplying projection (explode of a
    per-row sequence), zero shuffle."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    weight = (
        F.when(F.col("source") == "src0", F.lit(3))
        .when(F.col("source") == "src1", F.lit(2))
        .otherwise(F.lit(1))
    )
    return mixture_expand(d, weight).select("doc_id", "source", "copy_no")


# ---------------------------------------------------------------------------
# C3 continued — per-label embedding centroids
# ---------------------------------------------------------------------------


@register(
    "c03_label_centroids",
    oracle="""
    WITH e AS (SELECT label, i, embedding[i] AS val
               FROM embeddings,
                    LATERAL unnest(generate_series(1, len(embedding))) AS u(i))
    SELECT label, CAST(i AS INTEGER) AS dim,
           CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1000000) AS BIGINT))
                AS DOUBLE) / (1000000.0 * COUNT(*)) AS centroid_val,
           CAST(COUNT(*) AS BIGINT)  AS n_vectors
    FROM e GROUP BY label, i
    """,
)
def c03_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3d: per-label centroid of the embedding corpus in long form —
    the cluster-center / k-means-update / quantizer-training building
    block. posexplode → ONE hash agg on (label, dim); after map-side
    combine the shuffle carries #labels x dim rows regardless of corpus
    size. Parity flavor: components quantized to 1e-6 and summed as
    BIGINT — integer-exact, so order-independent and engine-identical
    (the decimal trick is insufficient here: Spark rounds double→
    decimal HALF_UP, DuckDB half-even, and 12-dp ties DO occur; see
    operators/similarity.label_centroids). Production default is the
    plain double mean."""
    return label_centroids(
        t(spark, sf_dir, "embeddings"), "embedding", "label",
        quantize_scale=1_000_000,
    )


# ---------------------------------------------------------------------------
# C6 continued — the deduplicated corpus itself
# ---------------------------------------------------------------------------


def _dedup_corpus_oracle() -> str:
    """Oracle twin of c06_dedup_corpus, SAME stage order as the code:
    exact duplicates collapse to their min doc_id FIRST, and the
    banding CTE sees distinct-text representatives only. The stage
    order matters for MORE than speed: with the banding-first
    spelling, an exact-duplicate group larger than ``max_bucket``
    (10_000) would be dropped by the oversized-bucket cap and so
    SURVIVE, while the code's unconditional sha2 collapse removes it —
    a divergence exactly on the mega-cluster regime the reorder
    targets (r14 advisor catch). With the collapse inside the oracle
    too, a same-text group enters banding as one row in both engines
    and query ≡ oracle holds in ALL regimes, above and below the cap
    (pinned by tests/test_curation.py::
    test_dedup_corpus_oracle_agrees_above_max_bucket)."""
    pairs_sql = _lsh_oracle(max_bucket=10_000, source="reps").strip()
    return f"""
    WITH RECURSIVE grouped AS (
      SELECT doc_id, text,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
      FROM documents),
    reps AS (SELECT doc_id, text FROM grouped WHERE doc_id = rep_id),
    exact_losers AS (SELECT doc_id AS node FROM grouped
                     WHERE doc_id <> rep_id),
    pairs AS ({pairs_sql}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
    ),
    near_losers AS (SELECT node FROM (SELECT node, MIN(r) AS m
                                      FROM reach GROUP BY node) q
                    WHERE node <> m),
    losers AS (SELECT node FROM exact_losers
               UNION SELECT node FROM near_losers)
    SELECT d.doc_id, d.lang, d.source FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.node = d.doc_id)
    """


@register("c06_dedup_corpus", oracle=_dedup_corpus_oracle())
def c06_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6b: the END of the dedup pipeline — the surviving corpus.
    EXACT duplicates collapse FIRST (one linear sha2(text) groupBy —
    the standard pipeline order), then near-dup banding runs on the
    distinct-text representatives only, clusters close, and every
    non-canonical member drops; unpaired documents survive untouched.

    The stage order is a measured scale decision (zipf probe,
    SCALE.md "Dedup family"): on the mega-cluster fixture (10% of docs
    sharing one text — the boilerplate-page shape every raw crawl
    contains) the
    banding-first spelling fed a C(n,2) same-text clique into the CC
    step (7.0× wall at equal volume); exact-first removes the clique
    at linear cost because a same-text group enters banding as ONE
    row. Output-identical by construction — identical texts get
    identical MinHash signatures, each exact group's representative
    is its min id, and min-id survivorship composes across the two
    stages (the cluster minimum over representatives IS the minimum
    over all members). That argument holds unconditionally ONLY when
    the oracle collapses exact dups first as well: a banding-first
    oracle would let an exact group larger than ``max_bucket`` slip
    past the oversized-bucket cap and survive (r14 advisor catch), so
    the oracle now carries the same stage order and the equivalence is
    pytest-pinned both below (crafted mega-cluster corpus) and above
    the cap (a >10k same-text group vs the DuckDB oracle).

    The final anti-join plans as a key-shuffle SMJ statically — the
    right general shape, because the loser set scales with the
    duplicate rate (30-50% of a raw crawl, far beyond broadcast);
    when it IS small, AQE converts the runtime join to broadcast from
    the observed size, so both regimes get the right plan without a
    hint."""
    d = t(spark, sf_dir, "documents")
    groups = d.groupBy(F.sha2(F.col("text"), 256).alias("_th")).agg(
        F.min("doc_id").alias("rep_id")
    )
    with_rep = d.join(
        groups, F.sha2(F.col("text"), 256) == F.col("_th")
    ).select("doc_id", "text", "rep_id")
    exact_losers = with_rep.filter(
        F.col("doc_id") != F.col("rep_id")
    ).select("doc_id")
    reps = with_rep.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "text"
    )
    sigs = minhash_signature(reps, "text", "doc_id", k=8, portable=True)
    # Star expansion (r15): closure-only consumer — see c06_dedup_clusters.
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", k=8, band_size=2, max_bucket=10_000, expansion="star"
    )
    # Labels only — dedup_clusters' size agg + join-back would be
    # computed and thrown away (guide §1.2(1)); node != label IS the
    # non-canonical-member test (label = component min id).
    near_losers = (
        connected_components(pairs)
        .filter(F.col("node") != F.col("label"))
        .select(F.col("node").alias("doc_id"))
    )
    losers = exact_losers.unionByName(near_losers)
    return d.join(losers, "doc_id", "left_anti").select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# C3 continued — one k-means (Lloyd) iteration
# ---------------------------------------------------------------------------


def _kmeans_oracle(cmod: int = 40, scale: int = 1_000_000) -> str:
    from .tier_c import _O_NORMS, _o_dot

    cos = f"{_o_dot('v.embedding', 'c.cv')} / (nv.nrm * nc.nrm)"
    return f"""
    WITH norms AS ({_O_NORMS}),
    cent AS (SELECT vec_id AS centroid_id, embedding AS cv
             FROM embeddings WHERE vec_id % {cmod} = 0),
    scored AS (
      SELECT v.vec_id AS vid, v.embedding AS v, c.centroid_id, {cos} AS cs
      FROM embeddings v
      JOIN cent c ON TRUE
      JOIN norms nv ON nv.vec_id = v.vec_id
      JOIN norms nc ON nc.vec_id = c.centroid_id),
    assigned AS (
      SELECT vid, v, centroid_id FROM (
        SELECT vid, v, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vid
                                  ORDER BY cs DESC, centroid_id) AS rn
        FROM scored) r WHERE rn = 1),
    e AS (SELECT centroid_id, i, v[i] AS val
          FROM assigned,
               LATERAL unnest(generate_series(1, len(v))) AS u(i))
    SELECT centroid_id, CAST(i AS INTEGER) AS dim,
           CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * {scale}) AS BIGINT))
                AS DOUBLE) / ({scale}.0 * COUNT(*)) AS centroid_val,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM e GROUP BY centroid_id, i
    """


@register("c03_kmeans_iter", oracle=_kmeans_oracle())
def c03_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3e: one full Lloyd iteration of cosine k-means (assign to the
    argmax-cosine centroid, recompute cell means) — the training loop
    behind a production IVF quantizer. Deterministic id-sampled seeds
    keep the round SQL-oracle-expressible; production iterates by
    feeding the output back in (identical plan per round, so this one
    checked round pins them all). Two corpus-independent shuffles:
    the max_by assignment agg and the (cell, dim) partial-sum agg
    (operators/similarity.py::kmeans_update)."""
    from ..operators.similarity import kmeans_update

    return kmeans_update(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        centroid_mod=40,
        quantize_scale=1_000_000,
    )


# ---------------------------------------------------------------------------
# C7 continued — the curation funnel
# ---------------------------------------------------------------------------


def _o_langid_expr() -> str:
    """DuckDB spelling of operators/text.lang_id as a single expression
    (ties resolve in fixed language order, zero hits → 'und')."""
    from ..operators.text import STOPWORDS

    hits = {
        la: "len(list_filter(tk, x -> x IN ({})))".format(
            ", ".join(f"'{w}'" for w in ws)
        )
        for la, ws in STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    case = "CASE "
    for la in STOPWORDS:
        case += f"WHEN {hits[la]} = {best} AND {best} > 0 THEN '{la}' "
    return case + "ELSE 'und' END"


def _funnel_oracle() -> str:
    return f"""
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS tk
                  FROM documents),
    sig AS (SELECT
      (CASE WHEN len(tk) BETWEEN 10 AND 5000 THEN 0.4 ELSE 0.0 END
       + CASE WHEN CAST(length(text) - (len(tk) - 1) AS DOUBLE) / len(tk)
                   BETWEEN 3.0 AND 12.0 THEN 0.4 ELSE 0.0 END
       + CASE WHEN len(list_filter(tk, x -> x IN ('the','and','of','to','a'))) > 0
              THEN 0.2 ELSE 0.0 END) AS quality,
      {_o_langid_expr()} AS lang_pred,
      len(tk) AS n_tokens
    FROM toks),
    agg AS (SELECT
      CAST(COUNT(*) AS BIGINT) AS n0,
      CAST(COALESCE(SUM(CASE WHEN quality >= 0.6 THEN 1 END), 0) AS BIGINT) AS n1,
      CAST(COALESCE(SUM(CASE WHEN quality >= 0.6 AND lang_pred <> 'und'
                        THEN 1 END), 0) AS BIGINT) AS n2,
      CAST(COALESCE(SUM(CASE WHEN quality >= 0.6 AND lang_pred <> 'und'
                             AND n_tokens BETWEEN 10 AND 1000
                        THEN 1 END), 0) AS BIGINT) AS n3
    FROM sig)
    SELECT 'all' AS stage, n0 AS n_docs FROM agg
    UNION ALL SELECT 'quality', n1 FROM agg
    UNION ALL SELECT 'quality+lang', n2 FROM agg
    UNION ALL SELECT 'quality+lang+len', n3 FROM agg
    """


@register("c07_filter_funnel", oracle=_funnel_oracle())
def c07_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7d: the curation funnel — survivor counts after each filter
    stage (quality score, language-ID, token-length band), the
    coverage report every corpus-curation job emits. All stages are
    row-local column expressions folded into ONE single-pass aggregate
    (conditional sums), then unpivoted with stack(); no joins, no
    second scan."""
    from ..operators.text import lang_id, quality_score

    d = t(spark, sf_dir, "documents")
    tk = tokens("text")
    p1 = quality_score(F.col("text"), tk) >= 0.6
    p2 = p1 & (lang_id(tk) != "und")
    p3 = p2 & F.size(tk).between(10, 1000)

    def n(cond, alias):
        return F.coalesce(F.sum(F.when(cond, 1)), F.lit(0)).cast("bigint").alias(alias)

    agg = d.agg(
        F.count("*").alias("n0"), n(p1, "n1"), n(p2, "n2"), n(p3, "n3")
    )
    return agg.select(
        F.expr(
            "stack(4, 'all', n0, 'quality', n1, 'quality+lang', n2, "
            "'quality+lang+len', n3) as (stage, n_docs)"
        )
    )


# ---------------------------------------------------------------------------
# C7 continued — sequence packing
# ---------------------------------------------------------------------------


@register(
    "c07_sequence_pack",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             {_O_SCRAMBLE.format(h=_O_HASH.format(s="'pack:' || CAST(doc_id AS VARCHAR)"))} % 8
               AS shard,
             {_O_SCRAMBLE.format(h=_O_HASH.format(s="'pack-order:' || CAST(doc_id AS VARCHAR)"))}
               AS ord
      FROM documents),
    packed AS (
      SELECT doc_id, n_tokens, shard,
             CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY ord, doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS stream_offset
      FROM sized)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, shard, stream_offset,
           CAST(floor(stream_offset / 512.0) AS BIGINT) AS pack_id
    FROM packed
    """,
)
def c07_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7e: concat-and-chunk sequence packing (budget 512 tokens,
    8 hash shards) — every document gets its offset in a deterministic
    per-shard token stream and the training sequence its first token
    lands in (operators/sampling.py::sequence_pack). Sharding makes
    packing distributed (one independent stream per shard); within a
    shard the running offset is one streaming window sum."""
    from ..operators.sampling import sequence_pack

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens")
    )
    return sequence_pack(d, "doc_id", "n_tokens", budget=512, n_shards=8)


# ---------------------------------------------------------------------------
# C4 continued — TF-IDF top terms
# ---------------------------------------------------------------------------


@register(
    "c04_tfidf_topterms",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok WHERE term <> '' GROUP BY doc_id, term),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score
      FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, df, score, rank FROM (
      SELECT doc_id, term, tf, df, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS INTEGER)
               AS rank
      FROM scored) r
    WHERE rank <= 3
    """,
)
def c04_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4h: top-3 most characteristic terms per document by tf-idf —
    the keyword/topic-signal pass of corpus analysis. The idf is the
    LOG-FREE rational form (tf x N / df): rank-equivalent to the
    classic log idf for per-document ranking (log is monotone) and
    bit-reproducible across engines, where ln() differs in the last
    ulp between libm and the JVM. Plan: explode → (doc, term) agg →
    term-keyed df agg → broadcast-joined back, per-doc top-k window;
    every shuffle is keyed on doc or term, skew bounded by document
    length / vocabulary frequency."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = tf.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", "tf", "df",
            (F.col("tf").cast("double") * F.col("n_docs") / F.col("df")).alias(
                "score"
            ),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# C7 continued — contamination-safe group split
# ---------------------------------------------------------------------------


def _group_split_oracle() -> str:
    """Oracle twin of the r14-rebased c07_group_split — the SAME
    exact-first stage order as dedup_clusters_compact: collapse
    identical texts to min-id reps, band/close over reps only, then
    label every document through its exact group (solo exact groups
    of >= 2 are their own cluster). Banding-first and exact-first
    labels are pytest-pinned equal below the bucket cap; above it the
    exact-first labels are the CORRECT ones (the banding-first oracle
    would silently drop the >cap mega-bucket — r14 advisor class)."""
    pairs_sql = _lsh_oracle(max_bucket=10_000, source="reps").strip()
    bucket = _O_SCRAMBLE.format(h=_O_HASH.format(
        s="'gsplit:' || CAST(COALESCE(rl.cluster_id, g.doc_id) AS VARCHAR)"
    ))
    return f"""
    WITH RECURSIVE grouped AS (
      SELECT doc_id, text,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id,
             COUNT(*) OVER (PARTITION BY md5(text)) AS grp_n
      FROM documents),
    reps AS (SELECT doc_id, text FROM grouped WHERE doc_id = rep_id),
    gstat AS (SELECT rep_id, MAX(grp_n) AS n_members
              FROM grouped GROUP BY rep_id),
    pairs AS ({pairs_sql}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
    ),
    comp AS (SELECT node AS rep, MIN(r) AS cluster_id
             FROM reach GROUP BY node),
    rep_label AS (
      SELECT rep, cluster_id FROM comp
      UNION ALL
      SELECT g.rep_id, g.rep_id FROM gstat g
      WHERE g.n_members >= 2
        AND NOT EXISTS (SELECT 1 FROM comp c WHERE c.rep = g.rep_id)),
    assigned AS (
      SELECT g.doc_id, COALESCE(rl.cluster_id, g.doc_id) AS group_id,
             {bucket} % 100 AS split_bucket
      FROM grouped g LEFT JOIN rep_label rl ON rl.rep = g.rep_id)
    SELECT doc_id, group_id, split_bucket,
           CASE WHEN split_bucket < 80 THEN 'train'
                WHEN split_bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """


@register("c07_group_split", oracle=_group_split_oracle())
def c07_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7f: CONTAMINATION-SAFE train/val/test split — the split key is
    the near-dup cluster's canonical id, not the document id, so a
    whole duplicate group always lands in one split. Hashing raw doc
    ids (c07_hash_split) puts near-identical documents on both sides
    of the train/test boundary — the classic eval-leak — which is why
    production pipelines split AFTER dedup clustering. Unpaired
    documents are their own group (coalesce to doc_id); the cluster
    map joins in as the small side.

    r14 rebase: the cluster pass is dedup_clusters_compact (exact
    collapse → band reps → CC → linear label join) — the banding-first
    spelling fed the zipf mega-cluster's C(n,2) clique into CC for
    labels that exact-first computes linearly (97.2 s → 6.1 s at
    equal volume, SCALE.md "Graph"). Labels are
    pytest-pinned identical below the bucket cap; the oracle carries
    the same stage order."""
    from ..operators.sampling import split_bucket

    d = t(spark, sf_dir, "documents")
    clusters = dedup_clusters_compact(d, with_sizes=False)
    joined = d.select("doc_id").join(clusters, "doc_id", "left")
    group = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    b = split_bucket(group, salt="gsplit")
    split = (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return joined.select(
        "doc_id",
        group.alias("group_id"),
        b.alias("split_bucket"),
        split.alias("split"),
    )


# ---------------------------------------------------------------------------
# C9 — benchmark decontamination (n-gram overlap vs the eval split)
# ---------------------------------------------------------------------------


@register(
    "c09_decontaminate",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      doc_id % 53 = 0 AS is_eval
               FROM documents),
    g AS (SELECT DISTINCT doc_id, is_eval,
                 array_to_string(list_slice(toks, i, i + 3), ' ') AS gram
          FROM d, unnest(generate_series(1, len(toks) - 3)) AS u(i)),
    ev AS (SELECT DISTINCT gram FROM g WHERE is_eval),
    tr AS (SELECT doc_id, gram FROM g WHERE NOT is_eval),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY doc_id),
    hits AS (SELECT tr.doc_id, COUNT(*) AS n_hits
             FROM tr JOIN ev USING (gram) GROUP BY tr.doc_id)
    SELECT h.doc_id, p.n_grams, h.n_hits,
           CAST(h.n_hits AS DOUBLE) / p.n_grams AS hit_frac
    FROM hits h JOIN per_doc p USING (doc_id)
    """,
)
def c09_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: benchmark DECONTAMINATION — flag training documents sharing
    any word 4-gram with the eval split (deterministic eval set:
    doc_id % 53 = 0), the GPT-3-appendix / Dolma overlap rule. A
    benchmark answer sitting verbatim in the training corpus is the
    leak that invalidates evals, so this check runs over the FULL
    corpus every release. operators/text.py::contamination_flags: the
    eval side's distinct grams broadcast (benchmarks are thousands of
    docs; the corpus is the 100 TB side), so the train probe is a
    map-side hash join — the corpus shuffles once, keyed on
    (doc, gram), and never self-pairs."""
    d = t(spark, sf_dir, "documents")
    return contamination_flags(
        d, "text", "doc_id", is_eval=F.col("doc_id") % 53 == 0, n=4
    )


# ---------------------------------------------------------------------------
# C4 continued — unigram LM quality score; C7 continued — outlier filter
# ---------------------------------------------------------------------------


@register(
    "c04_unigram_logprob",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM tok2 GROUP BY token),
    scored AS (
      SELECT t.doc_id,
             CAST(LENGTH(CAST(v.cnt AS VARCHAR)) - 1 AS BIGINT) AS logq
      FROM tok2 t JOIN vocab v USING (token))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           {o_davg("logq")}         AS mean_log10_freq
    FROM scored GROUP BY doc_id
    """,
)
def c04_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4i: unigram language-model quality score — the CCNet-style
    "does this document look like the corpus" filter: tokenize, look
    every token up in the corpus unigram table, average the log
    frequencies per document (low mean ⇒ rare-token soup ⇒ candidate
    junk). The log is quantized to decades — ``floor(log10 cnt)`` via
    digit count, an integer — because ln()/log10() differ in the last
    ulp between libm and the JVM (same dodge as c04_tfidf_topterms);
    production swaps in true ln() where cross-engine bit-parity isn't
    a constraint, the plan is identical. Shape: explode → token-keyed
    vocab agg → token-keyed lookup join → doc-keyed avg. The vocab
    join key is zipf-skewed; at 100 TB prune the vocab to top-K +
    OOV default and BROADCAST it (a corpus LM table is small after
    pruning), turning the skewed shuffle into a map-side lookup."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    ).filter(F.col("token") != "")
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    scored = tok.join(vocab, "token").select(
        "doc_id",
        (F.length(F.col("cnt").cast("string")) - 1).cast("long").alias("logq"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"), davg("logq", "mean_log10_freq")
    )


@register(
    "c07_outlier_filter",
    oracle="""
    WITH stats AS (
      SELECT lang,
             quantile_cont(n_chars, 0.25) AS p25,
             quantile_cont(n_chars, 0.75) AS p75
      FROM documents GROUP BY lang)
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN stats s USING (lang)
    WHERE d.n_chars >= s.p25 - 0.5 * (s.p75 - s.p25)
      AND d.n_chars <= s.p75 + 0.5 * (s.p75 - s.p25)
    """,
)
def c07_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7g: per-group IQR outlier filter — drop documents whose length
    is outside [p25 − k·IQR, p75 + k·IQR] *for their language* —
    the robust-statistics version of a min/max length cut (a fixed cut
    mis-filters languages with different length distributions; k is
    Tukey's 1.5 in production — 0.5 here so the tight synthetic length
    distribution actually exercises the drop branch at every SF). Two
    passes: tiny per-lang exact-percentile agg (`percentile` and
    DuckDB's `quantile_cont` share the p·(n−1) interpolation formula,
    verified bit-identical in b16_percentile_agg), broadcast back,
    row-local range test. At 100 TB the exact percentile becomes
    approx_percentile (mergeable sketch, B18 pattern) and the rest of
    the plan is unchanged — filters this selective belong BEFORE the
    expensive dedup/LM stages in the funnel (c07_filter_funnel)."""
    d = t(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.25)").alias("p25"),
        F.expr("percentile(n_chars, 0.75)").alias("p75"),
    )
    iqr = F.col("p75") - F.col("p25")
    return (
        d.join(F.broadcast(stats), "lang")
        .filter(
            (F.col("n_chars") >= F.col("p25") - 0.5 * iqr)
            & (F.col("n_chars") <= F.col("p75") + 0.5 * iqr)
        )
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "c07_token_budget_sample",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_O_SCRAMBLE.format(h=_O_HASH.format(s="'budget:' || CAST(doc_id AS VARCHAR)"))}
               % 1000000007 AS hkey
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY hkey, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_tokens
      FROM toks)
    SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 12000
    """,
)
def c07_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7h: fill a fixed TOKEN budget (12k here) with documents in
    deterministic hash order — the "give me exactly N tokens of this
    source" selection every training-mix builder runs (doc-count
    quotas over-/under-shoot because document lengths vary). The
    running total uses operators/rank.py::prefix_sum — range
    repartition + parallel local cumsums + a partition-count offset
    join — NOT a global window, which would serialize the corpus
    through one task at 100 TB. Hash order (salt 'budget') makes the
    sample stable across runs and uncorrelated with any data column;
    the inclusive cumsum keeps the straddling document out (budget is
    a hard cap)."""
    from ..operators.rank import prefix_sum
    from ..operators.sampling import split_bucket

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        split_bucket(F.col("doc_id"), "budget", 1_000_000_007).alias("hkey"),
    )
    # pin=False: deterministic parquet lineage — recompute reproduces
    # identical partitions, so the pin (and its full-dataset storage
    # cost) is reserved for nondeterministic upstreams (see rank.py).
    cum = prefix_sum(
        toks, ["hkey", "doc_id"], "n_tokens", out_col="cum_tokens", pin=False
    )
    return cum.filter(F.col("cum_tokens") <= 12_000).select(
        "doc_id", "n_tokens", "cum_tokens"
    )


@register(
    "c04_unigram_logprob_topk",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM tok2 GROUP BY token),
    topk AS (SELECT token, cnt FROM vocab
             ORDER BY cnt DESC, token LIMIT 200),
    scored AS (
      SELECT t.doc_id,
             CAST(COALESCE(LENGTH(CAST(v.cnt AS VARCHAR)) - 1, 0) AS BIGINT)
               AS logq,
             CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok2 t LEFT JOIN topk v USING (token))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)   AS n_tokens,
           CAST(SUM(oov) AS BIGINT)   AS n_oov,
           {o_davg("logq")}           AS mean_log10_freq
    FROM scored GROUP BY doc_id
    """,
)
def c04_unigram_logprob_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4i-scale: the PRUNED-VOCAB spelling c04_unigram_logprob's
    docstring prescribes, implemented: keep only the top-200 tokens by
    corpus frequency (deterministic (cnt DESC, token) cutoff),
    BROADCAST them, and score out-of-vocabulary tokens with the OOV
    default (count 1 → quantized log 0), reporting the OOV count per
    doc alongside. The zipf-skewed token-keyed lookup shuffle becomes
    a map-side broadcast hash join — the shape that survives a 100 TB
    corpus, where the full vocab join cannot broadcast but the pruned
    LM table always can."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    ).filter(F.col("token") != "")
    topk = (
        tok.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(200)
    )
    scored = tok.join(F.broadcast(topk), "token", "left").select(
        "doc_id",
        F.coalesce(
            F.length(F.col("cnt").cast("string")) - 1, F.lit(0)
        )
        .cast("long")
        .alias("logq"),
        F.when(F.col("cnt").isNull(), 1).otherwise(0).alias("oov"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        davg("logq", "mean_log10_freq"),
    )


# ---------------------------------------------------------------------------
# C6 continued — PageRank over the near-dup graph (iterative numeric)
# ---------------------------------------------------------------------------


def _pagerank_oracle(n_iter: int = 3) -> str:
    """Unrolled power iteration as chained CTEs; each round sums
    per-edge contributions through DECIMAL(38,6) so accumulation order
    is irrelevant (the util.py float-determinism policy, applied to an
    iterative algorithm — every iteration's output doubles are then
    bit-identical inputs to the next)."""
    pairs_sql = _lsh_oracle(max_bucket=10_000).strip()
    parts = [
        f"WITH RECURSIVE pairs AS ({pairs_sql}),",
        """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
               FROM edges GROUP BY src),
    pr0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM outdeg)""",
    ]
    for i in range(1, n_iter + 1):
        parts.append(f""",
    pr{i} AS (
      SELECT e.dst AS node,
             0.15 + 0.85 * CAST(SUM(CAST(p.pr / o.d AS DECIMAL(38,6)))
                                AS DOUBLE) AS pr
      FROM edges e
      JOIN pr{i-1} p ON p.node = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst)""")
    parts.append(
        f"\nSELECT node AS doc_id, pr AS pagerank FROM pr{n_iter}"
    )
    return "".join(parts)


@register("c06_pagerank", oracle=_pagerank_oracle())
def c06_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6c: 3-iteration PageRank over the symmetrized LSH candidate
    graph — the centrality signal dedup pipelines use to pick the
    canonical document of a cluster (most-connected survivor) and the
    second iterative graph algorithm beside the components resolver.
    Each round is one edge⋈rank join + a dst-keyed agg (same shuffle
    shape as c06_dedup_clusters' rounds, lineage truncated per round);
    per-edge contributions sum through DECIMAL(38,6) so every
    iteration's doubles — and therefore the whole fixed-point prefix —
    are bit-identical to the unrolled-CTE oracle. Fixed iteration
    count (not convergence-tested) keeps plan depth bounded; rank
    spread at 3 iters already separates hubs from leaves."""
    sigs = minhash_signature(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=8, portable=True
    )
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", k=8, band_size=2, max_bucket=10_000
    )
    # symmetrize_pairs (r14): both orientations in ONE pass over the
    # LSH pipeline instead of a two-branch union that evaluated it
    # twice inside the checkpoint's materializing job.
    edges = symmetrize_pairs(pairs, "id_a", "id_b", "src", "dst").localCheckpoint(
        eager=False
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("d"))
    pr = outdeg.select(F.col("src").alias("node"), F.lit(1.0).alias("pr"))
    for _ in range(3):
        contrib = (
            edges.join(pr, edges["src"] == pr["node"])
            .join(outdeg, "src")
            .select(
                F.col("dst"),
                (F.col("pr") / F.col("d")).cast("decimal(38,6)").alias("c"),
            )
        )
        pr = (
            contrib.groupBy("dst")
            .agg(
                (0.15 + 0.85 * F.sum("c").cast("double")).alias("pr")
            )
            .select(F.col("dst").alias("node"), "pr")
            .localCheckpoint(eager=False)
        )
    return pr.select(F.col("node").alias("doc_id"), F.col("pr").alias("pagerank"))


@register(
    "c02_edit_distance_verify",
    oracle="""
    WITH pairs AS ({pairs}),
    j AS (
      SELECT p.id_a, p.id_b,
             CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
             CAST(GREATEST(LENGTH(da.text), LENGTH(db.text)) AS BIGINT)
               AS max_len
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b)
    SELECT id_a, id_b, edit_dist,
           1.0 - CAST(edit_dist AS DOUBLE) / max_len AS edit_sim,
           (edit_dist * 10 <= max_len) AS is_dup
    FROM j
    """.format(pairs=_lsh_oracle(max_bucket=10_000).strip()),
)
def c02_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2f: edit-distance VERIFICATION of LSH candidate pairs — the
    exact-but-expensive last stage of the dedup funnel, run only on
    the banded candidates (Levenshtein is O(len²) per pair; pointing
    it at all pairs is the classic blowup — blocking first is what
    makes it affordable, same discipline as c02_ngram_jaccard).
    Integer DP metric → bit-identical across engines, so unlike the
    cosine paths this verifier needs no float discipline at all.
    Shape: candidate pairs → two broadcast-able id-keyed joins to
    fetch texts → row-local DP; dup verdict at ≥90% similarity
    (edit_dist ≤ max_len/10, integer arithmetic)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signature(d, "text", "doc_id", k=8, portable=True)
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", k=8, band_size=2, max_bucket=10_000
    )
    j = (
        pairs.join(
            d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta")),
            "id_a",
        )
        .join(
            d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("ta", "tb").cast("long").alias("edit_dist"),
            F.greatest(F.length("ta"), F.length("tb"))
            .cast("long")
            .alias("max_len"),
        )
    )
    return j.select(
        "id_a",
        "id_b",
        "edit_dist",
        (1.0 - F.col("edit_dist").cast("double") / F.col("max_len")).alias(
            "edit_sim"
        ),
        (F.col("edit_dist") * 10 <= F.col("max_len")).alias("is_dup"),
    )


@register(
    "c07_time_split",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_orderdate,
             CASE WHEN o_orderdate <  DATE '1996-01-01' THEN 'train'
                  WHEN o_orderdate <  DATE '1997-06-01' THEN 'val'
                  ELSE 'test' END AS split
      FROM orders)
    SELECT split,
           CAST(COUNT(*) AS BIGINT)                   AS n,
           strftime(MIN(o_orderdate), '%Y-%m-%d')     AS first_day,
           strftime(MAX(o_orderdate), '%Y-%m-%d')     AS last_day
    FROM s GROUP BY split
    """,
)
def c07_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7i: TEMPORAL train/val/test split — cut by event time, not
    hash: for forecasting-style tasks a hash split (C7a) leaks the
    future into training, so the eval sets must be strictly LATER
    than everything trained on. Row-local date comparison at scan
    speed (zero shuffle for the assignment; on a date-partitioned
    table the split IS partition pruning). The query emits per-split
    counts plus each split's first/last day — the min/max bounds prove
    the splits are chronologically disjoint, which is the property
    this split exists for."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    d1 = F.lit("1996-01-01").cast("date")
    d2 = F.lit("1997-06-01").cast("date")
    s = o.withColumn(
        "split",
        F.when(F.col("o_orderdate") < d1, "train")
        .when(F.col("o_orderdate") < d2, "val")
        .otherwise("test"),
    )
    return s.groupBy("split").agg(
        F.count("*").alias("n"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_day"),
    )


# ---------------------------------------------------------------------------
# C2 continued — SemDeDup (cluster-bucketed semantic dedup)
# ---------------------------------------------------------------------------

from .tier_c import _O_NORMS, _o_dot  # noqa: E402 (shared cosine oracle spellings)

_SEM_TAU = 0.3
_SEM_CMOD = 40


@register(
    "c02_semdedup",
    oracle=f"""
    WITH norms AS ({_O_NORMS}),
    cent AS (SELECT e.vec_id AS centroid_id, e.embedding AS cv, n.nrm AS cvn
             FROM embeddings e JOIN norms n ON n.vec_id = e.vec_id
             WHERE e.vec_id % {_SEM_CMOD} = 0),
    scored AS (SELECT e.vec_id AS vid, e.embedding AS v, n.nrm AS vn,
                      c.centroid_id,
                      {_o_dot('e.embedding', 'c.cv')} / (n.nrm * c.cvn) AS cs
               FROM embeddings e JOIN norms n ON n.vec_id = e.vec_id
               CROSS JOIN cent c),
    assigned AS (SELECT vid, v, vn, centroid_id FROM (
        SELECT vid, v, vn, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vid
                                  ORDER BY cs DESC, centroid_id) AS rn
        FROM scored) r WHERE rn = 1),
    dropped AS (SELECT DISTINCT b.vid AS vid
                FROM assigned a JOIN assigned b
                  ON a.centroid_id = b.centroid_id AND a.vid < b.vid
                WHERE {_o_dot('a.v', 'b.v')} / (a.vn * b.vn) >= {_SEM_TAU})
    SELECT a.vid AS vec_id, a.centroid_id,
           (d.vid IS NULL) AS is_kept
    FROM assigned a LEFT JOIN dropped d ON d.vid = a.vid
    """,
)
def c02_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2g: SemDeDup — semantic near-duplicate pruning bucketed by
    coarse k-means cell (operators/similarity.py::semdedup; Abbas et
    al. 2023). Nearest-centroid assignment (broadcast centroids, one
    corpus pass, argmax agg), then pairwise cosine ONLY within a cell;
    a vector is dropped iff a lower-id cell-mate scores >= {_SEM_TAU}.
    The min-id representative of every duplicate group survives, and
    every corpus row comes back with (centroid_id, is_kept) so the
    keep-filter composes with downstream splits. Complements the
    LSH-bucketed c02_embedding_neardup: cluster-bucketing is the
    candidate generator that matches how SEMANTIC dups distribute.
    Quadratic only within a cell (k ≈ √N trained centroids at scale;
    deterministic id-mod seeds here keep the oracle SQL-expressible).
    """
    emb = t(spark, sf_dir, "embeddings")
    return semdedup(
        emb, "vec_id", "embedding", threshold=_SEM_TAU, centroid_mod=_SEM_CMOD
    )


# ---------------------------------------------------------------------------
# C4 continued — interpolated bigram LM; C7 continued — domain mixture plan
# ---------------------------------------------------------------------------

_MIX_W = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}
_MIX_BUDGET = 10_000_000


@register(
    "c04_bigram_interp_score",
    oracle=f"""
    WITH tok AS (SELECT doc_id,
                        list_filter(string_split(text, ' '), t -> t <> '') AS tk
                 FROM documents),
    n AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS n_tok FROM tok),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM
              (SELECT unnest(tk) AS w FROM tok) GROUP BY w),
    idx AS (SELECT doc_id, tk,
                   unnest(generate_series(1, len(tk) - 1)) AS i
            FROM tok),
    big AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2 FROM idx),
    bigc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
             FROM big GROUP BY w1, w2),
    scored AS (SELECT b.doc_id,
            1000000.0 * (0.5 * (CAST(c.c12 AS DOUBLE) / CAST(u1.cnt AS DOUBLE))
                       + 0.5 * (CAST(u2.cnt AS DOUBLE) / CAST(n.n_tok AS DOUBLE)))
              AS p_ppm
      FROM big b
      JOIN bigc c ON c.w1 = b.w1 AND c.w2 = b.w2
      JOIN uni u1 ON u1.w = b.w1
      JOIN uni u2 ON u2.w = b.w2
      CROSS JOIN n)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {o_davg('p_ppm')} AS mean_interp_ppm
    FROM scored GROUP BY doc_id
    """,
)
def c04_bigram_interp_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4m: interpolated bigram LM quality score — the 2-gram upgrade
    of c04_unigram_logprob: every adjacent token pair is scored
    ``λ·c(w1,w2)/c(w1) + (1−λ)·c(w2)/N`` (Jelinek–Mercer smoothing,
    λ=0.5; unigram counts as the backoff context) and averaged per
    document — low mean ⇒ the document's word ORDER looks nothing
    like the corpus, the signal unigram frequency misses (word-salad
    spam has healthy unigrams). Probabilities are scaled to ppm
    BEFORE the decimal-trick mean so DECIMAL(38,6) quantization keeps
    6 significant decimals of signal (raw p ~ 1e-5 would drown).
    All counts exact int64; each score is 3 IEEE row-local ops —
    bit-stable. Shape: array-local bigram extraction
    (operators/text.py::bigram_pairs, zero shuffles) → two keyed
    count aggs → three lookup joins → doc-keyed mean. At 100 TB the
    LM tables prune to top-K + OOV and broadcast, the same map-side
    plan as c04_unigram_logprob_topk. Docs with < 2 tokens drop out
    (no bigrams), matching the oracle's inner joins."""
    d = t(spark, sf_dir, "documents")
    tokf = F.filter(tokens("text"), lambda x: x != "")
    big = (
        d.select("doc_id", F.explode(bigram_pairs(tokf)).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    tok = d.select(F.explode(tokf).alias("w"))
    n_tok = tok.groupBy().agg(F.count("*").alias("n_tok"))
    uni = tok.groupBy("w").agg(F.count("*").alias("cnt"))
    bigc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    scored = (
        big.join(bigc, ["w1", "w2"])
        .join(uni.select(F.col("w").alias("w1"), F.col("cnt").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cnt").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "doc_id",
            (
                F.lit(1000000.0)
                * (
                    F.lit(0.5)
                    * (F.col("c12").cast("double") / F.col("c1").cast("double"))
                    + F.lit(0.5)
                    * (F.col("c2").cast("double") / F.col("n_tok").cast("double"))
                )
            ).alias("p_ppm"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), davg("p_ppm", "mean_interp_ppm")
    )


def _mix_case() -> str:
    arms = " ".join(f"WHEN '{k}' THEN {w!r}" for k, w in _MIX_W.items())
    return f"CASE lang {arms} ELSE 0.0 END"


@register(
    "c07_domain_mix",
    oracle=f"""
    WITH d AS (SELECT lang,
                      CAST(len(list_filter(string_split(text, ' '),
                                           t -> t <> '')) AS BIGINT) AS n_tok
               FROM documents),
    agg AS (SELECT lang AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS available_tokens,
                   ANY_VALUE({_mix_case()}) AS weight
            FROM d GROUP BY lang)
    SELECT domain, n_docs, available_tokens, weight,
           weight * {float(_MIX_BUDGET)!r} AS target_tokens,
           (weight * {float(_MIX_BUDGET)!r})
             / CAST(available_tokens AS DOUBLE) AS epochs,
           (weight * {float(_MIX_BUDGET)!r})
             > CAST(available_tokens AS DOUBLE) AS needs_upsampling
    FROM agg
    """,
)
def c07_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7o: domain-mixture plan (operators/sampling.py::
    domain_mix_plan) — per-language token inventory vs a literal
    target mixture over a 10M-token budget: available tokens, target
    tokens, repetition factor (epochs) and the upsampling flag the
    training sampler consumes (DoReMi-style static mixture planning;
    mixture_expand / weighted_sample execute it downstream). One
    |domains|-key groupBy, weight lookup is a literal map — no joins,
    no shuffle beyond the partial agg; identical at any corpus size."""
    d = t(spark, sf_dir, "documents")
    with_tok = d.select(
        "lang",
        F.size(F.filter(tokens("text"), lambda x: x != "")).alias("n_tok"),
    )
    return domain_mix_plan(
        with_tok, "lang", "n_tok", _MIX_W, _MIX_BUDGET
    )


# ---------------------------------------------------------------------------
# C6 continued — alternating-star connected components (O(log n) rounds)
# ---------------------------------------------------------------------------


@register("c06_cc_alternating_star", oracle=_clusters_oracle())
def c06_cc_alternating_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6e: the same LSH-pair → duplicate-cluster closure as
    c06_dedup_clusters, resolved by alternating large-star/small-star
    (operators/cluster.py::connected_components_star, Kiveris et al.
    SoCC'14) instead of min-label propagation. Round count is O(log n)
    on ANY graph shape — the production fallback when the pair graph's
    diameter is not known to be small (chained near-dup families,
    template explosions) and min-label's diameter-bounded loop would
    not terminate in budget. Identical output contract, so the same
    recursive-CTE oracle hash-checks both algorithms."""
    sigs = minhash_signature(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=8, portable=True
    )
    # Star expansion (r15): closure-only consumer — see c06_dedup_clusters.
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", k=8, band_size=2, max_bucket=10_000, expansion="star"
    )
    return dedup_clusters(pairs, algorithm="star")


# ---------------------------------------------------------------------------
# C4 continued — CCNet-style perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------------


@register(
    "c04_ppl_buckets",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    tok2 AS (SELECT doc_id, lang, token FROM tok WHERE token <> ''),
    vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM tok2 GROUP BY token),
    scored AS (
      SELECT t.doc_id, t.lang,
             CAST(LENGTH(CAST(v.cnt AS VARCHAR)) - 1 AS BIGINT) AS logq
      FROM tok2 t JOIN vocab v USING (token)),
    per_doc AS (
      SELECT doc_id, lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(logq) AS DOUBLE) / COUNT(*) AS lm_score
      FROM scored GROUP BY doc_id, lang),
    tiled AS (
      SELECT doc_id, lang, n_tokens, lm_score,
             ntile(3) OVER (PARTITION BY lang
                            ORDER BY lm_score DESC, doc_id) AS tile
      FROM per_doc)
    SELECT doc_id, lang, n_tokens, lm_score,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket
    FROM tiled
    """,
)
def c04_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4n: CCNet-style perplexity bucketing — score every document
    with the corpus unigram LM (same decade-quantized log-frequency as
    c04_unigram_logprob, integer-exact cross-engine), then split each
    language into head / middle / tail TERTILES by score (ntile over a
    per-language window; doc_id tiebreak keeps the tiling
    deterministic). This is the canonical LM-quality partition of a
    crawl corpus: train on head+middle, audit tail. The per-language
    ntile is the only full-sort step; at 100 TB swap the exact ntile
    for approx-quantile cutpoints computed once and broadcast — same
    output contract, one corpus pass, no global sort (the exact tiling
    here is what makes the DuckDB hash check possible). The score
    division is a single int/int IEEE op — bit-identical both engines."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("token")
    ).filter(F.col("token") != "")
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    scored = tok.join(vocab, "token").select(
        "doc_id",
        "lang",
        (F.length(F.col("cnt").cast("string")) - 1).cast("long").alias("logq"),
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_tokens"),
        (F.sum("logq").cast("double") / F.count("*")).alias("lm_score"),
    )
    w = W.partitionBy("lang").orderBy(F.desc("lm_score"), "doc_id")
    tiled = per_doc.withColumn("tile", F.ntile(3).over(w))
    return tiled.select(
        "doc_id",
        "lang",
        "n_tokens",
        "lm_score",
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# C7 continued — temperature-scaled sampling mixture (multilingual T=2)
# ---------------------------------------------------------------------------


@register(
    "c07_temperature_mix",
    oracle="""
    WITH agg AS (
      SELECT lang,
             CAST(SUM(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang),
    w AS (SELECT lang, n_tokens,
                 sqrt(CAST(n_tokens AS DOUBLE)) AS temp_weight
          FROM agg)
    SELECT lang, n_tokens, temp_weight,
           temp_weight /
             CAST(SUM(CAST(temp_weight AS DECIMAL(38,6))) OVER ()
                  AS DOUBLE) AS p_sample
    FROM w
    """,
)
def c07_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7p: temperature-scaled sampling mixture — the multilingual
    standard (mBERT/XLM-R): sample language l with probability
    ∝ n_l^(1/T), flattening the natural size distribution so
    low-resource languages are not drowned. T=2 here, i.e. sqrt —
    deliberately, because sqrt is IEEE-correctly-rounded in both
    engines while pow(x, 1/T) is a libm-vs-JVM last-ulp flake (same
    reasoning as the decade-quantized LM scores). The normalizer is a
    window over the ALREADY-AGGREGATED |langs| rows (the b63 one-pass
    share-of-total shape; constant partition key per house convention)
    with the decimal-sum trick making the total order-independent.
    One corpus scan, one |langs|-key shuffle — size-invariant."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    agg = d.groupBy("lang").agg(
        F.sum(F.size(F.filter(tokens("text"), lambda x: x != ""))).alias(
            "n_tokens"
        )
    )
    w = agg.select(
        "lang",
        "n_tokens",
        F.sqrt(F.col("n_tokens").cast("double")).alias("temp_weight"),
    )
    win = W.partitionBy(bounded_partition_key("n_tokens"))
    total = F.sum(F.col("temp_weight").cast(DEC)).over(win).cast("double")
    return w.select(
        "lang",
        "n_tokens",
        "temp_weight",
        (F.col("temp_weight") / total).alias("p_sample"),
    )


# ---------------------------------------------------------------------------
# C9 continued — FUZZY decontamination (near-dup vs the eval split)
# ---------------------------------------------------------------------------


@register(
    "c09_decontaminate_fuzzy",
    oracle=f"""
    WITH pairs AS ({_lsh_oracle(max_bucket=10_000)}),
    fl AS (SELECT doc_id, doc_id % 11 = 0 AS ev FROM documents),
    x AS (SELECT CASE WHEN fa.ev THEN p.id_b ELSE p.id_a END AS train_id,
                 CASE WHEN fa.ev THEN p.id_a ELSE p.id_b END AS eval_id
          FROM pairs p
          JOIN fl fa ON fa.doc_id = p.id_a
          JOIN fl fb ON fb.doc_id = p.id_b
          WHERE fa.ev <> fb.ev)
    SELECT train_id AS doc_id,
           CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS n_eval_neardups
    FROM x GROUP BY train_id
    """,
)
def c09_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9b: FUZZY benchmark decontamination — training documents that
    are MinHash-LSH near-duplicates of any eval document (eval set
    doc_id % 11 = 0 — denser than c09's % 53 so eval×train crossings
    exist at every test SF and the gate is non-vacuous). The 4-gram
    rule (c09_decontaminate) misses paraphrased or lightly-edited
    leaks; near-dup decontamination is the second gate every serious
    release runs (GPT-3's 13-gram rule's fuzzy cousin; Dolma ships
    both). Pipeline: ONE signature pass over the whole corpus (eval
    and train rows together — no second scan for the eval side),
    production-capped LSH banding, then the candidate pairs are
    restricted to eval×train crossings and grouped to a per-train-doc
    eval-match count. At 100 TB the banding shuffle dominates and is
    shared with the dedup pipeline's candidates — a deployment
    computes both from the same bucket pass; eval docs add ~0 volume.
    """
    d = t(spark, sf_dir, "documents")
    sigs = minhash_signature(d, "text", "doc_id", k=8, portable=True)
    pairs = lsh_candidate_pairs(sigs, "doc_id", k=8, band_size=2, max_bucket=10_000)
    fl = d.select("doc_id", (F.col("doc_id") % 11 == 0).alias("ev"))
    fa = fl.select(F.col("doc_id").alias("id_a"), F.col("ev").alias("ev_a"))
    fb = fl.select(F.col("doc_id").alias("id_b"), F.col("ev").alias("ev_b"))
    x = (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .filter(F.col("ev_a") != F.col("ev_b"))
        .select(
            F.when(F.col("ev_a"), F.col("id_b")).otherwise(F.col("id_a")).alias("train_id"),
            F.when(F.col("ev_a"), F.col("id_a")).otherwise(F.col("id_b")).alias("eval_id"),
        )
    )
    return x.groupBy(F.col("train_id").alias("doc_id")).agg(
        F.countDistinct("eval_id").alias("n_eval_neardups")
    )


# ---------------------------------------------------------------------------
# C6 continued — k-core peeling (graph density beyond components/triangles)
# ---------------------------------------------------------------------------


def _kcore_oracle(k: int = 2, rounds: int = 3) -> str:
    stages = []
    prev = "e0"
    for r in range(rounds):
        stages.append(
            f"""
    d{r} AS (SELECT u, COUNT(*) AS deg FROM {prev} GROUP BY u),
    k{r} AS (SELECT u FROM d{r} WHERE deg >= {k}),
    e{r + 1} AS (SELECT e.u, e.v FROM {prev} e
                 JOIN k{r} a ON e.u = a.u JOIN k{r} b ON e.v = b.u)"""
        )
        prev = f"e{r + 1}"
    return f"""
    WITH pairs AS ({_lsh_oracle(max_bucket=10_000)}),
    e0 AS (SELECT id_a AS u, id_b AS v FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
    {",".join(stages)}
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM {prev} GROUP BY u
    """


@register("c06_kcore", oracle=_kcore_oracle())
def c06_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6f: 2-core of the near-dup candidate graph after 3 peeling
    rounds (operators/cluster.py::kcore_peel) — the graph-density
    signal between components (c06_dedup_clusters: how BIG) and
    triangles (c06_triangle_count: how CLIQUISH): documents peeled
    out of the core matched only through low-degree chains, where
    near-dup transitivity is weakest and aggressive cluster-level
    dedup loses real content; deep-core documents sit in dense
    boilerplate neighborhoods where it is safe. Every round is
    node-keyed (semi-joins + degree agg) — no pair expansion beyond
    the LSH candidates themselves; the oracle unrolls the identical
    3 rounds as CTE stages."""
    d = t(spark, sf_dir, "documents")
    sigs = minhash_signature(d, "text", "doc_id", k=8, portable=True)
    pairs = lsh_candidate_pairs(sigs, "doc_id", k=8, band_size=2, max_bucket=10_000)
    return kcore_peel(pairs, "id_a", "id_b", k=2, rounds=3)


# ---------------------------------------------------------------------------
# C4 continued — term co-occurrence / PMI lift (collocation mining)
# ---------------------------------------------------------------------------


@register(
    "c04_pmi_lift",
    oracle="""
    WITH ds AS (SELECT doc_id,
                       list_distinct(list_filter(string_split(text, ' '),
                                                 t -> t <> '')) AS s
                FROM documents),
    tok AS (SELECT doc_id, unnest(s) AS token FROM ds),
    dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM tok GROUP BY token),
    vocab AS (SELECT token, n_docs FROM dfreq
              ORDER BY n_docs DESC, token LIMIT 40),
    vt AS (SELECT tok.doc_id, tok.token FROM tok JOIN vocab USING (token)),
    pr AS (SELECT a.token AS term_a, b.token AS term_b
           FROM vt a JOIN vt b
             ON a.doc_id = b.doc_id AND a.token < b.token),
    c AS (SELECT term_a, term_b, CAST(COUNT(*) AS BIGINT) AS n_ab
          FROM pr GROUP BY term_a, term_b),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM documents)
    SELECT term_a, term_b, n_ab,
           va.n_docs AS n_a, vb.n_docs AS n_b,
           CAST(n_ab * n_corpus AS DOUBLE)
             / CAST(va.n_docs * vb.n_docs AS DOUBLE) AS lift
    FROM c CROSS JOIN n
    JOIN vocab va ON va.token = term_a
    JOIN vocab vb ON vb.token = term_b
    WHERE n_ab >= 5
    ORDER BY lift DESC, term_a, term_b LIMIT 50
    """,
)
def c04_pmi_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4l: collocation mining — document-level co-occurrence lift
    (the exp of PMI: p(a,b) / p(a)p(b)) over a pruned vocabulary; the
    corpus statistic behind multi-word-expression detection and
    tokenizer merge decisions. The naive spelling is a token-table
    self-join — corpus² on stopword keys. The scale shape here:

    1. one doc-frequency agg → top-V vocabulary (V=40), collected
       into a single broadcast ARRAY row (vocab tables are small by
       construction after pruning — the c04_unigram_logprob_topk
       argument);
    2. per-document ``array_intersect`` against the broadcast vocab +
       higher-order ``transform``/``filter`` pair expansion — pair
       generation is MAP-SIDE, bounded by V²/2 per doc, no join;
    3. one (a,b)-keyed count whose output is ≤ V²/2 rows, then two
       broadcast vocab lookups for the marginals.

    The lift is one IEEE division of exact integer products (doc
    counts), so ranking ties and values are engine-exact — the same
    last-ulp dodge as the c04 LM family's quantized logs."""
    d = t(spark, sf_dir, "documents")
    toks = F.array_distinct(
        F.filter(tokens("text"), lambda x: x != F.lit(""))
    )
    ds = d.select("doc_id", toks.alias("s"))
    tok = ds.select("doc_id", F.explode("s").alias("token"))
    dfreq = tok.groupBy("token").agg(F.count("*").alias("n_docs"))
    vocab = dfreq.orderBy(F.col("n_docs").desc(), "token").limit(40)
    vlist = vocab.agg(F.sort_array(F.collect_list("token")).alias("v"))
    pruned = ds.crossJoin(F.broadcast(vlist)).select(
        "doc_id", F.sort_array(F.array_intersect("s", "v")).alias("p")
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "p",
                lambda x: F.transform(
                    F.col("p"),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        ),
        lambda s: s["a"] < s["b"],
    )
    pairs = pruned.select(F.explode(pair_structs).alias("pr")).select(
        F.col("pr.a").alias("term_a"), F.col("pr.b").alias("term_b")
    )
    c = pairs.groupBy("term_a", "term_b").agg(F.count("*").alias("n_ab"))
    n = d.agg(F.count("*").alias("n_corpus"))
    va = vocab.select(
        F.col("token").alias("term_a"), F.col("n_docs").alias("n_a")
    )
    vb = vocab.select(
        F.col("token").alias("term_b"), F.col("n_docs").alias("n_b")
    )
    return (
        c.join(F.broadcast(va), "term_a")
        .join(F.broadcast(vb), "term_b")
        .crossJoin(F.broadcast(n))
        .filter(F.col("n_ab") >= 5)
        .select(
            "term_a",
            "term_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab") * F.col("n_corpus")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "term_a", "term_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# C7 continued — balanced shard assignment (serpentine LPT)
# ---------------------------------------------------------------------------


@register(
    "c07_shard_balance",
    oracle="""
    WITH r AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents),
    c AS (SELECT doc_id, n_chars, (rk - 1) % 16 AS cyc FROM r)
    SELECT doc_id, n_chars,
           CAST(CASE WHEN cyc < 8 THEN cyc ELSE 15 - cyc END AS INTEGER)
             AS shard
    FROM c
    """,
)
def c07_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7r: near-balanced shard assignment
    (operators/sampling.py::shard_balance) — write N training shards
    of ~equal byte/token weight: serpentine round-robin in descending
    size order, the deterministic distributed relaxation of greedy
    LPT (whose "append to currently-lightest" rule is a sequential
    driver loop at corpus scale). The size rank is the exchange-aware
    global_rank (no single-reducer window); everything after is
    row-local modular arithmetic. The boustrophedon pairing bounds
    pairwise shard drift to one maximal group; balance quality on the
    corpus is pinned in pytest (max/min shard weight)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return shard_balance(d, "n_chars", n_shards=8)


# ---------------------------------------------------------------------------
# C4 continued — BPE merge-step pair counting (tokenizer training)
# ---------------------------------------------------------------------------


@register(
    "c04_bpe_pair_counts",
    oracle="""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents),
    wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
           FROM w WHERE word <> '' GROUP BY word),
    p AS (SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, n
          FROM (SELECT word, n, unnest(range(1, length(word))) AS i
                FROM wf WHERE length(word) >= 2)),
    c AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS total FROM p GROUP BY pair)
    SELECT pair, total FROM c ORDER BY total DESC, pair LIMIT 20
    """,
)
def c04_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4p: the BPE training inner step — weighted adjacent-symbol
    pair counts over the corpus (Sennrich et al., ACL 2016): the pair
    chosen for the next merge is the global argmax, here the head of
    the returned top-20. The scale shape tokenizer trainers actually
    use: corpus → WORD-FREQUENCY table first (one token-keyed agg —
    pair extraction then runs on the vocabulary, ~10⁵ rows, NOT the
    corpus), pairs row-local per word, one pair-keyed weighted sum
    bounded by |symbol pairs|. A full BPE run loops this k times with
    the winning merge applied to the vocabulary between rounds —
    bounded-round driver iteration exactly like c03_kmeans_iter; the
    per-round plan is what's registered and hash-checked. Ties in
    pair frequency break lexically (deterministic merge tables)."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(tokens("text")).alias("word")
    ).filter(F.col("word") != "")
    wf = words.groupBy("word").agg(F.count("*").alias("n"))
    pairs = (
        wf.filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.substr("word", i, F.lit(2)),
                )
            ).alias("pair"),
            "n",
        )
    )
    c = pairs.groupBy("pair").agg(F.sum("n").alias("total"))
    return c.orderBy(F.col("total").desc(), "pair").limit(20)


# ---------------------------------------------------------------------------
# C7 continued — dataset fingerprint (reproducibility manifest)
# ---------------------------------------------------------------------------


@register(
    "c07_dataset_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT CAST(('0x' || substr(md5(
               chr(1) || CAST(doc_id AS VARCHAR) || chr(31) ||
               chr(1) || text || chr(31) ||
               CASE WHEN lang IS NULL THEN chr(0)
                    ELSE chr(1) || lang END || chr(31) ||
               CASE WHEN source IS NULL THEN chr(0)
                    ELSE chr(1) || source END), 1, 15)) AS BIGINT) AS h
      FROM documents)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           bit_xor(h) AS corpus_fp
    FROM fp
    """,
)
def c07_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7s: the dataset fingerprint — one order-insensitive 60-bit
    checksum (+ row count) over the whole corpus, the line a data
    card / training run manifest records so "trained on dataset X"
    is verifiable instead of aspirational: any added, dropped, or
    edited document flips the XOR; re-sharding, re-ordering, or
    re-partitioning does not (the layout-insensitivity that makes it
    comparable across storage migrations — same combiner argument as
    M10's bucket checksums, collapsed to one bucket because the
    question is identity, not localization; when it answers "not
    equal", M10 is the drill-down that says WHERE). Engine-portable
    md5 rendering (operators/reconcile.py::row_fingerprint), so the
    consumer of a published dataset can verify the fingerprint in
    whatever system they load it into — pinned by the DuckDB oracle
    computing it independently. One map-side-combined aggregate; the
    fingerprint of 100 TB costs one scan and ships 16 bytes."""
    from ..operators.reconcile import row_fingerprint

    d = t(spark, sf_dir, "documents")
    h = row_fingerprint(
        [F.col("doc_id"), F.col("text"), F.col("lang"), F.col("source")]
    )
    return d.select(h.alias("h")).agg(
        F.count("*").alias("n_docs"),
        F.bit_xor("h").alias("corpus_fp"),
    )


# ---------------------------------------------------------------------------
# C6 continued — canonical-document selection per near-dup cluster
# ---------------------------------------------------------------------------


def _canonical_oracle(n_iter: int = 3) -> str:
    pairs_sql = _lsh_oracle(max_bucket=10_000).strip()
    parts = [
        f"WITH RECURSIVE pairs AS ({pairs_sql}),",
        """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
               FROM edges GROUP BY src),
    pr0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM outdeg)""",
    ]
    for i in range(1, n_iter + 1):
        parts.append(f""",
    pr{i} AS (
      SELECT e.dst AS node,
             0.15 + 0.85 * CAST(SUM(CAST(p.pr / o.d AS DECIMAL(38,6)))
                                AS DOUBLE) AS pr
      FROM edges e
      JOIN pr{i-1} p ON p.node = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst)""")
    parts.append(f""",
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
    comp AS (SELECT node AS doc_id, MIN(r) AS cluster_id
             FROM reach GROUP BY node),
    ranked AS (
      SELECT c.doc_id, c.cluster_id, p.pr,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY p.pr DESC, c.doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT)
               AS cluster_size
      FROM comp c JOIN pr{n_iter} p ON p.node = c.doc_id)
    SELECT cluster_id, doc_id AS canonical_doc,
           pr AS canonical_pagerank, cluster_size
    FROM ranked WHERE rn = 1""")
    return "".join(parts)


@register("c06_canonical_doc", oracle=_canonical_oracle())
def c06_canonical_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6h: canonical-document selection — dedup that keeps the BEST
    copy, not the lowest id: per near-dup cluster (C6a components),
    the representative is the member with the highest PageRank (C6c)
    — the most-connected copy is the one most other near-dups
    gravitate to (the canonical-URL heuristic of web dedup, graphified;
    min-id remains the tie-break so selection is total). One shared
    LSH pair pass feeds BOTH the components resolver and the power
    iteration — the graph is built once (checkpointed edges; lazy, so
    the materialization rides the first consuming job, r14),
    and the final selection is a cluster-partitioned window over the
    (doc, cluster, rank) join. Both iterative algorithms are already
    individually oracle-pinned; this pins their COMPOSITION —
    cluster assignment and centrality must agree doc-by-doc for the
    window to pick identical winners."""
    sigs = minhash_signature(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=8, portable=True
    )
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", k=8, band_size=2, max_bucket=10_000
    ).localCheckpoint(eager=False)  # r14: edges AND the components
    # resolver both consume the pair pass — compute it once.
    # symmetrize_pairs (r14): both orientations in ONE pass over the
    # LSH pipeline instead of a two-branch union that evaluated it
    # twice inside the checkpoint's materializing job.
    edges = symmetrize_pairs(pairs, "id_a", "id_b", "src", "dst").localCheckpoint(
        eager=False
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("d"))
    pr = outdeg.select(F.col("src").alias("node"), F.lit(1.0).alias("pr"))
    for _ in range(3):
        contrib = (
            edges.join(pr, edges["src"] == pr["node"])
            .join(outdeg, "src")
            .select(
                F.col("dst"),
                (F.col("pr") / F.col("d")).cast(DEC).alias("c"),
            )
        )
        pr = (
            contrib.groupBy("dst")
            .agg((0.15 + 0.85 * F.sum("c").cast("double")).alias("pr"))
            .select(F.col("dst").alias("node"), "pr")
            .localCheckpoint(eager=False)
        )
    clusters = dedup_clusters(
        pairs.select(F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b"))
    ).select("doc_id", "cluster_id", "cluster_size")
    from pyspark.sql import Window as W

    joined = clusters.join(pr, clusters["doc_id"] == pr["node"])
    w = W.partitionBy("cluster_id").orderBy(F.col("pr").desc(), F.col("doc_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            F.col("pr").alias("canonical_pagerank"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


# ---------------------------------------------------------------------------
# C4 continued — code-switch detection (per-chunk language ID)
# ---------------------------------------------------------------------------


def _code_switch_oracle() -> str:
    lid = _o_langid_expr()
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk0
                  FROM documents),
    dl AS (SELECT doc_id, {lid} AS doc_lang
           FROM (SELECT doc_id, tk0 AS tk FROM toks)),
    chunks AS (
      SELECT doc_id,
             tk0[CAST(i AS INTEGER):CAST(i + 15 AS INTEGER)] AS tk
      FROM (SELECT doc_id, tk0,
                   unnest(generate_series(1, len(tk0), 16)) AS i
            FROM toks WHERE len(tk0) > 0)),
    chl AS (SELECT doc_id, {lid} AS chunk_lang FROM chunks)
    SELECT c.doc_id, d.doc_lang,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COALESCE(SUM(CASE WHEN chunk_lang <> d.doc_lang
                                   AND chunk_lang <> 'und' THEN 1 END), 0)
                AS BIGINT) AS n_divergent,
           CAST(COALESCE(SUM(CASE WHEN chunk_lang <> d.doc_lang
                                   AND chunk_lang <> 'und' THEN 1 END), 0)
                AS DOUBLE) / COUNT(*) AS switch_frac
    FROM chl c JOIN dl d ON d.doc_id = c.doc_id
    GROUP BY c.doc_id, d.doc_lang
    """


@register("c04_code_switch", oracle=_code_switch_oracle())
def c04_code_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4q: code-switch detection — language-ID per 16-token CHUNK vs
    the whole-document verdict: a document whose chunks disagree with
    its own label is mixed-language (embedded quotes, boilerplate in
    another language, concatenation artifacts) — exactly the rows a
    per-document language filter silently mislabels, and the reason
    multilingual curation pipelines score segments, not documents.
    Both granularities reuse the SAME row-local heuristic
    (operators/text.py::lang_id) over the chunk arrays — chunking and
    scoring are one scan-speed pass, the only shuffle is the per-doc
    rollup. 'und' chunks (no stopword hits — too short to vote) are
    not counted as divergent."""
    d = t(spark, sf_dir, "documents")
    tok = tokens("text")
    ch = d.select(
        "doc_id",
        lang_id(tok).alias("doc_lang"),
        F.explode(token_chunks(tok, 16, 16)).alias("c"),
    ).withColumn("chunk_lang", lang_id(F.col("c.toks")))
    div = (F.col("chunk_lang") != F.col("doc_lang")) & (
        F.col("chunk_lang") != "und"
    )
    return ch.groupBy("doc_id", "doc_lang").agg(
        F.count("*").alias("n_chunks"),
        F.count_if(div).alias("n_divergent"),
        (F.count_if(div).cast("double") / F.count("*")).alias("switch_frac"),
    )


# ---------------------------------------------------------------------------
# C4 continued — Gopher rule battery, blocklist filter, DSIR importance
# ---------------------------------------------------------------------------


@register(
    "c04_gopher_rules",
    oracle="""
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS tk
                  FROM documents)
    SELECT doc_id,
           len(tk) BETWEEN 20 AND 80 AS r_wordcount,
           CAST(length(text) - (len(tk) - 1) AS DOUBLE) / len(tk)
               BETWEEN 3.0 AND 5.0 AS r_meanlen,
           CAST(len(list_filter(tk, x -> length(x) >= 3)) AS DOUBLE)
               / len(tk) >= 0.9 AS r_shortword,
           len(list_filter(tk, x -> x IN ('the', 'a'))) >= 2 AS r_stopword,
           CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) >= 0.45
               AS r_diversity,
           (len(tk) BETWEEN 20 AND 80)
             AND (CAST(length(text) - (len(tk) - 1) AS DOUBLE) / len(tk)
                  BETWEEN 3.0 AND 5.0)
             AND (CAST(len(list_filter(tk, x -> length(x) >= 3)) AS DOUBLE)
                  / len(tk) >= 0.9)
             AND (len(list_filter(tk, x -> x IN ('the', 'a'))) >= 2)
             AND (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) >= 0.45)
               AS keep
    FROM toks
    """,
)
def c04_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4r: the GOPHER quality-rule battery (Rae et al. 2021, §A1.1 —
    public heuristics) as one row-local pass: word-count band, mean
    word length band, short-word fraction, stopword floor, and lexical
    diversity, each emitted as its OWN flag plus the ANDed verdict —
    per-rule flags are what a curation pipeline actually tunes on (a
    threshold sweep needs to know WHICH rule rejected, not just that
    one did; the published battery logs rule attribution for the same
    reason). Thresholds here are adapted to the synthetic corpus so
    every rule has signal at test SF; production swaps the constants.

    Scale shape: zero shuffles — five higher-order-function
    expressions over the token array, whole-stage-codegen'd, one scan
    of the corpus. The tokenization is shared across all five rules by
    Catalyst's common-subexpression elimination (one `split` per row,
    not five). Contrast c04_quality_score (the 3-signal scalar
    score): same scan cost, but a single opaque number — this battery
    is the tunable per-rule form."""
    d = t(spark, sf_dir, "documents")
    tk = tokens("text")
    n = F.size(tk)
    mean_len = (F.length("text") - (n - 1)) / n
    short_frac = (
        F.size(F.filter(tk, lambda x: F.length(x) >= 3)).cast("double") / n
    )
    stop_hits = F.size(F.filter(tk, lambda x: x.isin("the", "a")))
    diversity = F.size(F.array_distinct(tk)).cast("double") / n
    r1 = (n >= 20) & (n <= 80)
    r2 = (mean_len >= 3.0) & (mean_len <= 5.0)
    r3 = short_frac >= 0.9
    r4 = stop_hits >= 2
    r5 = diversity >= 0.45
    return d.select(
        "doc_id",
        r1.alias("r_wordcount"),
        r2.alias("r_meanlen"),
        r3.alias("r_shortword"),
        r4.alias("r_stopword"),
        r5.alias("r_diversity"),
        (r1 & r2 & r3 & r4 & r5).alias("keep"),
    )


#: Blocklist for c04_blocklist_hits — tiny and literal so the oracle
#: inlines it; production loads a table and broadcasts it the same way.
_BLOCKLIST = ["slow", "dup", "big"]


@register(
    "c04_blocklist_hits",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '),
                         x -> x IN ({", ".join("'" + w + "'" for w in _BLOCKLIST)}))
                 AS h
      FROM documents)
    SELECT doc_id,
           CAST(len(h) AS BIGINT)                 AS n_hits,
           CAST(len(list_distinct(h)) AS BIGINT)  AS n_terms,
           len(h) >= 6                            AS blocked
    FROM toks
    """,
)
def c04_blocklist_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4s: blocklist term matching — the ban-term / spam-phrase filter
    every curation pipeline runs: count per-document occurrences of a
    blocklisted vocabulary and flag documents whose hit count crosses
    a threshold (count, not boolean contains — one incidental mention
    is not a spam page; blocklist filters threshold on density).

    Scale shape: tokenize → explode → BROADCAST hash join against the
    blocklist → doc-keyed count. One corpus-sized shuffle (the per-doc
    rollup), and the match itself is a map-side hash probe per token —
    at 10k+ blocklist terms this beats the rlike/LIKE alternative
    (one regex alternation scan per term list change, no pushdown) and
    stays O(tokens), not O(tokens x terms). The left join back to the
    doc spine keeps zero-hit documents in the output (a filter stage
    must emit a verdict for EVERY row, not just matches)."""
    d = t(spark, sf_dir, "documents")
    bl = spark.createDataFrame([(w,) for w in _BLOCKLIST], "term string")
    tok = d.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    hits = (
        tok.join(F.broadcast(bl), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("h_n"),
            F.count_distinct("term").alias("h_t"),
        )
    )
    return (
        d.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("h_n", F.lit(0)).alias("n_hits"),
            F.coalesce("h_t", F.lit(0)).alias("n_terms"),
            (F.coalesce("h_n", F.lit(0)) >= 6).alias("blocked"),
        )
    )


@register(
    "c04_dsir_importance",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang,
                        unnest(string_split(text, ' ')) AS token
                 FROM documents),
    tok2 AS (SELECT doc_id, lang, token,
                    {_O_HASH.format(s='token')} % 64 AS bucket
             FROM tok WHERE token <> ''),
    lm AS (SELECT bucket,
                  SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_t,
                  SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS cnt_s
           FROM tok2 GROUP BY bucket),
    scored AS (
      SELECT t.doc_id,
             CAST(LENGTH(CAST(lm.cnt_t + 1 AS VARCHAR)) - 1 AS BIGINT)
             - CAST(LENGTH(CAST(lm.cnt_s + 1 AS VARCHAR)) - 1 AS BIGINT) AS s
      FROM tok2 t JOIN lm USING (bucket))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(s) AS BIGINT)   AS dsir_score,
           CAST(SUM(s) AS DOUBLE) / COUNT(*) AS mean_score
    FROM scored GROUP BY doc_id
    """,
)
def c04_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4t: DSIR importance weighting (Xie et al. 2023, public) — score
    each document by how much more it looks like a TARGET domain than
    the background corpus, via hashed-unigram LM ratios: tokens hash
    into 64 buckets, target ('en' docs here) and source bucket counts
    become two tiny LMs, and a document's weight is the sum over its
    tokens of log p_target(bucket) - log p_source(bucket). High-weight
    documents are what importance RESAMPLING then upsamples
    (c07_weighted_sample takes this column directly).

    The log is decade-quantized (floor(log10(cnt+1)) via digit count —
    an integer) so the per-doc sum is exact integer arithmetic and
    hash-parity holds across engines; production swaps true ln() and
    a 10k-bucket hash space — the plan is identical. Scale shape: one
    corpus explode → bucket-keyed count (64x2 cells — the shuffle
    carries bucket ids, not tokens); scoring pass re-explodes and
    joins the 64-row LM BROADCAST (map-side), then one doc-keyed sum.
    Two corpus passes, no skew (bucket cardinality is fixed by
    construction, the zipf head spreads by hash)."""
    d = t(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", "lang", F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .withColumn(
            "bucket", F.pmod(char_fold_hash(F.col("token")), F.lit(64))
        )
    )
    lm = tok.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("cnt_t"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("cnt_s"),
    )

    def decade(c: F.Column) -> F.Column:
        return (F.length((c + F.lit(1)).cast("string")) - 1).cast("bigint")

    scored = tok.join(F.broadcast(lm), "bucket").withColumn(
        "s", decade(F.col("cnt_t")) - decade(F.col("cnt_s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("s").alias("dsir_score"),
        (F.sum("s").cast("double") / F.count("*")).alias("mean_score"),
    )


# ---------------------------------------------------------------------------
# C4 continued — boilerplate strip; C6 continued — label spreading
# ---------------------------------------------------------------------------


#: Shared by the text-keyed query and its hash-keyed scale rewrite:
#: the rewrite is semantics-preserving (absent xxhash64 collisions),
#: so BOTH register the text-keyed SQL — the b10_salted_join
#: discipline, where the identical hash proves the rewrite.
_BOILERPLATE_ORACLE = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents),
    chunks AS (
      SELECT doc_id, i AS chunk_no,
             array_to_string(tk[i:i+1], ' ') AS ctext
      FROM toks, unnest(generate_series(1, len(tk), 2)) AS u(i)),
    counts AS (SELECT ctext, COUNT(DISTINCT doc_id) AS nd
               FROM chunks GROUP BY ctext),
    kept AS (SELECT c.doc_id, c.chunk_no, c.ctext
             FROM chunks c JOIN counts USING (ctext) WHERE nd < 20),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   string_agg(ctext, ' ' ORDER BY chunk_no) AS cleaned
            FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
            FROM chunks GROUP BY doc_id)
    SELECT t.doc_id, t.n_chunks,
           COALESCE(a.n_kept, 0) AS n_kept,
           COALESCE(a.cleaned, '') AS cleaned
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """


@register("c04_boilerplate_strip", oracle=_BOILERPLATE_ORACLE)
def c04_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4v: boilerplate REMOVAL — the line-dedup step of C4/RefinedWeb
    -style web curation, applied (not just detected, cf.
    c04_repeated_spans): split each document into fixed chunks
    ("lines"), count per-chunk document frequency corpus-wide, drop
    chunks appearing in ≥20 documents (navigation bars, cookie
    banners, license footers — text shared verbatim across many pages
    is boilerplate, not content), and REASSEMBLE the surviving chunks
    in original order. The order-preserving rebuild is the part naive
    dedup misses: training text must stay coherent, so surviving
    chunks re-join by position (sort_array over (chunk_no, text)
    structs — collect_list order is partition-nondeterministic and
    must never reach the output).

    Scale shape: explode → chunk-text-keyed DF count (one shuffle; the
    count table is vocabulary-sized, far smaller than the corpus) →
    map-side-filterable join back → one doc-keyed rollup. At 100 TB
    swap the chunk text key for its xxhash64 (collision-checked) so
    the shuffle carries 8 bytes per chunk, not the text."""
    d = t(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        F.explode(token_chunks(tokens("text"), 2, 2)).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_no").alias("chunk_no"),
        F.array_join(F.col("c.toks"), " ").alias("ctext"),
    )
    counts = ch.groupBy("ctext").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    kept = ch.join(counts, "ctext").filter(F.col("nd") < 20)
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_no", "ctext"))
                ),
                lambda x: x.ctext,
            ),
            " ",
        ).alias("cleaned"),
    )
    # Per-doc chunk count in CLOSED FORM (floor((ntok-1)/stride)+1) —
    # r15 fix for r14's one bench regression: size(token_chunks(...))
    # materialized the full chunk-struct array (every token slice) per
    # row just to take its length, 2x the query (guide §1.2(2)); the
    # >0 filter reproduces explode's empty/null-array drop exactly.
    tot = d.select(
        "doc_id", token_chunk_count(tokens("text"), 2).alias("n_chunks")
    ).filter(F.col("n_chunks") > 0)
    return tot.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )


@register(
    "c06_label_spread",
    oracle=f"""
    WITH votes AS (
      SELECT k.src, e.label, CAST(COUNT(*) AS BIGINT) AS c
      FROM ({_knn_graph_oracle()}) k
      JOIN embeddings e ON e.vec_id = k.dst
      GROUP BY k.src, e.label),
    best AS (
      SELECT src, label AS voted_label, c AS n_votes FROM (
        SELECT src, label, c,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY c DESC, label) AS rn
        FROM votes) v WHERE rn = 1)
    SELECT b.src AS vec_id, e.label AS own_label, b.voted_label,
           b.n_votes, e.label = b.voted_label AS agrees
    FROM best b JOIN embeddings e ON e.vec_id = b.src
    """,
)
def c06_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6h2: one-round LABEL SPREADING over the k-NN graph — each vector
    takes the majority label of its top-3 neighbors (ties → smallest
    label), compared against its own label: disagreements are the
    label-noise candidates (mislabeled rows sit in a neighborhood of
    the true class) and, run over UNLABELED rows, the same vote IS
    semi-supervised label propagation (Zhu & Ghahramani 2002, public).
    Confident-learning-style label audits on training corpora are
    exactly this query.

    Scale shape: reuses c03_knn_graph's bucketed self-join (no
    all-pairs path), then two id-keyed joins — neighbor labels attach
    by dst id, own labels by src id; the vote rollup keys on (src,
    label), bounded by k·|V| edge rows. Everything downstream of the
    graph is edge-list-sized, and the label table never broadcasts
    (it is corpus-sized — the joins stay shuffle-hash on ids)."""
    e = t(spark, sf_dir, "embeddings")
    g = knn_graph(e, k=3, dim=64, n_planes=6)
    lbl = e.select("vec_id", "label")
    votes = (
        g.join(lbl.withColumnRenamed("vec_id", "dst"), "dst")
        .groupBy("src", "label")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window as W

    wv = W.partitionBy("src").orderBy(F.col("c").desc(), F.col("label"))
    best = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            "src",
            F.col("label").alias("voted_label"),
            F.col("c").alias("n_votes"),
        )
    )
    return (
        best.join(lbl.withColumnRenamed("vec_id", "src"), "src")
        .select(
            F.col("src").alias("vec_id"),
            F.col("label").alias("own_label"),
            "voted_label",
            "n_votes",
            (F.col("label") == F.col("voted_label")).alias("agrees"),
        )
    )


# ---------------------------------------------------------------------------
# C9 continued — semantic decontamination; C5 continued — keyframe select
# ---------------------------------------------------------------------------


@register(
    "c09_decontaminate_semantic",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                  (a, b) -> a + b)) AS nrm
      FROM embeddings),
    q AS (SELECT e.vec_id, e.embedding, n.nrm FROM embeddings e
          JOIN n USING (vec_id) WHERE e.vec_id % 53 = 0),
    c AS (SELECT e.vec_id, e.embedding, n.nrm FROM embeddings e
          JOIN n USING (vec_id) WHERE e.vec_id % 53 <> 0),
    sims AS (
      SELECT c.vec_id, q.vec_id AS eval_id,
             list_reduce(list_transform(generate_series(1, 64),
               i -> CAST(q.embedding[i] AS DOUBLE)
                    * CAST(c.embedding[i] AS DOUBLE)),
               (a, b) -> a + b) / (q.nrm * c.nrm) AS sim
      FROM c JOIN q ON TRUE),
    best AS (
      SELECT vec_id, eval_id AS nearest_eval_id, sim AS max_sim FROM (
        SELECT vec_id, eval_id, sim,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, eval_id) AS rn
        FROM sims) s WHERE rn = 1)
    SELECT vec_id, nearest_eval_id, max_sim,
           max_sim >= 0.30 AS contaminated
    FROM best
    """,
)
def c09_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9c: SEMANTIC decontamination — the embedding-space sibling of
    c09_decontaminate's exact n-gram gate: a training item whose
    embedding sits too close to ANY eval-set embedding is a
    paraphrase-level leak that token overlap misses (reworded
    benchmark questions, translated eval items). Every corpus vector
    gets its nearest eval item and similarity; rows over the
    threshold are quarantined with ATTRIBUTION (which eval item
    leaked — reviewers need the pair, not just a flag).

    Scale shape: the eval set is small BY CONSTRUCTION (benchmarks
    are thousands of items, the corpus is billions), so it broadcasts
    whole — the corpus is scanned ONCE map-side, no shuffle at all
    until the per-vector argmax (one key shuffle on vec_id, candidate
    rows = corpus × |eval|, bounded by the broadcast side staying
    benchmark-sized). At |eval| beyond broadcast range, route through
    the IVF cells (c03_ivf_query) first — same funnel discipline as
    the search family."""
    e = t(spark, sf_dir, "embeddings")
    from ..operators.similarity import cosine_pre, norm_fold
    from pyspark.sql import Window as W

    vecs = e.select(
        "vec_id", "embedding", norm_fold(F.col("embedding")).alias("nrm")
    )
    q = vecs.filter(F.col("vec_id") % 53 == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = vecs.filter(F.col("vec_id") % 53 != 0)
    sims = c.crossJoin(F.broadcast(q)).select(
        "vec_id",
        "eval_id",
        cosine_pre(
            F.col("qe"), F.col("embedding"), F.col("qn"), F.col("nrm")
        ).alias("sim"),
    )
    wr = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("eval_id"))
    return (
        sims.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("eval_id").alias("nearest_eval_id"),
            F.col("sim").alias("max_sim"),
            (F.col("sim") >= 0.30).alias("contaminated"),
        )
    )


@register(
    "c05_keyframe_select",
    oracle="""
    WITH f AS (
      SELECT doc_id AS id, text,
             octet_length(encode(text)) % 30 + 1 AS n_frames
      FROM documents),
    frames AS (
      SELECT id, i AS frame_idx, ascii(text[i]) AS luma
      FROM f, unnest(generate_series(1, n_frames)) AS t(i)),
    d AS (
      SELECT id, frame_idx, luma,
             ABS(luma - lag(luma) OVER (PARTITION BY id
                                        ORDER BY frame_idx)) AS diff
      FROM frames)
    SELECT id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(diff AS BIGINT) AS diff, CAST(rk AS INTEGER) AS rank
    FROM (SELECT id, frame_idx, diff,
                 ROW_NUMBER() OVER (PARTITION BY id
                                    ORDER BY diff DESC, frame_idx) AS rk
          FROM d WHERE diff IS NOT NULL) r
    WHERE rk <= 3
    """,
)
def c05_keyframe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5k: KEYFRAME selection — pick the top-3 frames per clip by
    inter-frame difference (scene cuts have the largest deltas; a
    vision-training pipeline samples those, not every-Nth, when
    content varies): the frame stream comes from the same deterministic
    fake decode as c05_frame_sample (real codecs absent in this
    container — operators/multimodal.py documents the boundary), the
    per-frame "luma" stand-in is one byte of the payload, and the
    selection is a lag-window diff plus per-clip top-k. Production
    swaps the decode UDF; the diff/rank plan — the Spark side — is
    identical.

    Scale shape: frames explode row-locally (no shuffle to CREATE
    them), then ONE clip-keyed window pass computes diffs and ranks —
    clips are independent, so the shuffle keys on clip id and each
    executor ranks its own clips. Top-3 filter cuts the output back
    to O(clips) before anything downstream."""
    d = t(spark, sf_dir, "documents")
    f = d.select(
        F.col("doc_id").alias("id"),
        "text",
        (F.octet_length(F.encode("text", "UTF-8")) % 30 + 1).alias(
            "n_frames"
        ),
    )
    frames = f.select(
        "id",
        F.explode(F.sequence(F.lit(1), F.col("n_frames"))).alias(
            "frame_idx"
        ),
        "text",
    ).select(
        "id",
        "frame_idx",
        F.ascii(F.substring(F.col("text"), F.col("frame_idx"), 1)).alias(
            "luma"
        ),
    )
    from pyspark.sql import Window as W

    wl = W.partitionBy("id").orderBy("frame_idx")
    diffed = frames.withColumn(
        "diff", F.abs(F.col("luma") - F.lag("luma").over(wl))
    ).filter(F.col("diff").isNotNull())
    wr = W.partitionBy("id").orderBy(F.col("diff").desc(), F.col("frame_idx"))
    return (
        diffed.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select(
            "id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            F.col("diff").cast("bigint").alias("diff"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# C7 continued — padding-waste audit (naive vs length-grouped batching)
# ---------------------------------------------------------------------------


@register(
    "c07_padding_waste",
    oracle="""
    WITH docs AS (
      SELECT doc_id, doc_id % 8 AS shard,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    naive AS (
      SELECT shard, n_tokens,
             CAST((ROW_NUMBER() OVER (PARTITION BY shard
                                      ORDER BY doc_id) - 1) // 32
                  AS BIGINT) AS batch
      FROM docs),
    grouped AS (
      SELECT shard, n_tokens,
             CAST((ROW_NUMBER() OVER (PARTITION BY shard
                                      ORDER BY n_tokens, doc_id) - 1) // 32
                  AS BIGINT) AS batch
      FROM docs),
    u AS (
      SELECT 'naive' AS strategy, * FROM naive
      UNION ALL
      SELECT 'grouped' AS strategy, * FROM grouped),
    batches AS (
      SELECT strategy, shard, batch,
             CAST(COUNT(*) AS BIGINT) AS n_seqs,
             CAST(MAX(n_tokens) AS BIGINT) AS max_len,
             CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
             CAST(COUNT(*) * MAX(n_tokens) AS BIGINT) AS padded_tokens
      FROM u GROUP BY strategy, shard, batch)
    SELECT strategy, shard,
           CAST(SUM(real_tokens) AS BIGINT)   AS real_tokens,
           CAST(SUM(padded_tokens) AS BIGINT) AS padded_tokens,
           CAST(SUM(padded_tokens) - SUM(real_tokens) AS BIGINT) AS waste,
           CAST(SUM(real_tokens) AS DOUBLE) / SUM(padded_tokens)
             AS fill_rate
    FROM batches GROUP BY strategy, shard
    """,
)
def c07_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7s2: PADDING-WASTE audit — the concrete cost of batching
    strategy: sequences batched 32 at a time pad every row to the
    batch max, so arrival-order batching (length-mixed batches) burns
    FLOPs on pad tokens that length-grouped batching (sort by length
    inside each shard, then batch) avoids. Both strategies are
    simulated per hash shard and the audit emits real vs padded token
    totals and the fill rate per (strategy, shard) — the number that
    justifies adding a length-bucketing stage (c07_length_buckets)
    to a dataloader. Typical result on mixed-length corpora: grouped
    batching recovers 20-40% of padded compute.

    Scale shape: sharding first (doc_id % 8; production uses the
    scrambled hash) makes both window sorts PER-SHARD — no global
    sort; each executor orders only its shard, exactly how the real
    dataloader shards. Two window passes + one two-level rollup, all
    integer arithmetic until the final fill-rate division."""
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    docs = d.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(tokens("text")).alias("n_tokens"),
    )
    wn = W.partitionBy("shard").orderBy("doc_id")
    wg = W.partitionBy("shard").orderBy("n_tokens", "doc_id")
    naive = docs.select(
        F.lit("naive").alias("strategy"),
        "shard",
        "n_tokens",
        F.floor((F.row_number().over(wn) - 1) / 32).alias("batch"),
    )
    grouped = docs.select(
        F.lit("grouped").alias("strategy"),
        "shard",
        "n_tokens",
        F.floor((F.row_number().over(wg) - 1) / 32).alias("batch"),
    )
    batches = (
        naive.unionAll(grouped)
        .groupBy("strategy", "shard", "batch")
        .agg(
            F.count("*").alias("n_seqs"),
            F.max("n_tokens").alias("max_len"),
            F.sum("n_tokens").alias("real_tokens"),
            (F.count("*") * F.max("n_tokens")).alias("padded_tokens"),
        )
    )
    return batches.groupBy("strategy", "shard").agg(
        F.sum("real_tokens").cast("bigint").alias("real_tokens"),
        F.sum("padded_tokens").cast("bigint").alias("padded_tokens"),
        (F.sum("padded_tokens") - F.sum("real_tokens"))
        .cast("bigint")
        .alias("waste"),
        (
            F.sum("real_tokens").cast("double") / F.sum("padded_tokens")
        ).alias("fill_rate"),
    )


# ---------------------------------------------------------------------------
# C3 continued — clustering quality audit (inertia per cell)
# ---------------------------------------------------------------------------


def _kmeans_inertia_oracle(cmod: int = 40, scale: int = 1_000_000) -> str:
    from .tier_c import _O_NORMS, _o_dot

    cos = f"{_o_dot('v.embedding', 'c.cv')} / (nv.nrm * nc.nrm)"
    return f"""
    WITH norms AS ({_O_NORMS}),
    cent AS (SELECT vec_id AS centroid_id, embedding AS cv
             FROM embeddings WHERE vec_id % {cmod} = 0),
    scored AS (
      SELECT v.vec_id AS vid, c.centroid_id, {cos} AS cs
      FROM embeddings v
      JOIN cent c ON TRUE
      JOIN norms nv ON nv.vec_id = v.vec_id
      JOIN norms nc ON nc.vec_id = c.centroid_id),
    assigned AS (
      SELECT vid, centroid_id, cs FROM (
        SELECT vid, centroid_id, cs,
               ROW_NUMBER() OVER (PARTITION BY vid
                                  ORDER BY cs DESC, centroid_id) AS rn
        FROM scored) r WHERE rn = 1)
    SELECT centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CAST(floor((1 - cs) * {scale}) AS BIGINT)) AS BIGINT)
             AS inertia_ppm,
           CAST(SUM(CAST(floor((1 - cs) * {scale}) AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS mean_dist_ppm
    FROM assigned GROUP BY centroid_id
    """


@register("c03_kmeans_inertia", oracle=_kmeans_inertia_oracle())
def c03_kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3t: clustering QUALITY audit — per-cell member count and
    cosine-distance inertia (Σ (1−cos) to the assigned centroid,
    ppm-quantized to integers so the rollup is exact cross-engine —
    the kmeans_update floor(val·scale) discipline). This is the
    number a quantizer training loop watches per iteration (inertia
    must fall monotonically under Lloyd) and the audit that flags
    DEGENERATE cells — a near-empty cell wastes an IVF partition and
    a bloated low-coherence cell destroys its probe selectivity; both
    read straight off this output (n_members and mean distance).

    Scale shape: identical assignment pass to c03_kmeans_iter —
    broadcast centroids, one max_by-style argmax per vector — then
    ONE cell-keyed count/sum agg (k rows out). The audit adds zero
    shuffles beyond the assignment it audits."""
    e = t(spark, sf_dir, "embeddings")
    from ..operators.similarity import cosine_pre, norm_fold
    from pyspark.sql import Window as W

    cent = e.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
        norm_fold(F.col("embedding")).alias("cvn"),
    )
    normed = e.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("v"),
        norm_fold(F.col("embedding")).alias("vn"),
    )
    scored = normed.join(F.broadcast(cent)).select(
        "vid",
        "centroid_id",
        cosine_pre(F.col("v"), F.col("cv"), F.col("vn"), F.col("cvn")).alias(
            "cs"
        ),
    )
    assigned = (
        scored.groupBy("vid")
        .agg(
            F.max_by(
                F.struct("centroid_id", "cs"),
                F.struct(F.col("cs"), (-F.col("centroid_id")).alias("neg")),
            ).alias("a")
        )
        .select("vid", F.col("a.centroid_id").alias("centroid_id"),
                F.col("a.cs").alias("cs"))
    )
    q = F.floor((1 - F.col("cs")) * 1_000_000).cast("bigint")
    return assigned.groupBy("centroid_id").agg(
        F.count("*").alias("n_members"),
        F.sum(q).cast("bigint").alias("inertia_ppm"),
        (F.sum(q).cast("double") / F.count("*")).alias("mean_dist_ppm"),
    )


# ---------------------------------------------------------------------------
# B16 continued — Pareto cut (how few rows cover half the mass)
# ---------------------------------------------------------------------------


@register(
    "b16_pareto_cut",
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk,
             CAST(SUM(n_chars) OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_chars,
             CAST(SUM(n_chars) OVER (PARTITION BY source) AS BIGINT)
               AS tot_chars,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_docs
      FROM documents)
    SELECT source, n_docs, tot_chars,
           CAST(MIN(rk) AS BIGINT) AS k_cut,
           CAST(MIN(rk) AS DOUBLE) / n_docs AS doc_frac
    FROM ranked
    WHERE cum_chars * 2 >= tot_chars
    GROUP BY source, n_docs, tot_chars
    """,
)
def b16_pareto_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B16g2: PARETO CUT — per group, the smallest number of top rows
    whose cumulative mass reaches half the group total (the "how
    concentrated is this source" 80/20 audit: a source where 2% of
    documents hold 50% of the characters is a few-huge-files source
    and needs different splitting/sampling treatment than a uniform
    one; the same query over bytes-per-key is how shuffle-skew
    budgets get set). The threshold compare is integer arithmetic
    (cum·2 ≥ total — no division, no float), so the cut index is
    exact cross-engine.

    Scale shape: one window pass per group key (rank + running sum
    share a sort), then a group-keyed MIN — groups are independent,
    executors own their key ranges, no global sort. The full-frame
    total rides the SAME partition as an unbounded window, costing no
    extra exchange."""
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    wo = W.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wcum = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy("source")
    ranked = d.select(
        "source",
        F.row_number().over(wo).alias("rk"),
        F.sum("n_chars").over(wcum).cast("bigint").alias("cum_chars"),
        F.sum("n_chars").over(wall).cast("bigint").alias("tot_chars"),
        F.count("*").over(wall).cast("bigint").alias("n_docs"),
    )
    return (
        ranked.filter(F.col("cum_chars") * 2 >= F.col("tot_chars"))
        .groupBy("source", "n_docs", "tot_chars")
        .agg(
            F.min("rk").cast("bigint").alias("k_cut"),
            (F.min("rk").cast("double") / F.col("n_docs")).alias("doc_frac"),
        )
    )


# ---------------------------------------------------------------------------
# C6 continued — incremental connected-components maintenance
# ---------------------------------------------------------------------------


@register("c06_incremental_cc", oracle=_clusters_oracle())
def c06_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6i: INCREMENTAL cluster maintenance
    (operators/cluster.py::incremental_clusters) — the ingest-time
    form of c06_dedup_clusters: the corpus (90%) already carries a CC
    assignment; the arriving batch (every 10th doc) contributes its
    delta-vs-corpus band-join pairs (c02_incremental_neardup's shape)
    plus its tiny delta-self pairs, and the new edges CONTRACT through
    the existing labels into a delta-proportional mini graph whose CC
    patches the assignment. The oracle is the FULL-GRAPH closure over
    the whole corpus — identical output proves the incremental path
    loses nothing against the from-scratch recompute, which is the
    invariant that lets a 100 TB pipeline never re-run global CC
    after the initial backfill.

    Scale shape: base CC is the pre-existing state (here recomputed
    for the test; in production it is a stored table); per ingest the
    only corpus-scale touch is the banded delta join — everything
    after (contraction, mini CC, relabel) is delta- or roots-sized
    except the final size recount (documented patch strategy in the
    operator)."""
    from ..operators.cluster import incremental_clusters

    d = t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    # Signatures are each consumed TWICE (corpus: base banding + the
    # delta-vs-corpus join; delta: that join + delta-self banding) and
    # the MinHash k-affine-min scan is the dominant per-row cost —
    # lazy checkpoint computes each side once (r14, guide §2.4; in
    # production both are stored signature tables, cf. c03_ivf_persist).
    c_sigs = minhash_signature(
        corpus, "text", "doc_id", k=8, portable=True
    ).localCheckpoint(eager=False)
    d_sigs = minhash_signature(
        delta, "text", "doc_id", k=8, portable=True
    ).localCheckpoint(eager=False)
    # Star expansion (r15) on both closure-only pair sets: base_pairs
    # feed connected_components; delta_self feeds the incremental
    # contraction, which also consumes only connectivity + node set
    # (the sf1z zipf probe's hot delta group sits exactly AT the 10k
    # cap — the triangle expanded it to ~5x10^7 pairs in ONE task).
    base_pairs = lsh_candidate_pairs(
        c_sigs, "doc_id", k=8, band_size=2, max_bucket=10_000,
        expansion="star",
    )
    # incremental_clusters reads only (doc_id, cluster_id) from the
    # base assignment — dedup_clusters' size agg + join-back would be
    # computed and discarded (guide §1.2(1)); connected_components IS
    # the label map. Sizes of the merged result are recounted inside
    # the operator either way.
    base_clusters = connected_components(base_pairs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    cross = delta_lsh_candidates(
        c_sigs, d_sigs, "doc_id", k=8, band_size=2, max_bucket=10_000
    ).select(F.col("delta_id").alias("id_a"), F.col("corpus_id").alias("id_b"))
    delta_self = lsh_candidate_pairs(
        d_sigs, "doc_id", k=8, band_size=2, max_bucket=10_000,
        expansion="star",
    )
    new_edges = cross.unionAll(delta_self.select("id_a", "id_b"))
    return incremental_clusters(base_clusters, new_edges)


# ---------------------------------------------------------------------------
# C7 continued — deterministic weighted dataset interleaving
# ---------------------------------------------------------------------------


@register(
    "c07_interleave_stream",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk,
             CASE WHEN source IN ('src0', 'src1') THEN 2 ELSE 1 END AS w
      FROM documents),
    slotted AS (
      SELECT doc_id, source, rk,
             CAST((rk - 1) * 2 / w AS BIGINT) AS slot
      FROM ranked),
    head AS (
      SELECT doc_id, source, slot
      FROM slotted ORDER BY slot, source, rk LIMIT 100)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY slot, source) AS BIGINT)
             AS position,
           source, doc_id, slot
    FROM head
    """,
)
def c07_interleave_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7t: deterministic WEIGHTED INTERLEAVING — merge per-source
    document streams into one training order where a weight-2 source
    contributes twice per round of a weight-1 source (the
    interleave_datasets primitive of dataloader stacks, with
    upsampled domains): each document's SLOT is pure per-row
    arithmetic — (rank−1)·L/w for weight w with L the weight LCM —
    so the global order (slot, source, rank) exists WITHOUT any
    global sort; shards can be written slot-ordered independently and
    consumed in order. The audit materializes the first 100 positions
    of the stream (TakeOrderedAndProject — top-k, never a full
    sort) and numbers them; the tiny global row_number runs on the
    100-row head, not the corpus.

    Scale shape: one per-source window (rank), row-local slot
    arithmetic, one top-k. The interleave ratio changes by editing
    the weight map — no reshuffle of the underlying data, because
    order is DERIVED, not materialized."""
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    wr = W.partitionBy("source").orderBy("doc_id")
    slotted = d.select(
        "doc_id",
        "source",
        F.row_number().over(wr).alias("rk"),
        F.when(F.col("source").isin("src0", "src1"), 2)
        .otherwise(1)
        .alias("w"),
    ).withColumn(
        "slot",
        F.floor((F.col("rk") - 1) * 2 / F.col("w")).cast("bigint"),
    )
    head = slotted.orderBy("slot", "source", "rk").limit(100)
    # Partition-less window is BOUNDED here: it numbers the 100-row
    # LIMIT head (TakeOrderedAndProject output), never the corpus.
    wpos = W.orderBy("slot", "source")
    return head.select(
        F.row_number().over(wpos).cast("bigint").alias("position"),
        "source",
        "doc_id",
        "slot",
    )


# ---------------------------------------------------------------------------
# C4 continued — language-ID confusion matrix (classifier eval vs gold)
# ---------------------------------------------------------------------------


@register(
    "c04_langid_confusion",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang AS gold_lang,
                         string_split(text, ' ') AS tk
                  FROM documents),
    pred AS (SELECT doc_id, gold_lang, {_o_langid_expr()} AS pred_lang
             FROM toks),
    cells AS (SELECT gold_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
              FROM pred GROUP BY gold_lang, pred_lang),
    tot AS (SELECT gold_lang, CAST(SUM(n) AS BIGINT) AS gold_total
            FROM cells GROUP BY gold_lang)
    SELECT c.gold_lang, c.pred_lang, c.n, t.gold_total,
           CAST(c.n AS DOUBLE) / t.gold_total AS recall_share
    FROM cells c JOIN tot t USING (gold_lang)
    """,
)
def c04_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4w: language-ID CONFUSION MATRIX — the classifier eval every
    curation heuristic owes its users: gold label (the corpus `lang`
    column) against the stopword-heuristic prediction (c04_langid's
    scorer, unchanged), as (gold, predicted) cells with per-gold
    recall shares. The matrix is what turns "langid is pretty good"
    into routing decisions: a language whose recall leaks into 'und'
    needs a bigger stopword list BEFORE the per-language pipelines
    fork (c07_domain_mix, c04_ppl_buckets group on this prediction);
    the zh row here — romanized stopwords barely fire — is exactly
    the visible failure the audit exists to surface.

    Scale shape: scoring is the usual row-local chain; the matrix is
    one (gold, pred) groupBy — ≤ |langs|² cells — and the share
    attach joins the |langs|-row totals back broadcast. One corpus
    shuffle on a tiny key."""
    d = t(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("gold_lang"),
        lang_id(tokens("text")).alias("pred_lang"),
    )
    cells = pred.groupBy("gold_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    tot = cells.groupBy("gold_lang").agg(
        F.sum("n").cast("bigint").alias("gold_total")
    )
    return cells.join(F.broadcast(tot), "gold_lang").select(
        "gold_lang",
        "pred_lang",
        "n",
        "gold_total",
        (F.col("n").cast("double") / F.col("gold_total")).alias(
            "recall_share"
        ),
    )


# ---------------------------------------------------------------------------
# C7 continued — the dataset card (one-row release summary)
# ---------------------------------------------------------------------------


def _dataset_card_oracle() -> str:
    pairs = _lsh_oracle(max_bucket=10_000).strip()
    return f"""
    WITH toks AS (SELECT doc_id, lang, source, text,
                         string_split(text, ' ') AS tk
                  FROM documents),
    base AS (SELECT
      CAST(COUNT(*) AS BIGINT)                          AS n_docs,
      CAST(SUM(len(tk)) AS BIGINT)                      AS total_tokens,
      CAST(COUNT(DISTINCT lang) AS BIGINT)              AS n_langs,
      CAST(COUNT(DISTINCT source) AS BIGINT)            AS n_sources,
      CAST(SUM(CAST(
        (CASE WHEN len(tk) BETWEEN 10 AND 5000 THEN 0.4 ELSE 0.0 END
         + CASE WHEN CAST(length(text) - (len(tk) - 1) AS DOUBLE) / len(tk)
                     BETWEEN 3.0 AND 12.0 THEN 0.4 ELSE 0.0 END
         + CASE WHEN len(list_filter(tk,
                     x -> x IN ('the','and','of','to','a'))) > 0
                THEN 0.2 ELSE 0.0 END) AS DECIMAL(38,6)))
        AS DOUBLE) / COUNT(*)                           AS mean_quality
      FROM toks),
    pairs AS ({pairs}),
    nd AS (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) AS neardup_docs FROM (
             SELECT id_a AS d FROM pairs
             UNION ALL SELECT id_b AS d FROM pairs) u)
    SELECT base.*, nd.neardup_docs,
           CAST(nd.neardup_docs AS DOUBLE) / base.n_docs AS neardup_rate
    FROM base, nd
    """


@register("c07_dataset_card", oracle=_dataset_card_oracle())
def c07_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7u: the DATASET CARD — the one-row release summary every
    published training corpus ships (datasheets-for-datasets made
    queryable): document and token counts, language and source
    cardinalities, decimal-exact mean quality score, and the near-dup
    exposure (distinct documents appearing in any capped-LSH
    candidate pair, as a count and a rate). One query, one artifact —
    the number set a consumer reads before deciding to train on the
    release, and the regression gate a release pipeline diffs against
    the previous card.

    Scale shape: the corpus-statistics half is ONE scan with scalar
    aggregates (token counts and quality are row-local expressions);
    the near-dup half reuses the banding pipeline (bucket-bounded,
    production cap); the two 1-row frames cross-join broadcast.
    Nothing here is new machinery — the card is deliberately a
    COMPOSITION of audited primitives, so its numbers match the
    standalone queries they summarize."""
    d = t(spark, sf_dir, "documents")
    from ..operators.text import quality_score

    tk = tokens("text")
    base = d.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tk)).cast("bigint").alias("total_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        (
            F.sum(
                quality_score(F.col("text"), tk).cast("decimal(38,6)")
            ).cast("double")
            / F.count("*")
        ).alias("mean_quality"),
    )
    sigs = minhash_signature(d, "text", "doc_id", k=8, portable=True)
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", k=8, band_size=2, max_bucket=10_000
    )
    # r14 (guide §2.4): explode both endpoints in ONE pass — the
    # two-branch unionAll evaluated the banding pipeline per branch.
    nd = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("d")
    ).agg(F.count_distinct("d").alias("neardup_docs"))
    return base.crossJoin(F.broadcast(nd)).select(
        "*",
        (
            F.col("neardup_docs").cast("double") / F.col("n_docs")
        ).alias("neardup_rate"),
    )


# ---------------------------------------------------------------------------
# C6 continued — HITS hubs/authorities over the directed candidate graph
# ---------------------------------------------------------------------------


def _hits_oracle() -> str:
    pairs_sql = _lsh_oracle(max_bucket=10_000).strip()
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs),
    h0 AS (SELECT DISTINCT src AS node, CAST(1 AS BIGINT) AS h FROM edges),
    a1 AS (SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS a
           FROM edges e JOIN h0 h ON h.node = e.src GROUP BY e.dst),
    h1 AS (SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS h
           FROM edges e JOIN a1 a ON a.node = e.dst GROUP BY e.src),
    a2 AS (SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS a
           FROM edges e JOIN h1 h ON h.node = e.src GROUP BY e.dst),
    h2 AS (SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS h
           FROM edges e JOIN a2 a ON a.node = e.dst GROUP BY e.src)
    SELECT COALESCE(h2.node, a2.node) AS doc_id,
           COALESCE(h2.h, 0) AS hub,
           COALESCE(a2.a, 0) AS authority
    FROM h2 FULL OUTER JOIN a2 ON a2.node = h2.node
    """


@register("c06_hits_scores", oracle=_hits_oracle())
def c06_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6j: HITS hubs and authorities (Kleinberg 1999, public) over the
    DIRECTED candidate graph (id_a → id_b, the banding join's a<b
    orientation): two un-normalized mutual-reinforcement rounds —
    authority = Σ hub of in-neighbors, hub = Σ authority of
    out-neighbors — kept in EXACT integer arithmetic (the scores are
    path counts, so fixed-iteration HITS needs no decimal dance at
    all, a stronger determinism property than even PageRank's
    quantized rounds). On a dedup graph the high-authority nodes are
    the documents many earlier-id near-dups point at — a cheap
    canonical-candidate signal orthogonal to c06_pagerank's symmetric
    centrality, and the second member of the eigenvector-centrality
    family the graph layer supports.

    Scale shape: identical per-round machinery to PageRank — one
    edge⋈score join + one keyed agg per half-round, lineage truncated
    per round (localCheckpoint); edges come from the capped banding
    join, so rounds are edge-list-sized."""
    sigs = minhash_signature(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=8, portable=True
    )
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", k=8, band_size=2, max_bucket=10_000
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint(eager=False)
    h = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1).cast("bigint").alias("h")
    )
    for _ in range(2):
        a = (
            edges.join(h, edges["src"] == h["node"])
            .groupBy("dst")
            .agg(F.sum("h").cast("bigint").alias("a"))
            .select(F.col("dst").alias("node"), "a")
            .localCheckpoint(eager=False)
        )
        h = (
            edges.join(a, edges["dst"] == a["node"])
            .groupBy("src")
            .agg(F.sum("a").cast("bigint").alias("h"))
            .select(F.col("src").alias("node"), "h")
            .localCheckpoint(eager=False)
        )
    hs = h.select(F.col("node").alias("hn"), "h")
    as_ = a.select(F.col("node").alias("an"), "a")
    return hs.join(
        as_, hs["hn"] == as_["an"], "full_outer"
    ).select(
        F.coalesce("hn", "an").alias("doc_id"),
        F.coalesce("h", F.lit(0)).cast("bigint").alias("hub"),
        F.coalesce("a", F.lit(0)).cast("bigint").alias("authority"),
    )


# ---------------------------------------------------------------------------
# C9 continued — span-level contamination attribution
# ---------------------------------------------------------------------------


_O_GRAMS4 = (
    "CASE WHEN len(tk) >= 4 THEN "
    "list_transform(generate_series(1, len(tk) - 3), "
    "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]) "
    "ELSE [] END"
)


@register(
    "c09_decon_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents),
    eval_grams AS (
      SELECT DISTINCT unnest({_O_GRAMS4}) AS g
      FROM toks WHERE doc_id % 53 = 0),
    corpus AS (
      SELECT doc_id, len(tk) AS n_tokens, i AS pos,
             tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
               AS g
      FROM toks, unnest(generate_series(1, len(tk) - 3)) AS u(i)
      WHERE doc_id % 53 <> 0 AND len(tk) >= 4),
    hits AS (
      SELECT c.doc_id, c.n_tokens, c.pos
      FROM corpus c JOIN eval_grams e USING (g))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)  AS n_hit_grams,
           CAST(MIN(pos) AS BIGINT)  AS first_pos,
           CAST(MAX(pos) AS BIGINT)  AS last_pos,
           CAST(MAX(pos) - MIN(pos) + 4 AS DOUBLE) / n_tokens AS span_frac
    FROM hits GROUP BY doc_id, n_tokens
    """,
)
def c09_decon_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9d: SPAN-LEVEL contamination attribution — c09_decontaminate
    says WHICH documents overlap the eval set; this says WHERE: every
    corpus 4-gram carries its token position through the broadcast
    eval-gram join, and the per-document rollup reports the hit count,
    the first/last contaminated positions, and the contaminated span
    fraction. Reviewers need the span to decide between dropping the
    document and EXCISING the quoted benchmark passage (the common
    case: one embedded eval question inside an otherwise-clean page —
    c04_boilerplate_strip's surgery, pointed at these positions,
    rescues the document); a doc-level flag forces the lossy choice.

    Scale shape: same as the doc-level gate — eval grams are
    benchmark-sized and broadcast; positions ride the existing
    explode (posexplode is free — the index was already there); the
    rollup is one doc-keyed agg. Span attribution costs ZERO extra
    shuffles over detection."""
    d = t(spark, sf_dir, "documents")
    tk = tokens("text")
    toks = d.select("doc_id", tk.alias("tk")).select(
        "doc_id", "tk", F.size("tk").alias("n_tokens")
    )
    gram = F.concat_ws(
        " ",
        F.col("tk")[F.col("pos") - 1],
        F.col("tk")[F.col("pos")],
        F.col("tk")[F.col("pos") + 1],
        F.col("tk")[F.col("pos") + 2],
    )
    grams = (
        toks.filter(F.col("n_tokens") >= 4)
        .select(
            "doc_id",
            "n_tokens",
            "tk",
            F.explode(
                F.sequence(F.lit(1), F.col("n_tokens") - 3)
            ).alias("pos"),
        )
        .select("doc_id", "n_tokens", "pos", gram.alias("g"))
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % 53 == 0).select("g").distinct()
    )
    corpus = grams.filter(F.col("doc_id") % 53 != 0)
    hits = corpus.join(F.broadcast(eval_grams), "g")
    return hits.groupBy("doc_id", "n_tokens").agg(
        F.count("*").alias("n_hit_grams"),
        F.min("pos").cast("bigint").alias("first_pos"),
        F.max("pos").cast("bigint").alias("last_pos"),
        (
            (F.max("pos") - F.min("pos") + 4).cast("double")
            / F.col("n_tokens")
        ).alias("span_frac"),
    ).drop("n_tokens").select(
        "doc_id", "n_hit_grams", "first_pos", "last_pos", "span_frac"
    )


@register(
    "c09_excise_apply",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents),
    eval_grams AS (
      SELECT DISTINCT unnest({_O_GRAMS4}) AS g
      FROM toks WHERE doc_id % 53 = 0),
    corpus AS (
      SELECT doc_id, len(tk) AS n_tokens, i AS pos,
             tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
               AS g
      FROM toks, unnest(generate_series(1, len(tk) - 3)) AS u(i)
      WHERE doc_id % 53 <> 0 AND len(tk) >= 4),
    spans AS (
      SELECT doc_id, MIN(pos) AS p0, MAX(pos) + 3 AS p1
      FROM corpus c JOIN eval_grams e USING (g)
      GROUP BY doc_id),
    excised AS (
      SELECT t.doc_id,
             list_concat(t.tk[1:s.p0 - 1], t.tk[s.p1 + 1:len(t.tk)])
               AS kept
      FROM toks t JOIN spans s USING (doc_id))
    SELECT doc_id,
           CAST(len(kept) AS BIGINT) AS n_tokens_kept,
           -- a fully-excised document rebuilds to the empty string
           -- (DuckDB's empty-list concat folds to NULL; Spark's '')
           COALESCE(array_to_string(kept, ' '), '') AS cleaned
    FROM excised
    """,
)
def c09_excise_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9e: contamination EXCISION — the surgery c09_decon_spans points
    at, applied: for each contaminated document, cut the token range
    [first contaminated position, last + 3] and rebuild the text from
    the surviving prefix and suffix — the document is RESCUED minus
    the quoted benchmark passage, instead of dropped whole (on real
    corpora the contaminated span is typically a few percent of an
    otherwise-useful page; doc-level dropping pays that loss
    corpus-wide). The conservative single-envelope cut (min..max hit)
    guarantees no eval 4-gram can survive reassembly — two separate
    quoted passages excise the clean text between them too, the safe
    direction for a decontamination gate.

    Scale shape: span bounds are the C9d rollup (one doc-keyed agg on
    the broadcast-join hits); the excision itself is ROW-LOCAL array
    slicing + join back to the doc spine — rebuilding costs no
    shuffle beyond attaching the 2-number span to each contaminated
    row (a doc-keyed broadcast-sized join: contaminated docs are the
    rare case)."""
    d = t(spark, sf_dir, "documents")
    tk = tokens("text")
    toks = d.select("doc_id", tk.alias("tk")).select(
        "doc_id", "tk", F.size("tk").alias("n_tokens")
    )
    gram = F.concat_ws(
        " ",
        F.col("tk")[F.col("pos") - 1],
        F.col("tk")[F.col("pos")],
        F.col("tk")[F.col("pos") + 1],
        F.col("tk")[F.col("pos") + 2],
    )
    grams = (
        toks.filter(F.col("n_tokens") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n_tokens") - 3)
            ).alias("pos"),
            gram.alias("g"),
        )
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % 53 == 0).select("g").distinct()
    )
    spans = (
        grams.filter(F.col("doc_id") % 53 != 0)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(
            F.min("pos").alias("p0"),
            (F.max("pos") + 3).alias("p1"),
        )
    )
    kept = F.concat(
        F.slice(F.col("tk"), 1, F.greatest(F.col("p0") - 1, F.lit(0))),
        F.when(
            F.col("p1") < F.col("n_tokens"),
            F.slice(
                F.col("tk"),
                F.col("p1") + 1,
                F.col("n_tokens") - F.col("p1"),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return (
        toks.join(F.broadcast(spans), "doc_id")
        .select("doc_id", kept.alias("kept"))
        .select(
            "doc_id",
            F.size("kept").cast("bigint").alias("n_tokens_kept"),
            F.array_join(F.col("kept"), " ").alias("cleaned"),
        )
    )


# ---------------------------------------------------------------------------
# C7 continued — water-filling token budget allocation across sources
# ---------------------------------------------------------------------------


@register(
    "c07_budget_waterfill",
    oracle="""
    WITH caps AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS cap
      FROM documents GROUP BY source),
    tot AS (SELECT CAST((SUM(cap) * 49) // 50 AS BIGINT) AS budget,
                   CAST(COUNT(*) AS BIGINT) AS n FROM caps),
    ordered AS (
      SELECT source, cap,
             ROW_NUMBER() OVER (ORDER BY cap, source) AS rk,
             CAST(COALESCE(SUM(cap) OVER (ORDER BY cap, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS taken_before
      FROM caps),
    cands AS (
      SELECT o.source, o.cap,
             CAST(FLOOR(CAST(t.budget - o.taken_before AS DOUBLE)
                        / (t.n - o.rk + 1)) AS BIGINT) AS cand
      FROM ordered o, tot t),
    line AS (SELECT CAST(MAX(cand) AS BIGINT) AS waterline FROM cands)
    SELECT c.source, c.cap,
           CAST(LEAST(c.cap, l.waterline) AS BIGINT) AS alloc,
           LEAST(c.cap, l.waterline) = c.cap AS exhausted
    FROM cands c, line l
    """,
)
def c07_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7w: WATER-FILLING budget allocation — distribute a token
    budget across sources targeting equal shares, under SUPPLY
    constraints (budget = 98% of the corpus, so scarce
    sources genuinely exhaust at test SF): a source with fewer tokens than
    its fair share is taken whole ("exhausted") and its unused
    entitlement redistributes to the rest. The greedy one-pass form:
    sort sources by capacity ascending; the WATERLINE is
    max over prefixes of ⌊(budget − smaller caps) / sources left⌋
    (the one-pass closed form — prefixes past the transition
    under-estimate and the max ignores them), and every source takes
    min(cap, waterline). Floor rounding strands < n_sources tokens,
    the documented remainder.
    This is the real shape of mixture planning (c07_domain_mix picks
    target shares; this reconciles them with what actually exists —
    the step naive mixture math gets wrong by oversampling scarce
    domains into repetition). All integer arithmetic (floor
    division), bit-exact cross-engine.

    Scale shape: one corpus pass for per-source caps, then the
    waterfill runs on the SOURCE table — thousands of rows at worst —
    as one window pass; the allocation table then drives
    c07_token_budget_sample per source. The corpus never shuffles for
    the planning step."""
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    # Source-table-sized; consumed by the budget agg AND the ordered
    # window — without the checkpoint each re-runs the corpus token
    # count scan (r14 resume, guide §2.4).
    caps = d.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("bigint").alias("cap")
    ).localCheckpoint(eager=False)
    # Integer floor division on BOTH sides (Spark DIV, DuckDB //): the
    # earlier double route differed by 1 whenever SUM(cap)*49 wasn't
    # divisible by 50 (DuckDB's double->bigint cast rounds to nearest,
    # Spark's truncates) — enough to shift the waterline. Caps are
    # non-negative, so truncation == floor and the two are bit-exact.
    tot = caps.agg(
        F.expr("CAST((sum(cap) * 49) DIV 50 AS BIGINT)").alias("budget"),
        F.count("*").alias("n"),
    )
    # Partition-less window is BOUNDED here: `caps` has one row per
    # SOURCE (an enum-sized planning table), never corpus-proportional.
    wo = W.orderBy("cap", "source")
    ordered = caps.select(
        "source",
        "cap",
        F.row_number().over(wo).alias("rk"),
        F.coalesce(
            F.sum("cap").over(
                wo.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("taken_before"),
    )
    cands = ordered.crossJoin(F.broadcast(tot)).select(
        "source",
        "cap",
        F.floor(
            (F.col("budget") - F.col("taken_before")).cast("double")
            / (F.col("n") - F.col("rk") + 1)
        )
        .cast("bigint")
        .alias("cand"),
    )
    line = cands.agg(F.max("cand").cast("bigint").alias("waterline"))
    return cands.crossJoin(F.broadcast(line)).select(
        "source",
        "cap",
        F.least(F.col("cap"), F.col("waterline")).alias("alloc"),
        (F.least(F.col("cap"), F.col("waterline")) == F.col("cap")).alias(
            "exhausted"
        ),
    )


@register(
    "c04_first_copy_dedup",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents),
    chunks AS (
      SELECT doc_id, i AS chunk_no,
             array_to_string(tk[i:i+2], ' ') AS ctext
      FROM toks, unnest(generate_series(1, len(tk), 3)) AS u(i)),
    ranked AS (
      SELECT doc_id, chunk_no, ctext,
             ROW_NUMBER() OVER (PARTITION BY ctext
                                ORDER BY doc_id, chunk_no) AS rn
      FROM chunks),
    kept AS (SELECT doc_id, chunk_no, ctext FROM ranked WHERE rn = 1),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   string_agg(ctext, ' ' ORDER BY chunk_no) AS cleaned
            FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
            FROM chunks GROUP BY doc_id)
    SELECT t.doc_id, t.n_chunks,
           COALESCE(a.n_kept, 0) AS n_kept,
           COALESCE(a.cleaned, '') AS cleaned
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """,
)
def c04_first_copy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4w2: FIRST-COPY exact dedup at chunk granularity — every chunk
    survives exactly ONCE corpus-wide, in its earliest position by
    (doc_id, chunk_no); all later copies are excised and each doc is
    reassembled from its surviving chunks in original order. This is
    the Lee et al. "Deduplicating Training Data Makes Language Models
    Better" semantic at paragraph granularity, and it is NOT
    c04_boilerplate_strip (which drops ALL copies of chunks above a
    document-frequency threshold): here rare-but-repeated text keeps
    one canonical copy, so no content is lost — only repetition.

    Scale shape: explode → groupBy(chunk text) with min(struct(doc_id,
    chunk_no)) — partial aggregation combines map-side, so the shuffle
    carries one candidate winner per chunk per input partition, not
    every occurrence (cheaper than the oracle's window, which would
    sort each chunk group) → broadcast-friendly join back on the
    winner triple → one doc-keyed rollup with an order-restoring
    array_sort (collect_list order is partition-nondeterministic and
    must never reach the output). At 100 TB key the shuffle by
    xxhash64(ctext) (collision-checked) so it carries 8 bytes per
    chunk, not the text."""
    d = t(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        F.explode(token_chunks(tokens("text"), 3, 3)).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_no").alias("chunk_no"),
        F.array_join(F.col("c.toks"), " ").alias("ctext"),
    )
    firsts = ch.groupBy("ctext").agg(
        F.min(F.struct("doc_id", "chunk_no")).alias("f")
    )
    kept = ch.join(
        firsts.select(
            "ctext",
            F.col("f.doc_id").alias("doc_id"),
            F.col("f.chunk_no").alias("chunk_no"),
        ),
        ["ctext", "doc_id", "chunk_no"],
    )
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_no", "ctext"))
                ),
                lambda x: x.ctext,
            ),
            " ",
        ).alias("cleaned"),
    )
    # Per-doc chunk count in CLOSED FORM — see c04_boilerplate_strip:
    # same r15 fix (size(token_chunks(...)) materialized every slice).
    tot = d.select(
        "doc_id", token_chunk_count(tokens("text"), 3).alias("n_chunks")
    ).filter(F.col("n_chunks") > 0)
    return tot.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )


@register(
    "c06_bfs_distance",
    oracle=f"""
    WITH RECURSIVE edges AS MATERIALIZED (
      SELECT src, dst FROM ({_knn_graph_oracle()})),
    bfs(node, d) AS (
      SELECT vec_id, 0 FROM embeddings WHERE vec_id % 50 = 0
      UNION
      SELECT e.dst, b.d + 1
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.d < 3)
    SELECT node, CAST(MIN(d) AS INT) AS dist
    FROM bfs GROUP BY node
    """,
)
def c06_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6b2: multi-source BFS hop distance over the k-NN graph — every
    node's MINIMUM hop count from the seed set (vec_id % 50 == 0)
    within 3 hops; unreached nodes are absent. The graph primitive
    the c06 family was missing: connected components answers
    "same cluster?", PageRank/HITS answer "how central?", BFS answers
    "HOW FAR from a trusted seed set?" — the quality-propagation /
    contamination-blast-radius query (how many hops from a known-bad
    document is this one?) and the reachability check behind
    crawl-frontier curation.

    Level-synchronous frontier expansion, the textbook distributed
    BFS: each round joins the CURRENT frontier (not the whole visited
    set) against the edge list, anti-joins out already-visited nodes
    (so a node's FIRST discovery fixes its distance — exactly min-hop
    semantics), and unions the survivors in. Work per round is
    O(frontier · out-degree), not O(visited); 3 rounds = 3 bounded
    shuffles over edge-list-sized frames. The oracle is a recursive
    CTE with the same horizon; UNION (not ALL) dedups re-discoveries.

    At 100 TB the edge list shuffles by src once per round — bucket
    the edge table by src (B10c) to make every round's join
    zero-exchange; the frontier is hop-bounded and stays the small
    side."""
    e = t(spark, sf_dir, "embeddings")
    # The edge list is reused by every round's join: materialize it
    # ONCE (the k-NN bucketed self-join is the expensive part) and
    # truncate per-round lineage so round 3 doesn't replay rounds 1-2.
    edges = (
        knn_graph(e, k=3, dim=64, n_planes=6)
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    visited = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("node"), F.lit(0).alias("d")
    )
    frontier = visited
    for r in range(1, 4):
        discovered = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"), F.lit(r).alias("d"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(discovered)
        frontier = discovered
    return visited.groupBy("node").agg(F.min("d").cast("int").alias("dist"))


@register(
    "c06_label_conductance",
    oracle=f"""
    WITH edges AS MATERIALIZED (SELECT src, dst FROM ({_knn_graph_oracle()})),
    lbl AS (SELECT vec_id, label FROM embeddings),
    le AS (
      SELECT ls.label AS src_label, ld.label AS dst_label
      FROM edges e
      JOIN lbl ls ON ls.vec_id = e.src
      JOIN lbl ld ON ld.vec_id = e.dst),
    vol AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS vol FROM (
        SELECT src_label AS label FROM le
        UNION ALL SELECT dst_label FROM le) GROUP BY label),
    cut AS (
      SELECT src_label AS label, CAST(COUNT(*) AS BIGINT) AS cut_out
      FROM le WHERE src_label <> dst_label GROUP BY src_label),
    tot AS (SELECT CAST(2 * COUNT(*) AS BIGINT) AS vol_all FROM le)
    SELECT v.label, v.vol,
           COALESCE(c.cut_out, 0) AS cut_out,
           CAST(COALESCE(c.cut_out, 0) AS DOUBLE)
             / LEAST(v.vol, t.vol_all - v.vol) AS conductance
    FROM vol v LEFT JOIN cut c USING (label) CROSS JOIN tot t
    """,
)
def c06_label_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6c2: label CONDUCTANCE over the k-NN graph — per label class:
    its edge-endpoint volume, the out-cut (edges leaving the class),
    and conductance cut/min(vol, vol_total − vol), the standard
    cluster-quality score (low = the class is a tight neighborhood;
    near 1 = the labels don't respect embedding geometry at all). The
    graph-metric EVALUATION the c06 family was missing: CC/label-
    spread PRODUCE groupings, this SCORES one against the geometry —
    the audit that catches a broken embedding (or mislabeled slice)
    before it drives semantic dedup or label propagation at 100 TB.
    On the synthetic i.i.d. embeddings conductance sits near 1 BY
    CONSTRUCTION (labels carry no geometry) — the operator measures
    the data and the oracle pins the arithmetic, exactly like
    c03_ivf_recall's stance.

    Shape: edge list ⋈ label table twice (id-keyed shuffle-hash
    joins; the label side is corpus-sized so it never broadcasts),
    then label-keyed integer rollups — everything downstream of the
    k-NN graph is edge-list-sized. Exact integers until the single
    final division (one IEEE op, bit-exact)."""
    e = t(spark, sf_dir, "embeddings")
    edges = knn_graph(e, k=3, dim=64, n_planes=6).select("src", "dst")
    lbl = e.select("vec_id", "label")
    le = (
        edges.join(
            lbl.select(
                F.col("vec_id").alias("src"), F.col("label").alias("src_label")
            ),
            "src",
        )
        .join(
            lbl.select(
                F.col("vec_id").alias("dst"), F.col("label").alias("dst_label")
            ),
            "dst",
        )
        .select("src_label", "dst_label")
        # Edge-list-sized, two narrow columns; consumed by vol, cut AND
        # tot — without the checkpoint each re-runs the k-NN graph
        # build plus both label joins (r14 resume, guide §2.4).
        .localCheckpoint(eager=False)
    )
    vol = (
        # Both endpoints in ONE pass over the cached edge list (the
        # symmetrize_pairs trick) instead of a two-branch union.
        le.select(
            F.explode(F.array("src_label", "dst_label")).alias("label")
        )
        .groupBy("label")
        .agg(F.count("*").alias("vol"))
    )
    cut = (
        le.filter(F.col("src_label") != F.col("dst_label"))
        .groupBy(F.col("src_label").alias("label"))
        .agg(F.count("*").alias("cut_out"))
    )
    tot = le.agg((2 * F.count("*")).alias("vol_all"))
    return (
        vol.join(cut, "label", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "label",
            "vol",
            F.coalesce("cut_out", F.lit(0)).alias("cut_out"),
            (
                F.coalesce("cut_out", F.lit(0)).cast("double")
                / F.least(F.col("vol"), F.col("vol_all") - F.col("vol"))
            ).alias("conductance"),
        )
    )


@register(
    "c04_bpe_merge_rounds",
    oracle="""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents),
    wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
           FROM w WHERE word <> '' GROUP BY word),
    v0 AS (SELECT word, n,
                  list_transform(generate_series(1, length(word)),
                                 i -> substring(word, i, 1)) AS syms
           FROM wf),
    c1 AS (SELECT syms[j] AS a, syms[j+1] AS b, SUM(n) AS total
           FROM v0, unnest(generate_series(1, len(syms)-1)) AS u(j)
           GROUP BY 1, 2),
    p1 AS (SELECT a, b FROM c1 ORDER BY total DESC, a, b LIMIT 1),
    v1 AS (SELECT word, n,
             list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
               CASE WHEN acc[len(acc)] = p.a AND x[1] = p.b
                    THEN list_concat(acc[1:len(acc)-1], [p.a || p.b])
                    ELSE list_concat(acc, x) END) AS syms
           FROM v0 CROSS JOIN p1 p),
    c2 AS (SELECT syms[j] AS a, syms[j+1] AS b, SUM(n) AS total
           FROM v1, unnest(generate_series(1, len(syms)-1)) AS u(j)
           GROUP BY 1, 2),
    p2 AS (SELECT a, b FROM c2 ORDER BY total DESC, a, b LIMIT 1),
    v2 AS (SELECT word, n,
             list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
               CASE WHEN acc[len(acc)] = p.a AND x[1] = p.b
                    THEN list_concat(acc[1:len(acc)-1], [p.a || p.b])
                    ELSE list_concat(acc, x) END) AS syms
           FROM v1 CROSS JOIN p2 p)
    SELECT word, n, array_to_string(syms, ' ') AS seg,
           CAST(len(syms) AS BIGINT) AS n_syms
    FROM v2
    """,
)
def c04_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4x: BPE TRAINING ROUNDS APPLIED (Sennrich et al., ACL 2016 —
    public algorithm): two full merge rounds of the byte-pair-encoding
    trainer, not just the pair-count inner step (c04_bpe_pair_counts):
    per round, the globally most frequent adjacent symbol pair
    (weighted by word frequency, ties lexicographic) becomes a merge
    rule, and every vocabulary word is re-segmented by the greedy
    left-to-right non-overlapping rewrite — the exact scan BPE
    defines, expressed as a deterministic array FOLD (accumulator
    last-element check), identical on both engines so 'aaa' under
    merge (a,a) gives [aa, a] on both. Output: each word's
    segmentation and symbol count after round 2 — the tokenizer's
    actual state, from which fertility (tokens/word) falls out.

    Scale shape: ONE corpus pass builds the word-frequency table;
    everything after runs on the VOCABULARY (~10⁵ rows at web scale,
    25 here) — pair counting is a vocab-keyed agg, the argmax pair is
    a 1-row broadcast into a row-local rewrite. k merge rounds = k
    bounded vocab-sized jobs, the same driver-iteration contract as
    c03_kmeans_iter; the corpus is never touched again."""
    d = t(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    v = wf.select(
        "word",
        "n",
        F.expr(
            "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
        ).alias("syms"),
    )
    apply_merge = (
        "aggregate(syms, cast(array() as array<string>), (acc, x) -> "
        "CASE WHEN size(acc) = 0 THEN array(x) "
        "WHEN element_at(acc, -1) = a AND x = b "
        "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(a, b))) "
        "ELSE concat(acc, array(x)) END)"
    )
    for _round in range(2):
        pairs = v.select(
            "n",
            F.explode(
                F.expr(
                    # sequence(1, 0) is DESCENDING in Spark — guard
                    # single-symbol words out instead.
                    "CASE WHEN size(syms) >= 2 THEN "
                    "transform(sequence(1, size(syms) - 1), j -> "
                    "struct(element_at(syms, j) AS a,"
                    "       element_at(syms, j + 1) AS b)) "
                    "ELSE array() END"
                )
            ).alias("p"),
        ).select("n", "p.a", "p.b")
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("n").alias("total"))
            .orderBy(F.col("total").desc(), "a", "b")
            .limit(1)
            .select("a", "b")
        )
        v = v.crossJoin(F.broadcast(top)).select(
            "word", "n", F.expr(apply_merge).alias("syms")
        )
    return v.select(
        "word",
        "n",
        F.array_join("syms", " ").alias("seg"),
        F.size("syms").cast("bigint").alias("n_syms"),
    )


@register(
    "c07_nested_subsets",
    oracle="""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS ntok,
             ((doc_id * doc_id) % 1000000007 * 2654435761 + doc_id)
               % 1000000007 AS h
      FROM documents),
    lv AS (SELECT d.doc_id, d.ntok, k
           FROM d, unnest(generate_series(0, 6)) AS u(k)
           WHERE h % (1 << k) = 0)
    SELECT CAST(k AS INT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
    FROM lv GROUP BY k
    """,
)
def c07_nested_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7x: NESTED scaling-law subsets — seven power-of-2 data subsets
    where each level is BY CONSTRUCTION a subset of the previous
    (membership at level k ⇔ hash % 2^k == 0, and 2^k | h implies
    2^(k-1) | h), the property scaling-law experiments require:
    training on the 1/64 slice then the 1/32 slice must ADD data,
    never swap it, or the curve measures sampling noise instead of
    scale. One deterministic arithmetic hash (the engine's portable
    scramble, bit-identical in the oracle), zero coordination — any
    worker can answer "is this doc in subset k?" row-locally, which
    is what makes the construction work across a 1000-executor
    ingest with no membership table to look up.

    Shape: one corpus pass, explode over 7 levels (bounded fan-out),
    one 7-key map-side-combined rollup. The level counts halving (and
    token sums with them) is the nesting made visible."""
    d = t(spark, sf_dir, "documents")
    h = (
        (F.col("doc_id") * F.col("doc_id")) % 1000000007 * 2654435761
        + F.col("doc_id")
    ) % 1000000007
    return (
        d.select(
            h.alias("h"),
            F.size(tokens("text")).alias("ntok"),
        )
        .select(
            "ntok",
            F.explode(
                F.expr("filter(sequence(0, 6), k -> h % shiftleft(1, k) = 0)")
            ).alias("level"),
        )
        .groupBy(F.col("level").cast("int").alias("level"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "c07_soft_dedup_weights",
    oracle=f"""
    SELECT d.doc_id,
           COALESCE(s.cluster_size, 1) AS cluster_size,
           CAST(1 AS DOUBLE) / COALESCE(s.cluster_size, 1) AS weight
    FROM documents d
    LEFT JOIN (SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size
               FROM ({_clusters_compact_oracle()})) s USING (doc_id)
    """,
)
def c07_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7y: SOFT dedup — REWEIGHT duplicates instead of dropping them:
    every doc in a near-dup cluster of size n gets sampling weight
    1/n (singletons keep 1), so each piece of CONTENT contributes one
    unit to the training mixture regardless of how many copies exist.
    This is the dedup-vs-diversity middle ground (hard dedup loses
    paraphrase variation; no dedup over-trains on boilerplate):
    downstream, c07_weighted_sample consumes exactly these weights.

    Shape (r14 rebase): the compact cluster pass
    (dedup_clusters_compact — exact collapse first, CC over
    distinct-text reps, member-counted sizes computed rep-side), then
    ONE left join back to the corpus — cluster table is
    duplicate-sized, far smaller than the corpus, so the join
    broadcasts at scale. The banding-first spelling paid the zipf
    mega-cluster's C(n,2) clique for sizes the exact-group counts give
    linearly (93.0 s → 7.4 s at equal volume, SCALE.md "Graph"); sizes
    are pytest-pinned identical below the bucket cap, and the oracle
    composes the exact-first cluster CTE. Weight is one IEEE division
    of exact integers, bit-identical cross-engine."""
    docs = t(spark, sf_dir, "documents")
    sizes = dedup_clusters_compact(docs).select("doc_id", "cluster_size")
    return docs.join(sizes, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
        (
            F.lit(1).cast("double")
            / F.coalesce("cluster_size", F.lit(1))
        ).alias("weight"),
    )


def _mis_oracle(rounds: int = 3) -> str:
    parts = [
        f"""
    WITH e0 AS MATERIALIZED (SELECT src, dst FROM ({_knn_graph_oracle()})),
    edges AS MATERIALIZED (
      SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    u0 AS MATERIALIZED (SELECT vec_id,
             (((vec_id * vec_id) % 1000000007 * 2654435761 + vec_id)
               % 1000000007) * 1000 + vec_id % 1000 AS pkey
           FROM embeddings)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""
    m{r} AS MATERIALIZED (SELECT e.src AS vec_id, MAX(v.pkey) AS mx
             FROM edges e JOIN u{p} v ON v.vec_id = e.dst
             WHERE e.src IN (SELECT vec_id FROM u{p})
             GROUP BY e.src),
    i{r} AS MATERIALIZED (SELECT u.vec_id FROM u{p} u
             LEFT JOIN m{r} ON m{r}.vec_id = u.vec_id
             WHERE u.pkey > COALESCE(m{r}.mx, -1)),
    o{r} AS MATERIALIZED (SELECT DISTINCT e.dst AS vec_id
             FROM edges e JOIN i{r} ON i{r}.vec_id = e.src
             WHERE e.dst IN (SELECT vec_id FROM u{p})),
    u{r} AS MATERIALIZED (SELECT * FROM u{p}
             WHERE vec_id NOT IN (SELECT vec_id FROM i{r})
               AND vec_id NOT IN (SELECT vec_id FROM o{r}))"""
        )
    selects = []
    for r in range(1, rounds + 1):
        selects.append(
            f"SELECT vec_id, 'in' AS state, CAST({r} AS INT) AS round"
            f" FROM i{r}"
        )
        selects.append(
            f"SELECT vec_id, 'out', CAST({r} AS INT) FROM o{r}"
        )
    selects.append(
        f"SELECT vec_id, 'undecided', CAST(0 AS INT) FROM u{rounds}"
    )
    return ",".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@register("c06_maximal_independent_set", oracle=_mis_oracle())
def c06_maximal_independent_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6m: MAXIMAL INDEPENDENT SET by parallel local-maxima rounds
    (Luby 1986, with a deterministic hash priority instead of fresh
    randomness): per round, every undecided node whose priority beats
    ALL undecided neighbors joins the set, its neighbors drop out,
    repeat. Two adjacent nodes can never both be local maxima, so
    independence holds by construction; every round decides at least
    the local maxima, so progress is guaranteed. As a curation
    primitive this is the "keep ONE per neighborhood" survivor rule —
    unlike component canonicalization (c06_canonical_doc), which
    keeps one per CONNECTED COMPONENT and so collapses long near-dup
    CHAINS (A~B~C~…~Z → one survivor even though A and Z aren't
    similar at all), MIS keeps a maximal set of mutually-dissimilar
    docs: no two survivors are neighbors, every dropped doc has a
    surviving neighbor. Priorities fold vec_id into the low digits
    (pkey = scramble·1000 + id) so they are strictly unique — the
    tie-break is inside the key, bit-identical cross-engine.

    Shape per round: one edge⋈state join + max-by-dst groupBy + two
    anti-joins — all edge-list-sized; 3 bounded rounds with lineage
    truncated per round (expected O(log n) rounds decide everything;
    leftovers report 'undecided', never silently resolve)."""
    e = t(spark, sf_dir, "embeddings")
    e0 = knn_graph(e, k=3, dim=64, n_planes=6).select("src", "dst")
    # symmetrize_pairs (r14): one pass over the kNN-graph pipeline
    # instead of the two-branch union.
    edges = (
        symmetrize_pairs(e0, "src", "dst", "src", "dst")
        .distinct()
        .localCheckpoint(eager=False)
    )
    und = e.select(
        "vec_id",
        (
            (
                (F.col("vec_id") * F.col("vec_id"))
                % 1000000007
                * 2654435761
                + F.col("vec_id")
            )
            % 1000000007
            * 1000
            + F.col("vec_id") % 1000
        ).alias("pkey"),
    ).localCheckpoint(eager=False)
    out = None
    for r in range(1, 4):
        mx = (
            edges.join(
                und.select(F.col("vec_id").alias("dst"), "pkey"), "dst"
            )
            .join(und.select(F.col("vec_id").alias("src")), "src")
            .groupBy(F.col("src").alias("vec_id"))
            .agg(F.max("pkey").alias("mx"))
        )
        winners = (
            und.join(mx, "vec_id", "left")
            .filter(F.col("pkey") > F.coalesce("mx", F.lit(-1)))
            .select("vec_id")
            .localCheckpoint(eager=False)
        )
        dropped = (
            edges.join(winners.withColumnRenamed("vec_id", "src"), "src")
            .select(F.col("dst").alias("vec_id"))
            .join(und, "vec_id", "left_semi")
            .distinct()
            .localCheckpoint(eager=False)
        )
        decided = winners.select(
            "vec_id", F.lit("in").alias("state"), F.lit(r).cast("int").alias("round")
        ).unionByName(
            dropped.select(
                "vec_id", F.lit("out").alias("state"), F.lit(r).cast("int").alias("round")
            )
        )
        out = decided if out is None else out.unionByName(decided)
        und = (
            und.join(winners, "vec_id", "left_anti")
            .join(dropped, "vec_id", "left_anti")
            .localCheckpoint(eager=False)
        )
    return out.unionByName(
        und.select(
            "vec_id",
            F.lit("undecided").alias("state"),
            F.lit(0).cast("int").alias("round"),
        )
    )


@register(
    "c09_decon_verify",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents),
    eval_grams AS (
      SELECT DISTINCT unnest({_O_GRAMS4}) AS g
      FROM toks WHERE doc_id % 53 = 0),
    corpus AS (
      SELECT doc_id, len(tk) AS n_tokens, i AS pos,
             tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
               AS g
      FROM toks, unnest(generate_series(1, len(tk) - 3)) AS u(i)
      WHERE doc_id % 53 <> 0 AND len(tk) >= 4),
    hits AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS hits_before,
             MIN(pos) AS p0, MAX(pos) + 3 AS p1
      FROM corpus c JOIN eval_grams e USING (g)
      GROUP BY doc_id),
    excised AS (
      SELECT t.doc_id, h.hits_before,
             list_concat(t.tk[1:h.p0 - 1], t.tk[h.p1 + 1:len(t.tk)])
               AS kept
      FROM toks t JOIN hits h USING (doc_id)),
    regrams AS (
      SELECT doc_id,
             kept[i] || ' ' || kept[i+1] || ' ' || kept[i+2] || ' ' ||
               kept[i+3] AS g
      FROM excised, unnest(generate_series(1, len(kept) - 3)) AS u(i)
      WHERE len(kept) >= 4),
    recheck AS (
      SELECT r.doc_id, CAST(COUNT(*) AS BIGINT) AS hits_after
      FROM regrams r JOIN eval_grams e USING (g)
      GROUP BY r.doc_id)
    SELECT e.doc_id, e.hits_before,
           COALESCE(rc.hits_after, 0) AS hits_after
    FROM excised e LEFT JOIN recheck rc USING (doc_id)
    """,
)
def c09_decon_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9v: decontamination VERIFICATION — close the loop: run the C9e
    excision, then RE-RUN detection on the cleaned text and report
    per-doc eval-4-gram hits before and after. ``hits_after`` is 0
    for every row — guaranteed by the single-envelope cut (no eval
    gram can survive [p0, p1+3] removal, and reassembly can't create
    one because prefix and suffix were gram-free on either side of
    the cut... except the SEAM: prefix tail + suffix head form NEW
    4-grams the original text never had — re-detection is exactly the
    audit that would catch a seam regression, which is WHY the gate
    re-checks instead of trusting the proof). An eval firewall you
    can hand an auditor: detection → surgery → re-detection, all
    data, no trust.

    Shape: the C9e pipeline plus one more gram explode over the
    (contaminated-docs-only) cleaned text — the recheck costs
    O(contaminated docs), not a second corpus pass; eval grams stay
    one broadcast."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens("text").alias("tk")).select(
        "doc_id", "tk", F.size("tk").alias("n_tokens")
    )
    gram = F.concat_ws(
        " ",
        F.col("tk")[F.col("pos") - 1],
        F.col("tk")[F.col("pos")],
        F.col("tk")[F.col("pos") + 1],
        F.col("tk")[F.col("pos") + 2],
    )
    grams = toks.filter(F.col("n_tokens") >= 4).select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n_tokens") - 3)).alias("pos"),
        gram.alias("g"),
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % 53 == 0).select("g").distinct()
    )
    hits = (
        grams.filter(F.col("doc_id") % 53 != 0)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("hits_before"),
            F.min("pos").alias("p0"),
            (F.max("pos") + 3).alias("p1"),
        )
    )
    kept = F.concat(
        F.slice(F.col("tk"), 1, F.greatest(F.col("p0") - 1, F.lit(0))),
        F.when(
            F.col("p1") < F.col("n_tokens"),
            F.slice(
                F.col("tk"),
                F.col("p1") + 1,
                F.col("n_tokens") - F.col("p1"),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    excised = (
        toks.join(hits, "doc_id")
        .select("doc_id", "hits_before", kept.alias("kept"))
        .withColumn("n_kept", F.size("kept"))
    )
    regram = F.concat_ws(
        " ",
        F.col("kept")[F.col("pos") - 1],
        F.col("kept")[F.col("pos")],
        F.col("kept")[F.col("pos") + 1],
        F.col("kept")[F.col("pos") + 2],
    )
    regrams = excised.filter(F.col("n_kept") >= 4).select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n_kept") - 3)).alias("pos"),
        regram.alias("g"),
    )
    recheck = (
        regrams.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("hits_after"))
    )
    return excised.join(recheck, "doc_id", "left").select(
        "doc_id",
        "hits_before",
        F.coalesce("hits_after", F.lit(0)).alias("hits_after"),
    )


@register(
    "c04_oov_rate",
    oracle="""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents),
    wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
           FROM w WHERE word <> '' GROUP BY word),
    ranked AS (SELECT word, n,
                      ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rk
               FROM wf),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM wf),
    sizes AS (SELECT unnest([5, 10, 15, 20]) AS vocab_size)
    SELECT s.vocab_size,
           CAST(t.total - SUM(r.n) FILTER (WHERE r.rk <= s.vocab_size)
                AS BIGINT) AS oov_tokens,
           CAST(t.total - SUM(r.n) FILTER (WHERE r.rk <= s.vocab_size)
                AS DOUBLE) / t.total AS oov_rate
    FROM sizes s CROSS JOIN ranked r CROSS JOIN tot t
    GROUP BY s.vocab_size, t.total
    """,
)
def c04_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4y: OUT-OF-VOCABULARY rate curve — for candidate vocabulary
    sizes, the fraction of corpus TOKENS not covered by the top-N
    most frequent types (ties broken lexicographically): the
    vocab-size tuning curve every tokenizer decision reads (too small
    → OOV explosion, too big → wasted embedding rows; the knee of
    this curve is the answer). Zipfian text makes the curve drop
    fast — the measurement that justifies it.

    Shape: one corpus pass to the word-frequency table; the curve
    itself is a vocab-sized rank window plus a tiny sizes×vocab
    cross join (bounded by |sizes| · |types|) with conditional sums —
    at web scale the ranked vocab is ~10⁵ rows, so the whole sweep
    after the corpus pass is sub-second. oov_rate is one IEEE
    division of exact integers, bit-identical cross-engine.

    The vocab rank is the DISTRIBUTED global_rank, not a
    partition-less row_number window (r10 review catch — the last
    such window in plans/): the type table is corpus-SUBLINEAR
    (Heaps' law) but unbounded — noisy web tokenization can push it
    to 10⁸ rows, past what one reducer should sort. (n DESC, word)
    is a total order, so the range-partitioned construction is
    value-identical to the window it replaces."""
    d = t(spark, sf_dir, "documents")
    from ..operators.rank import global_rank

    wf = (
        d.select(F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    # pin stays default-True: wf is a SHUFFLE output (groupBy), and a
    # recompute after executor loss can reorder rows within its
    # partitions — the exact two-job offsets hazard the pin exists
    # for. pin=False is only for deterministic lineages (parquet
    # scans, rank.py:94-101); the pinned frame here is the vocab
    # table (corpus-sublinear), so the checkpoint is planning-sized.
    ranked = global_rank(wf, [F.col("n").desc(), "word"], rank_name="rk")
    # Total from RANKED, not wf: ranked reads global_rank's pinned
    # checkpoint, while wf is a separate un-checkpointed lineage whose
    # aggregate would re-run the full corpus explode+groupBy a second
    # time (r10 review catch — this was the only corpus-linear stage
    # in the query, silently doubled).
    tot = ranked.agg(F.sum("n").cast("bigint").alias("total"))
    sizes = spark.createDataFrame(
        [(5,), (10,), (15,), (20,)], "vocab_size int"
    )
    # sizes is ENUM-sized (4 planning constants) — broadcast-hinted so
    # the cross join plans as BroadcastNestedLoopJoin instead of
    # CartesianProduct: the checkpointed rank frame carries no stats,
    # and without the hint Spark cannot see that one side is bounded
    # (caught by the full-book plan audit, tools/explain_report.py
    # --all). Legitimate per the bounded-side broadcast rule: the hint
    # is on the constant side, never the corpus-scaling one.
    return (
        ranked.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(tot))
        .groupBy("vocab_size", "total")
        .agg(
            (
                F.first("total")
                - F.sum(F.when(F.col("rk") <= F.col("vocab_size"), F.col("n")).otherwise(0))
            )
            .cast("bigint")
            .alias("oov_tokens")
        )
        .select(
            "vocab_size",
            "oov_tokens",
            (F.col("oov_tokens").cast("double") / F.col("total")).alias(
                "oov_rate"
            ),
        )
    )


#: Shared by the text-keyed query and its r13 hash-keyed twin: the
#: rewrite is semantics-preserving absent xxhash64 collisions, so BOTH
#: spellings hash-check against the same text-keyed SQL (the same
#: discipline as c04_boilerplate_strip_hashkey).
_OVERLAP_MATRIX_ORACLE = """
    WITH toks AS (SELECT source, string_split(text, ' ') AS tk
                  FROM documents),
    grams AS (
      SELECT DISTINCT source,
             tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
               AS g
      FROM toks, unnest(generate_series(1, len(tk) - 3)) AS u(i)
      WHERE len(tk) >= 4),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
              FROM grams GROUP BY source),
    shared AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM grams a JOIN grams b ON a.g = b.g AND a.source <> b.source
      GROUP BY a.source, b.source)
    SELECT s.src_a, s.src_b, za.n_grams AS grams_a, s.shared,
           CAST(s.shared AS DOUBLE) / za.n_grams AS containment
    FROM shared s JOIN sizes za ON za.source = s.src_a
    """


@register(
    "c02_source_overlap_matrix",
    oracle=_OVERLAP_MATRIX_ORACLE,
)
def c02_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2o: SOURCE-pair n-gram containment MATRIX — for every ordered
    source pair, |grams(A) ∩ grams(B)| / |grams(A)|: the corpus-level
    provenance audit ("which sources syndicate/mirror which") that
    decides whether two crawl sources should be deduped against each
    other at all, and the input to mixture planning when sources
    overlap heavily (double-counting shared content inflates a
    domain's effective weight). Pairwise c02_cross_corpus_overlap
    answers one A-vs-B question; this is the full matrix in ONE
    gram-keyed self-join — sources meet WHERE THE GRAM LIVES instead
    of broadcasting per-pair probes, so cost is one shuffle of the
    distinct (source, gram) set regardless of how many source pairs
    exist (pairs² probes would dominate at hundreds of sources).

    Scale shape: distinct-ify per (source, gram) first (the explode's
    map-side combine), self-join on gram — per-gram fan-out is
    sources-per-gram, bounded by the source count — then a
    pair-keyed count. At 100 TB key the join by xxhash64(gram)."""
    d = t(spark, sf_dir, "documents")
    tk = tokens("text")
    toks = d.select("source", tk.alias("tk")).filter(F.size("tk") >= 4)
    gram = F.concat_ws(
        " ",
        F.col("tk")[F.col("pos") - 1],
        F.col("tk")[F.col("pos")],
        F.col("tk")[F.col("pos") + 1],
        F.col("tk")[F.col("pos") + 2],
    )
    grams = (
        toks.select(
            "source",
            F.explode(
                F.sequence(F.lit(1), F.size("tk") - 3)
            ).alias("pos"),
            gram.alias("g"),
        )
        .select("source", "g")
        .distinct()
        # (source, gram)-distinct rows; consumed THREE times (sizes
        # agg + both self-join sides) — without the checkpoint each
        # re-runs the corpus explode + DISTINCT shuffle (r14 resume,
        # guide §2.4).
        .localCheckpoint(eager=False)
    )
    sizes = grams.groupBy("source").agg(F.count("*").alias("n_grams"))
    a = grams.select(F.col("source").alias("src_a"), "g")
    b = grams.select(F.col("source").alias("src_b"), "g")
    shared = (
        a.join(b, "g")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared"))
    )
    return shared.join(
        F.broadcast(sizes.withColumnRenamed("source", "src_a")), "src_a"
    ).select(
        "src_a",
        "src_b",
        F.col("n_grams").alias("grams_a"),
        "shared",
        (F.col("shared").cast("double") / F.col("n_grams")).alias(
            "containment"
        ),
    )


@register(
    "c02_source_overlap_matrix_hashkey",
    oracle=_OVERLAP_MATRIX_ORACLE,
)
def c02_source_overlap_matrix_hashkey(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """C2o-scale: the xxhash64-keyed spelling the text-keyed query's
    docstring prescribes for 100 TB ("key the join by xxhash64(gram)"),
    implemented — round-13 order #5, the THIRD instance of the
    hash-key-rewrite-with-text-oracle discipline (after
    c04_boilerplate_strip_hashkey and the r12 decision note). Each
    exploded gram hashes ONCE at the map side; the distinct, the
    self-join exchange, and the join comparisons then carry/compare a
    fixed 8-byte key instead of the ~25-char 4-token gram text — here,
    unlike the 2-token boilerplate chunks, the key is ~3x wider than
    the hash, so the wire savings have a real shot at paying for the
    hash pass (measured both ways in SCALE.md "Dedup family", not
    asserted).

    Semantics-preserving absent collisions (a collision would merge
    two distinct grams' source sets, inflating `shared`), so the
    oracle is the TEXT-keyed SQL verbatim; the collision premise is
    pinned by tests/test_curation.py on the corpus's distinct grams.
    Output is bit-identical to c02_source_overlap_matrix."""
    d = t(spark, sf_dir, "documents")
    tk = tokens("text")
    toks = d.select("source", tk.alias("tk")).filter(F.size("tk") >= 4)
    gram = F.concat_ws(
        " ",
        F.col("tk")[F.col("pos") - 1],
        F.col("tk")[F.col("pos")],
        F.col("tk")[F.col("pos") + 1],
        F.col("tk")[F.col("pos") + 2],
    )
    grams = (
        toks.select(
            "source",
            F.explode(
                F.sequence(F.lit(1), F.size("tk") - 3)
            ).alias("pos"),
            F.xxhash64(gram).alias("gh"),
        )
        .select("source", "gh")
        .distinct()
        # (source, hash)-distinct rows (narrow); consumed THREE times
        # (sizes agg + both self-join sides) — checkpoint so the
        # explode + DISTINCT shuffle runs once (r14 resume, guide §2.4).
        .localCheckpoint(eager=False)
    )
    sizes = grams.groupBy("source").agg(F.count("*").alias("n_grams"))
    a = grams.select(F.col("source").alias("src_a"), "gh")
    b = grams.select(F.col("source").alias("src_b"), "gh")
    shared = (
        a.join(b, "gh")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared"))
    )
    return shared.join(
        F.broadcast(sizes.withColumnRenamed("source", "src_a")), "src_a"
    ).select(
        "src_a",
        "src_b",
        F.col("n_grams").alias("grams_a"),
        "shared",
        (F.col("shared").cast("double") / F.col("n_grams")).alias(
            "containment"
        ),
    )


@register(
    "c07_curation_ab_diff",
    oracle="""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS tk
                  FROM documents),
    flags AS (
      SELECT doc_id, source,
             len(tk) BETWEEN 20 AND 80 AS keep_a,
             len(tk) BETWEEN 30 AND 70
               AND CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) >= 0.5
               AS keep_b
      FROM toks)
    SELECT source,
           CAST(COUNT(*) FILTER (WHERE keep_a AND keep_b) AS BIGINT)
             AS kept_both,
           CAST(COUNT(*) FILTER (WHERE keep_a AND NOT keep_b) AS BIGINT)
             AS only_a,
           CAST(COUNT(*) FILTER (WHERE keep_b AND NOT keep_a) AS BIGINT)
             AS only_b,
           CAST(COUNT(*) FILTER (WHERE NOT keep_a AND NOT keep_b) AS BIGINT)
             AS dropped_both
    FROM flags GROUP BY source
    """,
)
def c07_curation_ab_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7z: curation-config A/B DIFF — two candidate filter configs
    (A: the word-count band alone; B: a tighter band plus a lexical
    diversity floor) evaluated in the SAME row-local pass, with every
    document classified kept-by-both / only-A / only-B / dropped-by-
    both, rolled up per source. This is the audit a curation change
    ships with: not "config B keeps 12% less" (the useless global
    number) but WHICH sources the delta concentrates in — a tightened
    rule that silently guts one domain shows up as a fat only_A cell
    in that source's row, before any training run pays for it.

    Shape: both configs are row-local flag expressions computed in
    one corpus scan (evaluating k candidate configs costs one pass,
    not k); the rollup is a source-keyed map-side-combined count
    matrix. The same pattern scales to a config GRID — flags are
    columns, the diff is conditional counts."""
    d = t(spark, sf_dir, "documents")
    tk = tokens("text")
    flags = d.select(
        "source",
        F.size(tk).alias("n"),
        (F.size(F.array_distinct(tk)).cast("double") / F.size(tk)).alias(
            "div"
        ),
    ).select(
        "source",
        F.col("n").between(20, 80).alias("keep_a"),
        (F.col("n").between(30, 70) & (F.col("div") >= 0.5)).alias("keep_b"),
    )
    return flags.groupBy("source").agg(
        F.sum(
            F.when(F.col("keep_a") & F.col("keep_b"), 1).otherwise(0)
        ).cast("bigint").alias("kept_both"),
        F.sum(
            F.when(F.col("keep_a") & ~F.col("keep_b"), 1).otherwise(0)
        ).cast("bigint").alias("only_a"),
        F.sum(
            F.when(F.col("keep_b") & ~F.col("keep_a"), 1).otherwise(0)
        ).cast("bigint").alias("only_b"),
        F.sum(
            F.when(~F.col("keep_a") & ~F.col("keep_b"), 1).otherwise(0)
        ).cast("bigint").alias("dropped_both"),
    )


@register("c04_boilerplate_strip_hashkey", oracle=_BOILERPLATE_ORACLE)
def c04_boilerplate_strip_hashkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4v-scale: the HASH-KEYED shuffle c04_boilerplate_strip's
    docstring prescribes for 100 TB, implemented: the chunk-frequency
    groupBy and the filter join key on ``xxhash64(ctext)`` instead of
    the chunk text, so the frequency table's shuffle and the join
    comparisons carry 8-byte keys where the text-keyed plan ships the
    chunk string per distinct chunk per map partition (chunk payloads
    still ride the probe side — they are the OUTPUT — but key
    exchange, hash table build, and comparisons all shrink to fixed
    width). Semantics-preserving absent 64-bit collisions, so the
    oracle is the TEXT-keyed SQL verbatim (the b10_salted_join
    discipline — the hash match proves the rewrite drops/keeps
    exactly the same chunks), and the driver's value-hash is itself
    the collision check at test SF; the pinning test additionally
    asserts zero xxhash64 collisions over the corpus's distinct
    chunks and output-equality with the text-keyed query. At a true
    100 TB density a collision is ~n²/2⁶⁵ — audit with the count
    the test pins if the corpus's distinct-chunk count approaches
    2³² (where the birthday term stops being negligible)."""
    d = t(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        F.explode(token_chunks(tokens("text"), 2, 2)).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_no").alias("chunk_no"),
        F.array_join(F.col("c.toks"), " ").alias("ctext"),
    ).withColumn("h", F.xxhash64("ctext"))
    counts = ch.groupBy("h").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    kept = ch.join(counts, "h").filter(F.col("nd") < 20)
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_no", "ctext"))
                ),
                lambda x: x.ctext,
            ),
            " ",
        ).alias("cleaned"),
    )
    # Per-doc chunk count in CLOSED FORM — see c04_boilerplate_strip:
    # same r15 fix (size(token_chunks(...)) materialized every slice).
    tot = d.select(
        "doc_id", token_chunk_count(tokens("text"), 2).alias("n_chunks")
    ).filter(F.col("n_chunks") > 0)
    return tot.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )
