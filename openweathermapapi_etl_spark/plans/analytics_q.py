"""Round-7 analytics batch: exact set-similarity join (prefix
filtering), integer-sequence islands, per-key drawdown, robust
dispersion (MAD), moving distinct counts, per-source quantile
normalization, common-neighbor graph similarity, and CDC changelog
compaction.

Reference basis: all are queries the reference's ad-hoc PGAdmin SQL
surface invites over its loaded tables
(/root/reference/README.md:62-78) — sequence audits, latest-state
reads of the keyed weather table, windowed statistics — re-expressed
so no step funnels the corpus through one task. Float policy as in
util.py: integer arithmetic up to a final single IEEE division where
possible; exact-percentile interpolation is (a+b)·frac arithmetic on
identical operands in both engines.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import lsh_candidate_pairs, minhash_signature
from ..operators.cluster import symmetrize_pairs
from ..operators.rank import global_rank
from ..operators.sequences import cdc_latest_state, max_drawdown, sequence_islands
from ..operators.setsim import setsim_join
from ..operators.spatial import grid_radius_join, hash_coord
from .registry import register
from .tier_c import _O_SHINGLES, _lsh_oracle
from ..operators.text import bpe_token_count, tokens
from .util import davg, t

# ---------------------------------------------------------------------------
# C2 continued — EXACT set-similarity self-join (prefix filtering)
# ---------------------------------------------------------------------------

_TAU = Fraction(4, 5)


@register(
    "c02_setsim_exact",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sets AS (SELECT doc_id, list_distinct({_O_SHINGLES}) AS s FROM toks),
    ne AS (SELECT * FROM sets WHERE len(s) > 0),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
            CAST(len(a.s) + len(b.s) AS BIGINT) AS ssum
          FROM ne a JOIN ne b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, inter, ssum - inter AS uni,
           CAST(inter AS DOUBLE) / (ssum - inter) AS jaccard
    FROM p WHERE inter * {_TAU.denominator} >= (ssum - inter) * {_TAU.numerator}
    """,
)
def c02_setsim_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2g: EXACT Jaccard >= 4/5 self-join on 3-gram shingle sets via
    prefix filtering (operators/setsim.py) — the no-false-negative
    complement of the LSH family: banding can miss true near-dups,
    this cannot, and it still never runs the all-pairs join. Join keys
    are each document's RAREST shingles (global frequency order via
    the exchange-aware total-order rank), so candidate buckets shrink
    exactly where a naive token join explodes; the threshold test is
    pure integer arithmetic, the output jaccard one IEEE division.
    The oracle is the brute-force all-pairs join — feasible at oracle
    SF only, which is the point: same answer, quadratic vs near-linear
    candidate work."""
    docs = t(spark, sf_dir, "documents")
    return setsim_join(
        docs, "doc_id", "text", tau=_TAU, shingle_n=3,
        pair_dedup="positional",
    )


# ---------------------------------------------------------------------------
# B64 — integer-sequence islands (gap audit)
# ---------------------------------------------------------------------------

_ISLAND_MIN_PRICE = 250_000


@register(
    "b64_sequence_islands",
    oracle=f"""
    WITH ids AS (SELECT DISTINCT o_orderkey AS id FROM orders
                 WHERE o_totalprice > {_ISLAND_MIN_PRICE}
                   AND o_orderkey IS NOT NULL),
    r AS (SELECT id, row_number() OVER (ORDER BY id) AS rn FROM ids)
    SELECT MIN(id) AS island_start, MAX(id) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_ids
    FROM r GROUP BY id - rn
    """,
)
def b64_sequence_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B64: gaps-and-islands over an integer id sequence — the audit
    query behind "which ingest batches are missing?" (the reference's
    keyed weather table invites exactly this over its batch
    timestamps, README.md:62-78). The ``id - row_number`` delta trick
    turns consecutive runs into groupBy keys — no self-join, no
    lead/lag; the row_number is operators/rank.py's range-partitioned
    global rank, so unlike the oracle's single-reducer ``OVER (ORDER
    BY id)`` no task ever holds the whole sequence."""
    orders = t(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > _ISLAND_MIN_PRICE
    )
    return sequence_islands(orders, "o_orderkey")


# ---------------------------------------------------------------------------
# B24 continued — per-key maximum drawdown
# ---------------------------------------------------------------------------


@register(
    "b24_max_drawdown",
    oracle="""
    WITH ev AS (SELECT event_id, date_trunc('microseconds', ts) AS ts,
                       user_id, value FROM events),
    w AS (SELECT user_id, value,
            max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk
          FROM ev)
    SELECT user_id, max(pk) AS peak, max(pk - value) AS max_drawdown
    FROM w GROUP BY user_id
    """,
)
def b24_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B24h: largest peak-to-trough drop per user's value series
    (operators/sequences.py::max_drawdown) — the running-extreme
    analytic window in its hardest-to-fake form (cummax then a global
    max of differences; any ordering error changes the answer). One
    key-partitioned cumulative window + one agg; running max and the
    subtraction are order-exact IEEE ops, bit-identical to the oracle
    walking the same (ts, event_id) total order."""
    ev = t(spark, sf_dir, "events")
    return max_drawdown(ev, "user_id", ["ts", "event_id"], "value")


# ---------------------------------------------------------------------------
# B16 continued — median absolute deviation (robust dispersion)
# ---------------------------------------------------------------------------


@register(
    "b16_mad",
    oracle="""
    WITH med AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
                 FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag, m.med,
           quantile_cont(abs(l.l_quantity - m.med), 0.5) AS mad
    FROM lineitem l JOIN med m USING (l_returnflag)
    GROUP BY l.l_returnflag, m.med
    """,
)
def b16_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B16h: exact median absolute deviation per group — the robust
    twin of stddev (outlier-immune dispersion, what c07_outlier_filter
    would use on heavy-tailed quality scores). Two exact-percentile
    aggregations bridged by a BROADCAST of the per-group medians
    (group-count rows); Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the (n-1)·p linear-interpolation
    definition, and every interpolated operand is identical on both
    sides, so the doubles match bit-for-bit."""
    li = t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("med")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "med")
        .agg(
            F.percentile(F.abs(F.col("l_quantity") - F.col("med")), F.lit(0.5)).alias(
                "mad"
            )
        )
        .select("l_returnflag", "med", "mad")
    )


# ---------------------------------------------------------------------------
# B65 — moving distinct count (windowed COUNT(DISTINCT))
# ---------------------------------------------------------------------------


@register(
    "b65_windowed_distinct",
    oracle="""
    WITH ev AS (SELECT event_id, date_trunc('microseconds', ts) AS ts,
                       user_id, event_type FROM events)
    SELECT event_id, user_id,
           count(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS n_distinct_10
    FROM ev
    """,
)
def b65_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B65: distinct event types over each user's trailing 10 events —
    engagement breadth. Spark windows refuse DISTINCT aggregates, so
    the engine spells it ``size(collect_set() OVER w)``: exact, stays
    JVM-side, and state is bounded by the ROWS frame (10 rows), so
    per-row cost is O(frame), not O(history) — the reason this
    formulation survives where ``collect_set`` over an UNBOUNDED frame
    would not. One key-partitioned exchange."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).cast("long").alias("n_distinct_10"),
    )


# ---------------------------------------------------------------------------
# C7 continued — per-source quantile normalization
# ---------------------------------------------------------------------------


@register(
    "c07_quantile_normalize",
    oracle="""
    SELECT doc_id, source,
           percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
             AS qnorm
    FROM documents
    """,
)
def c07_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7m: per-source quantile normalization of a quality signal —
    maps each source's score distribution onto uniform [0,1] so a
    cross-source mixture (c07_domain_mix) can threshold "top 20% of
    EACH source" instead of comparing raw scores across differently
    calibrated sources. NOT the oracle's per-source window: a corpus
    with 5 sources would run on 5 reducers at 100 TB. Instead ONE
    range-partitioned global rank on (source, score, id) — source as
    the leading key makes per-source rank = global rank − the
    source's first rank, recovered by a broadcast join of a
    source-count aggregate (n_sources rows). percent_rank's
    (rank−1)/(n−1) is a single integer-operand IEEE division."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    ranked = global_rank(docs, ["source", "n_chars", "doc_id"], rank_name="_rnk")
    per_src = ranked.groupBy("source").agg(
        F.min("_rnk").alias("_lo"), F.count("*").alias("_n")
    )
    return ranked.join(F.broadcast(per_src), "source").select(
        "doc_id",
        "source",
        F.when(
            F.col("_n") > 1,
            (F.col("_rnk") - F.col("_lo")).cast("double") / (F.col("_n") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("qnorm"),
    )


# ---------------------------------------------------------------------------
# C6 continued — common-neighbor (Jaccard) node similarity
# ---------------------------------------------------------------------------


@register(
    "c06_jaccard_neighbors",
    oracle=f"""
    WITH pairs AS ({_lsh_oracle(max_bucket=10_000).strip()}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    wedge AS (SELECT e1.src AS id_a, e2.src AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS common
              FROM edges e1 JOIN edges e2
                ON e1.dst = e2.dst AND e1.src < e2.src
              GROUP BY e1.src, e2.src)
    SELECT w.id_a, w.id_b, w.common, da.d AS deg_a, db.d AS deg_b,
           CAST(w.common AS DOUBLE) / (da.d + db.d - w.common) AS jaccard
    FROM wedge w
    JOIN deg da ON da.src = w.id_a
    JOIN deg db ON db.src = w.id_b
    WHERE w.common >= 2
    """,
)
def c06_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6e: neighbor-set Jaccard over the near-dup graph — the link-
    prediction / cluster-densification signal ("these two docs share
    most of their near-dup neighbors but no direct edge yet"), the
    standard precursor to SemDeDup-style cluster merging. Wedge
    enumeration is an equi-join on the shared neighbor (bucket size =
    that node's degree, bounded upstream by LSH's ``max_bucket`` hub
    cap — same edge source as c06_pagerank) + one pair-keyed count;
    degrees join back broadcast-eligible. ``common >= 2`` keeps the
    output to genuinely clustered pairs and is an integer filter."""
    sigs = minhash_signature(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=8, portable=True
    )
    prs = lsh_candidate_pairs(sigs, "doc_id", k=8, band_size=2, max_bucket=10_000)
    # r14 (guide §2.4): symmetrize in ONE pass (the union spelling
    # evaluated the LSH pipeline once per branch) and checkpoint —
    # edges feeds the degree agg AND both wedge-join sides; without it
    # each consumer re-ran minhash+banding.
    edges = symmetrize_pairs(prs, "id_a", "id_b", "src", "dst").localCheckpoint(
        eager=False
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    wedge = (
        e1.join(
            e2,
            (F.col("e1.dst") == F.col("e2.dst")) & (F.col("e1.src") < F.col("e2.src")),
        )
        .groupBy(F.col("e1.src").alias("id_a"), F.col("e2.src").alias("id_b"))
        .agg(F.count("*").alias("common"))
        .where(F.col("common") >= 2)
    )
    da = deg.select(F.col("src").alias("id_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("src").alias("id_b"), F.col("d").alias("deg_b"))
    return (
        wedge.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            "deg_a",
            "deg_b",
            (
                F.col("common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# M9 — CDC changelog compaction (latest surviving state)
# ---------------------------------------------------------------------------


@register(
    "m9_cdc_apply",
    oracle="""
    WITH log AS (SELECT user_id, date_trunc('microseconds', ts) AS ts,
                   event_id, value,
                   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
                 FROM events),
    r AS (SELECT *,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn,
            CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_versions
          FROM log)
    SELECT user_id, ts, value, n_versions FROM r WHERE rn = 1 AND op <> 'D'
    """,
)
def m9_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9: replay a whole CDC changelog to latest surviving state per
    key (operators/sequences.py::cdc_latest_state) — the batch twin of
    M1's incremental upsert (operators/merge.py) and the semantics of
    every log-compacted store: last change by (ts, event_id) wins, a
    trailing delete tombstones the key. The events stream stands in as
    the changelog ('error' = tombstone). One row_number window on the
    key partition (single hash shuffle — embarrassingly parallel per
    key at 100 TB) + a filter; ``n_versions`` reports the compaction
    ratio M5's planner consumes."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    latest = cdc_latest_state(ev, "user_id", ["ts", "event_id"], "op")
    return latest.select("user_id", "ts", "value", F.col("n_versions").cast("long").alias("n_versions"))


# ---------------------------------------------------------------------------
# B66 — grid-bucketed spatial radius join (2-D twin of the binned
# range join)
# ---------------------------------------------------------------------------

#: DuckDB twin of operators/spatial.py::hash_coord — which rides
#: reconcile.row_fingerprint, so the chr(1) VALUE-FLAG prefix per
#: rendered column must match that function's r11 flag rendering.
_O_COORD = (
    "CAST(CAST(('0x' || substr(md5(chr(1) || '{p}' || chr(31) "
    "|| chr(1) || CAST({k} AS VARCHAR)), 1, 15)) AS BIGINT) "
    "% 1000000 AS DOUBLE) / 1000000.0"
)


@register(
    "b66_spatial_grid_join",
    oracle=f"""
    WITH c AS (SELECT c_custkey,
                      {_O_COORD.format(p="x", k="c_custkey")} AS cx,
                      {_O_COORD.format(p="y", k="c_custkey")} AS cy
               FROM customer),
    s AS (SELECT s_suppkey,
                 {_O_COORD.format(p="x", k="s_suppkey")} AS sx,
                 {_O_COORD.format(p="y", k="s_suppkey")} AS sy
          FROM supplier),
    p AS (SELECT c.c_custkey, s.s_suppkey,
                 (cx-sx)*(cx-sx) + (cy-sy)*(cy-sy) AS dist2
          FROM c CROSS JOIN s
          WHERE (cx-sx)*(cx-sx) + (cy-sy)*(cy-sy) <= 0.05*0.05),
    r AS (SELECT c_custkey, s_suppkey, dist2,
                 ROW_NUMBER() OVER (PARTITION BY c_custkey
                                    ORDER BY dist2, s_suppkey) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY c_custkey) AS BIGINT)
                   AS n_within
          FROM p)
    SELECT c_custkey, n_within, s_suppkey AS nearest_suppkey,
           dist2 AS nearest_d2
    FROM r WHERE rn = 1
    """,
)
def b66_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B66: spatial radius join via grid bucketing
    (operators/spatial.py) — "suppliers within r of each customer"
    WITHOUT the cross product: both sides land in r-sided grid cells,
    the smaller side replicates to its 3×3 neighborhood (row-local,
    constant 9×), and a hash equi-join on the cell key + the exact
    ``dx²+dy² <= r²`` predicate does the rest — no false negatives
    (a disc of radius r only reaches adjacent cells), and the
    candidate set is density-bounded instead of corpus². The oracle
    IS the cross product (fine at sf0.01) — identical results prove
    the grid rewrite exact. Coordinates are engine-portable hash
    positions (hash_coord; production swaps real geometry, the join
    is unchanged). Output: per-customer neighbor count + nearest
    supplier by (dist2, suppkey) — deterministic ties."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        hash_coord("x", "c_custkey").alias("cx"),
        hash_coord("y", "c_custkey").alias("cy"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        hash_coord("x", "s_suppkey").alias("sx"),
        hash_coord("y", "s_suppkey").alias("sy"),
    )
    pairs = grid_radius_join(cust, supp, ("cx", "cy"), ("sx", "sy"), 0.05)
    return (
        pairs.groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_within"),
            F.min(F.struct("dist2", "s_suppkey")).alias("_near"),
        )
        .select(
            "c_custkey",
            "n_within",
            F.col("_near.s_suppkey").alias("nearest_suppkey"),
            F.col("_near.dist2").alias("nearest_d2"),
        )
    )


# ---------------------------------------------------------------------------
# B22 continued — distribution drift audit (PSI-style, exact-arithmetic)
# ---------------------------------------------------------------------------


@register(
    "b22_drift_audit",
    oracle="""
    WITH bucketed AS (
      SELECT LEAST(9, FLOOR(o_totalprice / 50000)) AS bucket,
             o_orderdate < TIMESTAMP '1998-01-01' AS is_before
      FROM orders),
    cells AS (
      SELECT bucket,
             SUM(CASE WHEN is_before THEN 1 ELSE 0 END) AS n_before,
             SUM(CASE WHEN NOT is_before THEN 1 ELSE 0 END) AS n_after
      FROM bucketed GROUP BY bucket),
    tot AS (SELECT SUM(n_before) AS t_before, SUM(n_after) AS t_after
            FROM cells)
    SELECT CAST(bucket AS BIGINT)  AS bucket,
           CAST(n_before AS BIGINT) AS n_before,
           CAST(n_after AS BIGINT)  AS n_after,
           CAST(n_before AS DOUBLE) / t_before AS p_before,
           CAST(n_after AS DOUBLE) / t_after   AS p_after,
           ABS(CAST(n_before AS DOUBLE) / t_before
               - CAST(n_after AS DOUBLE) / t_after) AS drift,
           ABS(CAST(n_before AS DOUBLE) / t_before
               - CAST(n_after AS DOUBLE) / t_after) > 0.005 AS flagged
    FROM cells, tot
    """,
)
def b22_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B22d2: distribution DRIFT audit — compare the value distribution
    of a metric between two time slices (here order totalprice before
    vs after a cutoff date, 10 fixed-width bins) and flag bins whose
    population share moved more than a threshold. This is the
    training/serving-skew and data-freshness check every production
    table gets before a model retrain: PSI's binning and share-delta
    structure, with L1 share distance instead of the ln-ratio term so
    the audit is EXACT integer-then-one-division arithmetic (libm ln
    differs in the last ulp across engines; the bin layout and
    flagging logic — the actionable part — are identical, and a
    production variant adds the ln factor back on one engine).

    Scale shape: one corpus scan → bucket-keyed count (20 cells), then
    the slice totals re-attach via a broadcast 1-row cross join — the
    corpus shuffles ONCE on a 10-value key; everything after is
    cell-count-sized. No window over the full table, no second scan."""
    orders = t(spark, sf_dir, "orders")
    bucketed = orders.select(
        F.least(F.lit(9), F.floor(F.col("o_totalprice") / 50000)).alias(
            "bucket"
        ),
        (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")).alias(
            "is_before"
        ),
    )
    cells = bucketed.groupBy("bucket").agg(
        F.count_if(F.col("is_before")).alias("n_before"),
        F.count_if(~F.col("is_before")).alias("n_after"),
    ).localCheckpoint(eager=False)
    # ^ 20 cells; consumed by the totals agg AND the output — without
    #   the checkpoint each re-runs the corpus scan (r14 resume).
    tot = cells.agg(
        F.sum("n_before").alias("t_before"), F.sum("n_after").alias("t_after")
    )
    p_b = F.col("n_before").cast("double") / F.col("t_before")
    p_a = F.col("n_after").cast("double") / F.col("t_after")
    drift = F.abs(p_b - p_a)
    return cells.crossJoin(F.broadcast(tot)).select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("n_before").cast("bigint").alias("n_before"),
        F.col("n_after").cast("bigint").alias("n_after"),
        p_b.alias("p_before"),
        p_a.alias("p_after"),
        drift.alias("drift"),
        (drift > 0.005).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# C4 continued — k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------


@register(
    "c04_k_anonymity",
    oracle="""
    WITH quasi AS (
      SELECT doc_id, lang,
             CAST(FLOOR(n_chars / 64) AS BIGINT) AS size_bucket
      FROM documents),
    groups AS (
      SELECT lang, size_bucket, CAST(COUNT(*) AS BIGINT) AS k
      FROM quasi GROUP BY lang, size_bucket)
    SELECT q.doc_id, q.lang, q.size_bucket, g.k, g.k < 5 AS at_risk
    FROM quasi q JOIN groups g USING (lang, size_bucket)
    """,
)
def c04_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4u: k-ANONYMITY audit — for each document, the size of its
    quasi-identifier equivalence class (language x size bucket here;
    production adds source domain, date, geo) and a flag for classes
    smaller than k=5: rows whose metadata combination is rare enough
    to re-identify even after m13-style pseudonymization. Release
    gates on training corpora run exactly this before publishing
    metadata alongside text — pseudonymized ids don't help if the
    quasi-identifier tuple is unique.

    Scale shape: one groupBy on the quasi-id tuple (the class table is
    bounded by the quasi-id domain, tiny vs the corpus) and a
    BROADCAST join back to the row spine — the corpus itself shuffles
    once on the quasi-key; the per-row flag attach is map-side. The
    window-function alternative (COUNT(*) OVER the quasi partition)
    sorts the full corpus per partition for the same answer."""
    d = t(spark, sf_dir, "documents")
    quasi = d.select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 64).cast("bigint").alias("size_bucket"),
    )
    groups = quasi.groupBy("lang", "size_bucket").agg(
        F.count("*").alias("k")
    )
    return quasi.join(F.broadcast(groups), ["lang", "size_bucket"]).select(
        "doc_id", "lang", "size_bucket", "k", (F.col("k") < 5).alias("at_risk")
    )


# ---------------------------------------------------------------------------
# C7 continued — tokenizer fertility audit
# ---------------------------------------------------------------------------


@register(
    "c07_tokenizer_fertility",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]'))
                 AS n_bpe,
             len(string_split(text, ' ')) AS n_words,
             length(text) AS n_chars
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(CAST(n_bpe AS DOUBLE) / n_words
                         AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS fertility,
           CAST(SUM(CAST(CAST(n_chars AS DOUBLE) / n_bpe
                         AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS chars_per_token
    FROM per_doc GROUP BY lang
    """,
)
def c07_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7r2: tokenizer FERTILITY audit — per language, the mean ratio of
    BPE-style tokens to whitespace words (fertility) and of characters
    to tokens (compression): the standard multilingual-tokenizer
    health check. A language whose fertility runs 2-3x the corpus
    mean pays that factor in sequence length — and therefore compute
    and effective context — for the same content; token-budget
    mixtures (c07_token_budget_sample) silently underweight it unless
    this audit surfaces the skew first.

    Scale shape: both counts are row-local regex/split expressions
    (scan-speed, codegen'd), then ONE shuffle on the language key with
    decimal-exact means (plans/util.py trick). The per-doc ratio is a
    single IEEE division of two ints — bit-identical cross-engine."""
    d = t(spark, sf_dir, "documents")
    n_bpe = bpe_token_count(F.col("text"))
    n_words = F.size(tokens("text"))
    per_doc = d.select(
        "lang",
        (n_bpe.cast("double") / n_words).alias("fert"),
        (F.length("text").cast("double") / n_bpe).alias("cpt"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        davg("fert", "fertility"),
        davg("cpt", "chars_per_token"),
    )


# ---------------------------------------------------------------------------
# C2 continued — dedup precision/recall audit (LSH vs exact ground truth)
# ---------------------------------------------------------------------------


def _dedup_pr_oracle() -> str:
    from .tier_c import _O_SHINGLES, _lsh_oracle

    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents),
    sets AS (SELECT doc_id, list_distinct({_O_SHINGLES}) AS s FROM toks),
    ne AS (SELECT * FROM sets WHERE len(s) > 0),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            len(list_intersect(a.s, b.s)) AS inter,
            len(a.s) + len(b.s) AS ssum
          FROM ne a JOIN ne b ON a.doc_id < b.doc_id),
    truth AS (SELECT id_a, id_b FROM p
              WHERE inter * 2 >= (ssum - inter) * 1),
    cand AS ({_lsh_oracle(max_bucket=10_000)}),
    tp AS (SELECT COUNT(*) AS n FROM truth t
           JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b)
    SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT)  AS n_candidates,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST(tp.n AS BIGINT)                         AS tp,
           CAST(tp.n AS DOUBLE)
             / (SELECT COUNT(*) FROM cand)              AS precision,
           CAST(tp.n AS DOUBLE)
             / (SELECT COUNT(*) FROM truth)             AS recall
    FROM tp
    """


@register("c02_dedup_pr_audit", oracle=_dedup_pr_oracle())
def c02_dedup_pr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2n: dedup PRECISION/RECALL audit — the two dedup families audit
    each other: the exact prefix-filtered set-similarity join
    (operators/setsim.py, no false negatives BY CONSTRUCTION) is the
    ground truth at Jaccard >= 1/2, and the production capped-LSH
    banding is the system under test; one row reports candidate
    count, truth count, true positives, precision, and recall. This
    is the audit that SIZES the verify stage (precision < 1 is
    exactly the fraction of candidate pairs the C2e/C2f verifiers
    will reject — budget them accordingly) and would CATCH a banding
    regression as recall < 1 (a bucket cap set too low, a band-width
    change pushing the S-curve past the corpus's similarity mass).
    Estimator calibration (c02_minhash_estimate_error) explains WHY a
    pair was missed; this measures HOW MANY.

    Scale shape: both sides are the audited pipelines unchanged
    (bucketed banding; rarest-shingle prefix join) — the audit adds
    ONE pair-keyed aggregation over the union of both candidate-sized
    pair sets and one scalar agg (r14, guide §2.4/§1.2(1)): the
    original three-branch spelling (count(cand), count(truth),
    count(cand⋈truth)) evaluated BOTH audited pipelines TWICE — the
    exact set-sim join, the audit's dominant cost, ran once for its
    count and once for the TP join. Now each pipeline runs once: tag
    cand rows (1,0) and truth rows (0,1), unionAll, groupBy the pair
    key summing the tags, and one global agg reads
    n_candidates = Σc, n_truth = Σt, tp = Σ(c·t) — identical to the
    join spelling for any pair multisets (per-pair join multiplicity
    IS c·t), and both inputs are distinct-pair sets here. At 100 TB
    the ground-truth side runs on a SAMPLE (the exact join is
    no-false-negative at any size, but paying it corpus-wide is the
    cost banding exists to avoid) — the P/R estimate is consistent
    under uniform doc sampling (ratio estimator; pair inclusions
    correlate through shared endpoints, so it is not exactly unbiased
    at finite n)."""
    from fractions import Fraction as Fr

    d = t(spark, sf_dir, "documents")
    from ..operators.dedup import lsh_candidate_pairs, minhash_signature

    # pair_dedup stays "distinct" here (r15 A/B): at tau=1/2 the
    # prefix is ~half the rank set, so the positional filter's
    # per-row prefix arrays ship more bytes than the DISTINCT saves
    # (measured 1.21x worse; the tau=4/5 setsim_exact flips the other
    # way and uses "positional").
    truth = setsim_join(d, "doc_id", "text", tau=Fr(1, 2)).select(
        "id_a", "id_b"
    )
    sigs = minhash_signature(d, "text", "doc_id", k=8, portable=True)
    cand = lsh_candidate_pairs(
        sigs, "doc_id", k=8, band_size=2, max_bucket=10_000
    ).select("id_a", "id_b")
    tagged = cand.select(
        "id_a", "id_b", F.lit(1).alias("_c"), F.lit(0).alias("_t")
    ).unionAll(
        truth.select("id_a", "id_b", F.lit(0).alias("_c"), F.lit(1).alias("_t"))
    )
    per_pair = tagged.groupBy("id_a", "id_b").agg(
        F.sum("_c").alias("c"), F.sum("_t").alias("t")
    )
    # coalesce(…, 0): an empty pair universe must yield the count
    # spelling's zeros, not NULL sums.
    return per_pair.agg(
        F.coalesce(F.sum("c"), F.lit(0).cast("long")).alias("n_candidates"),
        F.coalesce(F.sum("t"), F.lit(0).cast("long")).alias("n_truth"),
        F.coalesce(F.sum(F.col("c") * F.col("t")), F.lit(0).cast("long")).alias("tp"),
    ).select(
        "n_candidates",
        "n_truth",
        "tp",
        (F.col("tp").cast("double") / F.col("n_candidates")).alias(
            "precision"
        ),
        (F.col("tp").cast("double") / F.col("n_truth")).alias("recall"),
    )


# ---------------------------------------------------------------------------
# C2 continued — the SAMPLED P/R audit (the audit's own 100 TB spelling)
# ---------------------------------------------------------------------------

#: Documents enter the audit sample iff their salted scrambled hash
#: lands in bucket 0 of 4 (a 25% doc sample → 1/16 of the pair
#: universe). Membership is a row-local expression on the ID, so both
#: the truth side and the candidate restriction apply it without joins.
_PR_SAMPLE_MOD = 4


def _dedup_pr_sampled_oracle() -> str:
    from .tier_c import _O_HASH, _O_SCRAMBLE

    def o_in_sample(idexpr: str) -> str:
        h = _O_SCRAMBLE.format(
            h=_O_HASH.format(s=f"'prsample:' || CAST({idexpr} AS VARCHAR)")
        )
        return f"({h}) % {_PR_SAMPLE_MOD} = 0"

    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents
                  WHERE {o_in_sample('doc_id')}),
    sets AS (SELECT doc_id, list_distinct({_O_SHINGLES}) AS s FROM toks),
    ne AS (SELECT * FROM sets WHERE len(s) > 0),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            len(list_intersect(a.s, b.s)) AS inter,
            len(a.s) + len(b.s) AS ssum
          FROM ne a JOIN ne b ON a.doc_id < b.doc_id),
    truth AS (SELECT id_a, id_b FROM p
              WHERE inter * 2 >= (ssum - inter) * 1),
    cand_all AS ({_lsh_oracle(max_bucket=10_000)}),
    cand AS (SELECT * FROM cand_all
             WHERE {o_in_sample('id_a')} AND {o_in_sample('id_b')}),
    tp AS (SELECT COUNT(*) AS n FROM truth t
           JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b)
    SELECT CAST((SELECT COUNT(*) FROM ne) AS BIGINT)    AS n_sample_docs,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT)  AS n_candidates,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST(tp.n AS BIGINT)                         AS tp,
           CAST(tp.n AS DOUBLE)
             / (SELECT COUNT(*) FROM cand)              AS precision,
           CAST(tp.n AS DOUBLE)
             / (SELECT COUNT(*) FROM truth)             AS recall
    FROM tp
    """


@register("c02_dedup_pr_audit_sampled", oracle=_dedup_pr_sampled_oracle())
def c02_dedup_pr_audit_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2n-scale: the SAMPLED flavor c02_dedup_pr_audit's docstring
    prescribes for 100 TB, implemented: the exact prefix-filtered
    ground truth — the audit's only super-linear stage (measured 21×
    wall for 10× data on the duplicate-factor-10 sf1 fixture,
    SCALE.md "Dedup family") — runs on a deterministic 25% document
    sample (salted-hash bucket, the c07_hash_split discipline), while the
    SYSTEM UNDER TEST — the production capped-LSH banding — still runs
    over the FULL corpus, unchanged: an audit must never alter what it
    audits. Candidate pairs are then restricted to the sampled pair
    universe by a row-local hash test on each endpoint (no join — the
    sample is defined by the ID, not by a membership table), and P/R
    are computed on that universe. Under uniform doc sampling,
    precision and recall are CONSISTENT estimators of the full-corpus
    figures — ratio estimators, not exactly unbiased at finite n:
    pair inclusions correlate through shared endpoints (doc d in the
    sample pulls in every pair touching d), and at small surviving
    universes the variance is large; the estimator's cost is p² of the exact join
    (1/16 here) while the banding cost is unchanged — exactly the
    asymmetry the sampling exists to exploit.

    The oracle runs the identical sampled construction (the hash is
    the portable fold + scramble, SQL-expressible), so the sampled
    audit is itself hash-checked — the 100 TB spelling is verified
    code, not a docstring promise."""
    from fractions import Fraction as Fr

    from ..operators.sampling import split_bucket

    d = t(spark, sf_dir, "documents")

    def in_sample(col: F.Column) -> F.Column:
        return split_bucket(col, "prsample", _PR_SAMPLE_MOD) == 0

    d_s = d.filter(in_sample(F.col("doc_id")))
    # pair_dedup stays "distinct" — see c02_dedup_pr_audit (r15 A/B).
    truth = setsim_join(d_s, "doc_id", "text", tau=Fr(1, 2)).select(
        "id_a", "id_b"
    )
    sigs = minhash_signature(d, "text", "doc_id", k=8, portable=True)
    cand = (
        lsh_candidate_pairs(sigs, "doc_id", k=8, band_size=2, max_bucket=10_000)
        .filter(in_sample(F.col("id_a")) & in_sample(F.col("id_b")))
        .select("id_a", "id_b")
    )
    # Mirror the oracle's `ne` count: sampled docs with ≥1 shingle
    # (len ≥ 3 tokens after the shared tokenize).
    from ..operators.text import tokens as _tokens

    n_docs = d_s.filter(F.size(_tokens("text")) >= 3).agg(
        F.count("*").alias("n_sample_docs")
    )
    # One-pass indicator agg (r14): same rewrite as c02_dedup_pr_audit
    # — the three-branch count/count/join spelling evaluated the exact
    # set-sim truth and the full-corpus banding TWICE each; tagging +
    # one pair-keyed agg evaluates each audited pipeline once and is
    # join-identical (per-pair join multiplicity = c·t).
    tagged = cand.select(
        "id_a", "id_b", F.lit(1).alias("_c"), F.lit(0).alias("_t")
    ).unionAll(
        truth.select("id_a", "id_b", F.lit(0).alias("_c"), F.lit(1).alias("_t"))
    )
    per_pair = tagged.groupBy("id_a", "id_b").agg(
        F.sum("_c").alias("c"), F.sum("_t").alias("t")
    )
    stats = per_pair.agg(
        F.coalesce(F.sum("c"), F.lit(0).cast("long")).alias("n_candidates"),
        F.coalesce(F.sum("t"), F.lit(0).cast("long")).alias("n_truth"),
        F.coalesce(F.sum(F.col("c") * F.col("t")), F.lit(0).cast("long")).alias("tp"),
    )
    return stats.crossJoin(F.broadcast(n_docs)).select(
        "n_sample_docs",
        "n_candidates",
        "n_truth",
        "tp",
        (F.col("tp").cast("double") / F.col("n_candidates")).alias(
            "precision"
        ),
        (F.col("tp").cast("double") / F.col("n_truth")).alias("recall"),
    )
