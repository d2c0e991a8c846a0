"""Exact set-similarity self-join via prefix filtering (PPJoin-style).

The LSH family (operators/dedup.py) trades exactness for a bounded
candidate set: banding can MISS true near-duplicates (false negatives
by design). This operator is the exact complement: every pair whose
token-set Jaccard similarity >= tau is returned, with NO false
negatives, and still without an all-pairs join.

The prefix-filtering principle (Chaudhuri et al., "A Primitive
Operator for Similarity Joins", ICDE 2006; Xiao et al., PPJoin,
WWW 2008 — both public literature): order every document's tokens by a
single global ordering (rarest token first). If two sets of sizes
|a|,|b| have Jaccard >= tau, they must share at least one token among
the first ``|s| - ceil(tau*|s|) + 1`` tokens of each (its "prefix").
Candidate generation therefore only joins documents on their PREFIX
tokens — which are, by construction of the ordering, each document's
RAREST tokens — so join-key buckets are small precisely because the
keys are infrequent. Frequent (boilerplate) tokens never become join
keys: the skew profile is the inverse of a naive token join.

Spark shape (all built-ins, no Python in the hot path):

1. shingle (word n-grams, the C2 near-dup notion; ``shingle_n=None``
   for unigram sets) + ``array_distinct`` — set semantics, no shuffle;
2. global token ordering: vocabulary count (one agg on the token
   column) + :func:`~..operators.rank.global_rank` over
   ``(freq, token)`` — the exchange-aware total-order rank, so the
   vocabulary is never funneled through a single-reducer window;
3. re-express each document as a sorted array of integer token RANKS
   (explode → vocab join → ``sort_array(collect_list)``): all
   downstream set algebra runs on int arrays (rank is a bijection,
   so intersections on ranks == intersections on tokens);
4. explode only the prefix ``slice(ranks, 1, prefix_len)`` → self
   equi-join on the rank with ``id_a < id_b`` and the size filter
   ``|b| >= tau*|a|`` (sizes ride along on the prefix rows; a pair
   failing the length bound can never reach tau) → ``distinct``; the
   ``"positional"`` dedup mode additionally prunes rows joined so deep
   in both prefixes that the remaining suffixes cannot reach the
   required overlap (the PPJoin positional bound — see
   :func:`setsim_join`);
5. verify candidates exactly: join both full rank arrays back,
   ``size(array_intersect)``, and an integer-only threshold test
   (``inter * q >= union * p`` for tau = p/q) — no float compare in
   the decision, so the boundary is bit-exact across engines.

Scale: the only corpus-sized shuffles are the vocab agg, the rank
array rebuild, and the prefix join; each is hash-partitioned on keys
whose cardinality grows with the data. Unlike LSH there is no
``max_bucket`` cap — capping would break the no-false-negative
contract; the rare-token ordering IS the skew control.

Reference basis: the reference exposes arbitrary SQL over its loaded
tables (/root/reference/README.md:62-78); a similarity self-join is
the canonical "query capability" a dedup-audit user would run, here
re-expressed without the O(n^2) cross product Postgres would execute.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rank import global_rank
from .text import tokens, word_shingles


def token_rank_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int | None = 3,
    rank_partitions: int | None = None,
) -> DataFrame:
    """(id, rks) — each document's distinct set elements as a sorted
    array of global frequency ranks (rarest element = smallest rank).

    ``shingle_n=None`` uses unigram tokens as the set elements;
    n >= 2 uses word n-gram shingles (the near-dup notion the C2
    family shares — unigram sets are far too coarse on natural text:
    two documents over the same vocabulary look identical)."""
    elems = tokens(F.col(text_col))
    if shingle_n is not None:
        elems = word_shingles(elems, shingle_n)
    # Set semantics via explode + DISTINCT on (id, element) — a hashed
    # shuffle — NOT per-row ``array_distinct``: distinct-ing a k-element
    # string array is O(k^2) string compares per document inside an
    # interpreted expression (measured 3x the whole stage at sf0.1).
    # Lazily checkpointed: vocabulary count and the per-doc rebuild
    # both consume it, and the shingle transform must not run twice.
    ex = (
        df.select(F.col(id_col), F.explode(elems).alias("_tok"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    vocab = ex.groupBy("_tok").agg(F.count("*").alias("_freq"))
    # Total order (freq, token): ties between equally-frequent tokens
    # break lexically, so the ordering — and every prefix — is
    # deterministic across runs and engines.
    ranked = global_rank(
        vocab, ["_freq", "_tok"], rank_name="_trank", num_partitions=rank_partitions
    )
    return (
        ex.join(ranked.select("_tok", "_trank"), "_tok")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_trank")).alias("rks"))
    )


def setsim_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tau: Fraction = Fraction(4, 5),
    shingle_n: int | None = 3,
    rank_partitions: int | None = None,
    pair_dedup: str = "distinct",
) -> DataFrame:
    """All pairs (id_a < id_b) with set Jaccard >= ``tau`` over the
    documents' distinct shingle (or token) sets — exact, no false
    negatives, no all-pairs join.

    ``tau`` is a :class:`~fractions.Fraction` so the threshold test is
    pure integer arithmetic (``inter * q >= union * p``); the returned
    ``jaccard`` double is a single IEEE division (bit-exact in any
    engine). Empty sets (docs shorter than ``shingle_n``) have no
    prefix rows and drop out — Jaccard is undefined on an empty set.
    Columns: id_a, id_b, inter, uni (bigint), jaccard.

    ``pair_dedup`` — how pairs sharing SEVERAL prefix tokens collapse
    to one candidate row (r15, verdict order #3, measured at sf1):

    * ``"distinct"`` (default): a candidate-sized DISTINCT exchange.
    * ``"positional"``: the VernicaJoin/PPJoin-style row-local filter —
      each prefix row also carries its document's prefix ARRAY, and a
      joined row survives only when its shared token is the SMALLEST
      token the two prefixes share (``element_at(array_intersect(pa,
      pb), 1)`` — both arrays ascending, so position 1 is the min).
      Unique by construction, so the DISTINCT exchange disappears —
      at the cost of shipping ~prefix_len extra ints per prefix row
      through the self-join. Same pair set either way (every shared
      prefix token yields a join row; exactly one survives).
    """
    p, q = tau.numerator, tau.denominator
    sets = token_rank_sets(df, id_col, text_col, shingle_n, rank_partitions)
    # Three consumers (prefix explode + both verification sides) read
    # the rank sets; without the lazy checkpoint each re-runs the
    # whole shingle->vocab->rank->rebuild lineage (measured 3x cost).
    sized = sets.select(
        F.col(id_col).alias("_id"),
        "rks",
        F.size("rks").alias("_sz"),
    ).localCheckpoint(eager=False)
    # prefix_len = s - ceil(tau*s) + 1, integer-exact: ceil(p*s/q).
    plen = (
        F.col("_sz") - F.floor((F.lit(p) * F.col("_sz") + q - 1) / q) + 1
    ).cast("int")
    if pair_dedup == "positional":
        prefix = sized.select(
            "_id",
            "_sz",
            F.slice("rks", 1, plen).alias("_pfx"),
        ).select(
            "_id", "_sz", "_pfx", F.posexplode("_pfx").alias("_pp", "_pt")
        )
    elif pair_dedup == "distinct":
        prefix = sized.select(
            "_id",
            "_sz",
            F.explode(F.slice("rks", 1, plen)).alias("_pt"),
        )
    else:
        raise ValueError(f"unknown pair_dedup: {pair_dedup!r}")
    a, b = prefix.alias("a"), prefix.alias("b")
    # Size bound: Jaccard >= tau forces tau*|a| <= |b| (and symmetric);
    # with id_a < id_b both orderings of sizes occur, so bound both.
    cond = (
        (F.col("a._pt") == F.col("b._pt"))
        & (F.col("a._id") < F.col("b._id"))
        & (F.col("a._sz") * p <= F.col("b._sz") * q)
        & (F.col("b._sz") * p <= F.col("a._sz") * q)
    )
    if pair_dedup == "positional":
        # Positional upper bound (PPJoin, Xiao et al. WWW'08): a pair
        # whose sets share ANY token shares their globally-SMALLEST
        # common token w; with sorted arrays, everything of a before
        # w's position is < w and (by w's minimality) absent from b,
        # so overlap <= 1 + min(|a|-i, |b|-j) for w at 1-based
        # positions (i, j). Jaccard >= p/q needs
        # overlap*(p+q) >= p*(|a|+|b|); joined rows that cannot reach
        # it are pruned BEFORE the first-shared filter and the verify
        # joins (guide §3.2 — reduce the join's output before the next
        # stage). The bound is only guaranteed for the
        # smallest-common-token row, but that is exactly the row this
        # mode keeps: pruning a non-first row never loses a pair, and
        # every kept candidate is exactly verified afterwards. With
        # _pp 0-based, 1 + min(|a|-i, |b|-j) = min(sa-_ppa, sb-_ppb).
        # Scoped to the "positional" mode ONLY (r15 resume A/B): here
        # the position rides the already-shipped prefix array and the
        # short-prefix regime (tau=4/5 → ~s/5) makes the prune cheap;
        # at tau=1/2 ("distinct" call sites) the extra int per
        # corpus-scale prefix row measured 1.2x WORSE — the same
        # bytes-vs-savings flip as the positional-dedup rejection.
        cond = cond & (
            F.least(
                F.col("a._sz") - F.col("a._pp"),
                F.col("b._sz") - F.col("b._pp"),
            )
            * (p + q)
            >= (F.col("a._sz") + F.col("b._sz")) * p
        )
        cand = (
            a.join(b, cond)
            .filter(
                F.col("a._pt")
                == F.element_at(
                    F.array_intersect(F.col("a._pfx"), F.col("b._pfx")), 1
                )
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        )
    else:
        cand = (
            a.join(b, cond)
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .distinct()
        )
    ra = sized.select(F.col("_id").alias("id_a"), F.col("rks").alias("_ra"), F.col("_sz").alias("_sa"))
    rb = sized.select(F.col("_id").alias("id_b"), F.col("rks").alias("_rb"), F.col("_sz").alias("_sb"))
    verified = (
        cand.join(ra, "id_a")
        .join(rb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_ra", "_rb")).cast("long").alias("inter"),
            (F.col("_sa") + F.col("_sb")).alias("_ssum"),
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("_ssum") - F.col("inter")).cast("long").alias("uni"),
        )
        .where(F.col("inter") * q >= F.col("uni") * p)
    )
    return verified.select(
        "id_a",
        "id_b",
        "inter",
        "uni",
        (F.col("inter").cast("double") / F.col("uni")).alias("jaccard"),
    )
