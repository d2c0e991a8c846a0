"""Skew-mitigation operators: salted aggregation (and the pattern for
salted joins).

Why this exists: a ``groupBy(key)`` over 100 TB with a power-law key
(one customer = 20% of rows) funnels the hot key's entire volume
through one reducer. Spark's partial aggregation already combines
map-side, which covers *aggregation* skew in most cases — but when the
per-key state is wide (many distinct aggregates, collect-style aggs)
or AQE skew handling is unavailable (it only splits *join* partitions,
not aggregation partitions), explicit salting is the standard fix:

stage 1: groupBy(key, salt)  — salt = hash(row) % n_salts spreads the
         hot key over n_salts reducers; partials are small
stage 2: groupBy(key)        — combine n_salts partial rows per key

Decomposable aggregates only (sum/count/min/max — avg as sum+count).
The rewrite is semantics-preserving, so its DuckDB oracle is the plain
single-stage aggregation — which is exactly what makes it safely
verifiable.

MEASURED (zipf probe, SCALE.md "Skew"): on a 7.5M-row orders
fixture with a 10%-mass hot custkey, the plain groupBy(sum/count)
reads 1.55 s vs the salted rewrite's 2.23 s — partial aggregation
really does absorb sum/count skew (the hot key's map-side partials
are one row per map partition regardless of its mass), confirming
the "most cases" claim above with numbers. Reach for salting only
when the per-key state defeats map-side combine (collect-style aggs,
many wide aggregates, exact distinct counts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_sum_count(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, Column],
    n_salts: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Two-stage salted sum/count aggregation.

    ``sums`` maps output alias → input column expression; each gets an
    exact SUM (cast upstream if decimal parity is needed) plus an
    overall ``n_rows`` count. ``salt_on`` picks the salt from a stable
    row attribute (deterministic re-runs); default is a hash of all
    non-key columns in ``sums``.
    """
    salt_src = F.col(salt_on) if salt_on else F.concat_ws("|", *sums.values())
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(salt_src), F.lit(n_salts)))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[F.sum(c).alias(f"_s_{a}") for a, c in sums.items()],
        F.count("*").alias("_n"),
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(f"_s_{a}").alias(a) for a in sums],
        F.sum("_n").alias("n_rows"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    salt_on: str | None = None,
    how: str = "inner",
    keep_salt: bool = False,
) -> DataFrame:
    """Salted equi-join: spread a skewed big-side key over ``n_salts``
    partitions; replicate the small side once per salt.

    The standard fix when one hot key (20% of a 100 TB fact table)
    funnels a sort-merge join through a single reducer and AQE's skew
    split isn't available/enough. Big side gets a deterministic salt:
    ``salt_on`` picks a stable row attribute; the default hashes ALL
    big-side columns, so even the hot key's rows spread across the
    salts (salting on the join key itself would give the hot key ONE
    salt — zero spread while still paying the small-side replication —
    which is why it is NOT the default). Small side explodes ×n_salts
    so every (key, salt) pair still matches. Replication factor n_salts on
    the small side is the price — use for big⋈small only, and prefer a
    plain broadcast when the small side fits (this exists for when it
    does NOT). Semantics-preserving: the oracle is the plain join.

    The big⋈small contract is MEASURED, not advisory (zipf probe,
    SCALE.md "Skew"): on a 30M-row fact with a 10%-mass hot key
    joined to a 7.5M-row "small" side (a 4:1 ratio — NOT small),
    n_salts=8 replication turned a 4.1 s naive sort-merge join into
    23.6 s (5.7× worse): the 60M replicated rows dwarf any straggler
    saved. The operator pays off only when small-side-rows × n_salts
    remains far below the big side AND the hot key's single-reducer
    work exceeds the task quantum by enough to dominate the stage.

    Only inner/left are valid: a right/full join would null-extend each
    UNMATCHED small-side row once per salt replica (n_salts duplicates).
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: "
            "right/full would duplicate unmatched replicated rows"
        )
    if salt_on:
        salt_srcs = [F.col(salt_on)]
    else:
        # Spark's hash()/xxhash64() reject MapType inputs at analysis
        # time (maps have no canonical element order), so the
        # all-columns default must skip them — a big side carrying a
        # map column would otherwise fail where an explicit salt_on
        # works. The rejection applies to maps at ANY nesting depth
        # (struct<m: map<...>>, array<map<...>>), so the check walks
        # the full type tree, not just the top level (round-4 advisor).
        from pyspark.sql.types import ArrayType, MapType, StructType

        def has_map(dt) -> bool:
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, ArrayType):
                return has_map(dt.elementType)
            if isinstance(dt, StructType):
                return any(has_map(f.dataType) for f in dt.fields)
            return False

        hashable = [
            f.name for f in big.schema.fields if not has_map(f.dataType)
        ]
        if not hashable:
            raise ValueError(
                "salted_join default salt needs at least one non-map "
                "column on the big side; pass salt_on= explicitly"
            )
        salt_srcs = [F.col(c) for c in hashable]
    big2 = big.withColumn("_salt", F.pmod(F.xxhash64(*salt_srcs), F.lit(n_salts)))
    small2 = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    joined = big2.join(small2, on=[on, "_salt"], how=how)
    return joined if keep_salt else joined.drop("_salt")


def bounded_partition_key(col: str | Column) -> Column:
    """Constant-zero, NON-FOLDABLE window partition key for BOUNDED
    frames — the house convention for windows whose input is small by
    construction (a LIMIT head, an enum-sized aggregate): single-
    partition is the INTENDED plan, and the key states that intent so
    ``WindowExec`` doesn't warn "No Partition Defined" in every bench
    and driver log. A literal ``lit(0)`` no longer works: Spark 4's
    optimizer strips foldable expressions from window partition specs,
    un-suppressing the warning (r11 catch — all five convention sites
    had silently regressed to warning). ``pmod(xxhash64(col), 1)`` is
    0 for EVERY row — xxhash64 is total (any type, nulls hash to the
    seed, never raises under ANSI) and always a long, so the mod-1 is
    exactly 0 — but depends on a real column, so it survives
    optimization. Pass any column of the frame. (The first spelling,
    ``pmod(coalesce(col, 0), 1)``, was only constant for INTEGRAL
    columns: a double's fractional part survives mod-1 and would have
    silently split the single-partition window — r11 review catch.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(1))


def key_skew_profile(df: DataFrame, key: str, top_k: int = 20) -> DataFrame:
    """The measurement half of skew handling: per-key row counts, each
    key's share of the table, and its rank — top ``top_k`` keys only.

    This is what decides whether a join/agg needs salting at all (rule
    of thumb: a key holding >1/shuffle-partitions of the rows will
    straggle its reducer). Cost is one partial+final count agg — the
    map-side combine collapses each partition to its distinct keys
    before the shuffle — plus a single-partition top-k over the key
    cardinality, not the row count. NULL keys profile as their own
    group (they hash to one reducer like any hot key, and a NULL-heavy
    column is the single most common real-world skew source).
    """
    counts = df.groupBy(key).agg(F.count("*").alias("n"))
    total = counts.select(F.sum("n").alias("_total"))
    from pyspark.sql import Window as W

    # Constant partition key: the frame is distinct-key-sized (post
    # map-side combine), single-partition by design — stated via the
    # non-foldable house key so WindowExec doesn't warn (see
    # bounded_partition_key: a literal no longer survives Spark 4's
    # optimizer).
    w = W.partitionBy(bounded_partition_key("n")).orderBy(
        F.col("n").desc(), F.col(key).asc_nulls_first()
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share", F.col("n").cast("double") / F.col("_total"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .drop("_total")
    )
