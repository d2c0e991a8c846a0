"""C6 — near-dup cluster resolution: connected components over the
LSH candidate-pair graph.

LSH banding (operators/dedup.py) emits candidate PAIRS; a dedup
pipeline needs CLUSTERS — if A~B and B~C matched in different bands,
all three are one duplicate group and exactly one representative
survives. That closure is connected components on the pair graph
(reference has no analogue: its `SELECT DISTINCT *` dedup is row-exact
only, `/root/reference/dags/weather-etl.py:156-158`; this is the
standard generalization every training-data pipeline runs after LSH).

Scale design
------------
Min-label propagation: every node starts labeled with its own id; each
round, a node adopts the minimum label among itself and its neighbors;
at fixpoint the label is the component's minimum node id — a canonical,
deterministic cluster id. Each round is ONE shuffle (edge⋈label +
groupBy-min on the destination), the dominant data volume is the edge
list (2|E| after symmetrization), and rounds needed = component
*diameter*, not size. LSH components are unions of bucket cliques:
diameters in practice are 2-5 even at web scale, so the loop converges
in a handful of rounds. `localCheckpoint` truncates the lineage every
round — without it the plan doubles per iteration and re-executes the
whole prefix; lazy (`eager=False`, r14) so the materialization rides
the round's convergence action instead of paying a separate blocking
job per round. On a real cluster with flaky executors swap in
reliable `checkpoint()`. The convergence probe is a
single-row count on the already-materialized round result (bounded
control-plane read). For adversarial chain-shaped graphs (diameter
O(n)) the published O(log n) fallback is alternating large-star /
small-star (Kiveris et al., *Connected Components in MapReduce and
Beyond*, SoCC'14) — implemented here as
:func:`connected_components_star`; not needed for LSH graphs, where
min-label's round count (= diameter) is smaller than star's log n.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize_pairs(
    df: DataFrame, src: str, dst: str, a: str = "a", b: str = "b"
) -> DataFrame:
    """Both orientations of every pair in ONE pass over the input:
    explode a two-struct array instead of
    ``df.select(src,dst).union(df.select(dst,src))`` — the union
    spelling evaluates the pair pipeline once PER BRANCH, which for a
    live LSH/kNN upstream doubles the dominant cost of every consumer
    (r14, guide §2.4: do fewer passes — the same multiset of rows
    falls out of a row-local generator). Output columns ``a``/``b``;
    row multiset identical to the union spelling (2 rows per input
    row, duplicates preserved)."""
    return df.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias(a), F.col(dst).alias(b)),
                F.struct(F.col(dst).alias(a), F.col(src).alias(b)),
            )
        ).alias("_p")
    ).select(F.col(f"_p.{a}").alias(a), F.col(f"_p.{b}").alias(b))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of the undirected pair graph with the minimum
    node id reachable from it. Returns (node, label).

    Raises if ``max_iter`` iterations (each TWO propagation hops, one
    convergence barrier — see the loop comment) don't reach the
    fixpoint — silent truncation would emit WRONG cluster ids (two
    half-merged clusters), and at LSH diameters exhausting the default
    budget means the input graph is not the shape this operator is
    documented for.
    """
    sym = (
        symmetrize_pairs(edges, src, dst, "a", "b")
        .distinct()
        # Materialize the edge list ONCE before looping: every round
        # joins against `sym`, and without a checkpoint each round
        # re-executes sym's entire upstream lineage (for LSH input
        # that's the whole shingle→minhash→banding pipeline — measured
        # 3-4x the total runtime at sf0.1). Lazy (eager=False): round 1
        # materializes it inside its own job instead of paying a
        # separate up-front job — on a scheduling-bound host (or a busy
        # cluster) every job is a full barrier (r14 measurement:
        # ~0.3-0.5 s/job floor here). On a cluster, persist to disk or
        # reliable-checkpoint instead if 2|E| exceeds memory.
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # Round shape (r14 optimization, guide §2.4 + §1.2(1)): min over
    # {self} ∪ neighbors as ONE groupBy over (edge⋈label) ∪ label rows
    # — the previous spelling (neighbor groupBy-min, then LEFT JOIN
    # back onto labels + least()) computed the same function with one
    # extra join stage per hop. Each ITERATION runs TWO propagation
    # hops before its single convergence action: label propagation is
    # barrier-bound, not data-bound (every driver action is a full
    # cluster barrier — and on the bench host a ~0.3-0.5 s scheduling
    # floor), so checking convergence every other hop halves the
    # barrier count for the price of at most one redundant pass over
    # the edge list — the same price the old per-round convergence
    # check already paid on its final round. Convergence probe (r15,
    # verdict order #6): the second hop carries each node's PRE-hop
    # label through the aggregation (`_old` rides the self row — NULL
    # on neighbor rows, min ignores NULLs, and labels is node-unique
    # so exactly one self row contributes), so the probe can sum the
    # row-local flag `label < _old` and `== 0` detects "this hop was
    # the identity" — which IS the fixpoint (the hop operator is
    # deterministic: a no-change hop proves every later hop is also
    # no-change). Versus the r14 cross-iteration SUM(label) compare
    # this detects convergence one full iteration (= one redundant
    # 2-hop edge-list join+shuffle pass, the dominant volume at
    # 100 TB) earlier whenever the diameter is ODD — measured on the
    # real sf0.1 LSH graph: diameter 5, 3 iterations instead of 4
    # (~19 jobs vs ~25) — and never later, with the same
    # one-probe-job-per-iteration count. Cost: one extra label-width
    # column through hop 2's shuffle (in-session loop totals measured
    # flat-to-better). Lazy checkpoints: both hops materialize inside
    # the probe action's job (per-hop lineage still truncated at plan
    # time).
    label_type = dict(labels.dtypes)["label"]
    for _ in range(max_iter):
        # Hop 1: plain min-propagation.
        cand = (
            sym.join(labels, sym["a"] == labels["node"])
            .select(F.col("b").alias("node"), "label")
            .unionAll(labels)
        )
        labels = (
            cand.groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        # Hop 2: same propagation, pre-hop label riding the self row.
        cand = (
            sym.join(labels, sym["a"] == labels["node"])
            .select(
                F.col("b").alias("node"),
                "label",
                F.lit(None).cast(label_type).alias("_old"),
            )
            .unionAll(
                labels.select("node", "label", F.col("label").alias("_old"))
            )
        )
        stepped = (
            cand.groupBy("node")
            .agg(F.min("label").alias("label"), F.min("_old").alias("_old"))
            .localCheckpoint(eager=False)
        )
        labels = stepped.select("node", "label")
        n_changed = stepped.agg(
            F.sum((F.col("label") < F.col("_old")).cast("int")).alias("n")
        ).collect()[0]["n"]
        if not n_changed:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "component diameter exceeds the LSH-graph envelope this "
        "operator is sized for (see module docstring for the O(log n) "
        "alternating-star fallback)"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., *Connected Components in MapReduce and Beyond*,
    SoCC'14). Returns (node, label) with label = the component's
    minimum node id — identical output contract to
    :func:`connected_components`.

    Use this flavor when the graph's diameter is NOT known to be small:
    the round count is O(log n) on ANY graph shape (each round at
    least halves the distance to the star fixpoint), where min-label
    propagation needs diameter rounds — a 10⁶-link chain finishes in
    ~20 star rounds vs 10⁶ label rounds. Per round: two groupBy-min +
    join passes over the edge list, each one shuffle keyed on node id;
    high-degree hubs are exactly the AQE skew-split case. Lineage is
    truncated per round (localCheckpoint — swap for reliable
    checkpoint() on a cluster with preemptible executors).

    Fixpoint detection: an edge-set signature (exact count +
    sum(xxhash64)) each round, CONFIRMED by one ``left_anti`` join
    before exiting. Equal signatures prove both edge sets have the same
    size, and both are DISTINCT, so an empty ``e ∖ stepped`` proves
    them equal. The hash alone has a ~2⁻⁶⁴ collision risk; the confirm
    makes termination exact while paying its shuffle only on the
    candidate final round.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # Lazy: round 1's checksum action materializes it — no
        # separate up-front job (see connected_components).
        .localCheckpoint(eager=False)
    )
    prev_sig: tuple | None = None
    for _ in range(max_iter):
        # Large-star: every node u links its strictly-larger neighbors
        # to m = min({u} ∪ N(u)).
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Small-star: orient u = max endpoint; link every smaller
        # neighbor (and u itself) to m = min(N(u)).
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        stepped = (
            oriented.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # Lazy: the checksum agg below is the materializing action
            # (1 job/round instead of checkpoint-job + checksum-job).
            .localCheckpoint(eager=False)
        )
        # decimal(38,0) accumulation: exact, order-independent, and
        # immune to the ANSI long-overflow a plain SUM of 64-bit hashes
        # hits almost immediately.
        row = stepped.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        # Exact confirm in ONE action and ONE anti-join (r15 resume):
        # sig equality already proves |e| == |stepped| exactly (count
        # rides in the sig), and both are DISTINCT sets, so equal size
        # + (e ∖ stepped = ∅) ⟺ e = stepped — the two exceptAll
        # passes (each a full shuffle of both sides) collapse to one
        # left-anti join, paid only on the candidate final round.
        if (
            sig == prev_sig
            and e.join(stepped, ["u", "v"], "left_anti").isEmpty()
        ):
            e = stepped
            break
        prev_sig, e = sig, stepped
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — O(log n) bound exceeded; the input edge list is "
            "bigger than this max_iter is sized for"
        )
    # Fixpoint edges are stars (v, m) centered at the component min.
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("label"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("label")))
        .distinct()
    )


def dedup_clusters(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "minlabel",
) -> DataFrame:
    """Resolve candidate pairs into duplicate clusters.

    Returns (doc_id, cluster_id, cluster_size): cluster_id is the
    minimum doc id of the component (the canonical survivor — keep the
    row where doc_id == cluster_id, drop the rest), cluster_size its
    member count. Only nodes that appear in some pair are returned;
    unpaired documents are their own implicit singleton clusters and
    need no shuffle at all.

    ``algorithm``: ``"minlabel"`` (default — diameter-bounded rounds,
    right for LSH graphs) or ``"star"`` (O(log n) rounds on any graph
    shape, see :func:`connected_components_star`).
    """
    if algorithm == "minlabel":
        labels = connected_components(edges, src, dst, max_iter)
    elif algorithm == "star":
        labels = connected_components_star(edges, src, dst, max_iter)
    else:
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def kcore_peel(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    k: int = 2,
    rounds: int = 3,
) -> DataFrame:
    """C6f — bounded k-core peeling over the undirected pair graph:
    iteratively remove nodes of degree < ``k`` (with their incident
    edges) for ``rounds`` rounds; return surviving (node, degree).

    The density signal the dedup/link stack needs beyond components
    (how big) and triangles (how cliquish): a node's core number
    separates hub-of-boilerplate documents (deep core — aggressive
    dedup is safe) from chains of borderline matches (peeled early —
    dedup there is lossy). Each round is two semi-joins against the
    surviving-node set + one degree agg — everything keyed on node id,
    ONE shuffle family, no pair expansion. Bounded rounds keep the
    output deterministic and SQL-expressible (the oracle unrolls the
    same rounds); full-core fixpoint needs diameter-many rounds — run
    with larger ``rounds`` and the same loud-failure discipline as
    :func:`connected_components` when exactness matters. The edge list
    is materialized once at loop entry (lineage lesson — see module
    docstring); per-round results checkpoint so round r+1 does not
    replay round r's joins.
    """
    sym = (
        symmetrize_pairs(edges, src, dst, "u", "v")
        .distinct()
        # Lazy checkpoints throughout (r14): each round's edge set is
        # consumed twice in round r+1 (degree agg + both semi-joins),
        # so it must be materialized exactly once — which lazy local
        # caching already guarantees on first compute. Eager spelling
        # paid one BLOCKING job per round (a full barrier each time;
        # ~0.3-0.5 s/job floor on a scheduling-bound host) before any
        # downstream work could start; lazy folds all rounds into the
        # single consuming action's DAG with the same per-round
        # materialization and lineage truncation.
        .localCheckpoint(eager=False)
    )
    cur = sym
    for _ in range(rounds):
        deg = cur.groupBy("u").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        cur = (
            cur.join(keep, "u", "semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "semi")
            .localCheckpoint(eager=False)
        )
    return cur.groupBy("u").agg(F.count("*").alias("degree")).select(
        F.col("u").alias("node"), "degree"
    )


def incremental_clusters(
    base_clusters: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """INCREMENTAL connected-components maintenance: fold a batch of
    NEW edges (delta-vs-corpus and delta-self near-dup pairs) into an
    existing cluster assignment WITHOUT re-running CC on the full
    graph — per-ingest cost scales with the delta, which is what makes
    continuous dedup affordable at 100 TB (the full-graph closure is
    a one-time backfill, never a per-batch job).

    The algebra that makes it exact: contract every new edge's
    endpoints through the existing label map (node → its cluster's
    min-id root; unlabeled nodes are their own label), drop edges that
    became self-loops (both ends already in one cluster), and run CC
    on the CONTRACTED mini graph — whose nodes are cluster roots and
    delta ids, i.e. delta-proportional, not corpus-proportional. Min
    composes through contraction (a base root IS its component's min,
    so the mini-CC min over roots is the global min of the merged
    component), so relabeling base members through the mini result
    reproduces the full recompute bit-for-bit — the invariant the
    oracle checks.

    Returns the same (doc_id, cluster_id, cluster_size) contract as
    :func:`dedup_clusters`, over every node that appears in any edge
    (old or new). Cluster-size recount is one key-shuffle over the
    node universe; at scale, restrict it to AFFECTED roots (semi-join
    on the mini result) and patch the stored sizes instead.
    """
    # Both inputs are multiply consumed (lab: two edge-contraction
    # joins + the node universe; new_edges: contraction + both touched
    # branches) and both arrive as live pipelines in the registered
    # queries (base CC's post-checkpoint size join; the banded delta
    # joins) — lazy checkpoints compute each ONCE (r14, guide §2.4).
    # In production both are stored tables and these are free reads.
    lab = base_clusters.select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("lab")
    ).localCheckpoint(eager=False)
    ne = new_edges.select(
        F.col(src).alias(src), F.col(dst).alias(dst)
    ).localCheckpoint(eager=False)
    e = (
        ne.select(F.col(src).alias("ea"), F.col(dst).alias("eb"))
        .join(
            lab.select(F.col("node").alias("ea"), F.col("lab").alias("la")),
            "ea",
            "left",
        )
        .join(
            lab.select(F.col("node").alias("eb"), F.col("lab").alias("lb")),
            "eb",
            "left",
        )
        .select(
            F.coalesce("la", "ea").alias("id_a"),
            F.coalesce("lb", "eb").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    # Mini-graph closure via connected_components directly: only the
    # node→root map is consumed, so dedup_clusters' size agg + join
    # (one shuffle + one join over the mini labels, then thrown away)
    # is skipped (r14 resume, guide §1.2(1) — don't compute things you
    # throw away). The labels frame is the loop's own checkpoint.
    mini = connected_components(e, src="id_a", dst="id_b")
    roots = mini.select(
        F.col("node").alias("lab2"), F.col("label").alias("root")
    )
    touched = (
        ne.select(F.col(src).alias("node"))
        .unionAll(ne.select(F.col(dst).alias("node")))
        .distinct()
    )
    universe = lab.select("node").unionAll(touched).distinct()
    labeled = universe.join(lab, "node", "left").select(
        "node", F.coalesce("lab", "node").alias("lab2")
    )
    final = labeled.join(roots, "lab2", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("root", "lab2").alias("cluster_id"),
    ).localCheckpoint(eager=False)  # consumed twice: size agg + join
    sizes = final.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return final.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


def dedup_clusters_compact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
    max_bucket: int | None = 10_000,
    with_sizes: bool = True,
) -> DataFrame:
    """Corpus-scale spelling of the LSH→CC cluster pass: EXACT
    duplicates collapse FIRST, connected components run over
    distinct-text REPRESENTATIVES only, and per-member labels come
    back through one linear join — the r13 ``c06_dedup_corpus``
    reorder (d48e4af) applied to the cluster-materializing family
    (r14 verdict order #2).

    Why the classic pipeline (band everything, CC on all members)
    cannot survive a mega-cluster: an exact-duplicate group of n docs
    enters banding as n identical signatures, so every band emits the
    same C(n,2) clique — at 100 TB a boilerplate page at 10% crawl
    mass makes the edge list quadratic in corpus size. Here the group
    enters as ONE row (a linear sha2 groupBy), so edge count is
    bounded by distinct-text bucket sizes and the member expansion is
    one equi-join — per-member output rows remain (that IS the
    contract), but the cost is linear.

    Output-identical to ``dedup_clusters`` over the banding of the
    full corpus, by the composition argument pinned in
    tests/test_curation.py: identical texts share MinHash signatures,
    a rep (its group's min id) inherits exactly its group's band
    buckets, and the component min over reps IS the min over all
    members. Two deliberate contract differences, both on regimes
    where the classic spelling is wrong or undefined: (1) an exact
    group larger than ``max_bucket`` still collapses and clusters here
    (banding-first silently drops its oversized bucket and the clique
    survives dedup); (2) an exact group of <3-token texts clusters
    here (banding-first never pairs short texts — empty shingle set).

    Returns the :func:`dedup_clusters` contract (doc_id, cluster_id,
    cluster_size) where cluster_size counts MEMBERS; singleton docs
    (unique text, no near-dup edge) are absent, as in the classic
    spelling. Sizes are computed REP-side (sum of exact-group counts
    per component — a component-count-sized agg) instead of a window
    over the member rows, so the mega-cluster never feeds a skewed
    window partition. ``with_sizes=False`` drops the size agg+join for
    consumers that need LABELS only (c07_group_split) — one fewer
    shuffle at low dup rates, where reps ≈ corpus and every pass
    shows.
    """
    from .dedup import lsh_candidate_pairs, minhash_signature

    th = F.sha2(F.col(text_col).cast("string"), 256)
    groups = docs.groupBy(th.alias("_th")).agg(
        F.min(id_col).alias("rep_id"), F.count("*").alias("n_members")
    )
    members = docs.select(th.alias("_th"), F.col(id_col)).join(
        groups, "_th"
    ).select(id_col, "rep_id")
    reps = docs.join(
        groups.select(F.col("rep_id").alias(id_col)), id_col
    ).select(id_col, text_col)
    sigs = minhash_signature(reps, text_col, id_col, k=k, portable=True)
    # Star expansion (r15): the rep pairs feed ONLY the CC closure and
    # the solo anti-join's node set — both preserved by the per-bucket
    # hub edges (see lsh_candidate_pairs), at O(B) rows per bucket
    # instead of the O(B^2) triangle.
    pairs = lsh_candidate_pairs(
        sigs, id_col, k=k, band_size=band_size, max_bucket=max_bucket,
        expansion="star",
    )
    rep_cc = connected_components(pairs).select(
        F.col("node").alias("rep_id"), F.col("label").alias("cluster_id")
    )
    # Exact groups of >=2 whose rep has no near-dup edge are their own
    # cluster (the classic spelling reaches the same rows via the
    # same-text band clique).
    solo = (
        groups.filter(F.col("n_members") >= 2)
        .join(rep_cc.select("rep_id"), "rep_id", "left_anti")
        .select("rep_id", F.col("rep_id").alias("cluster_id"))
    )
    rep_label = rep_cc.unionByName(solo)
    if not with_sizes:
        return members.join(rep_label, "rep_id").select(id_col, "cluster_id")
    sizes = (
        rep_label.join(groups.select("rep_id", "n_members"), "rep_id")
        .groupBy("cluster_id")
        .agg(F.sum("n_members").cast("long").alias("cluster_size"))
    )
    return (
        members.join(rep_label, "rep_id")
        .join(sizes, "cluster_id")
        .select(id_col, "cluster_id", "cluster_size")
    )
