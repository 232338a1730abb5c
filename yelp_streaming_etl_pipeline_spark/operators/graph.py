"""Distributed PageRank over an edge DataFrame.

The reference pipeline has no graph operators; this extends the
engine with the canonical iterative-graph shape a training-data
pipeline needs (influence weighting of linked documents, seed-node
expansion for crawl frontier scoring). Each iteration is (1) one
equi-join of the rank table onto the edge list keyed by source and
(2) one hash aggregate keyed by destination. No driver-side collect
anywhere.

EXACTNESS ACROSS ENGINES — float PageRank is order-dependent
(partial sums in partition-scheduling order), so ranks are fixed-
point BIGINTs at ``SCALE = 10^12``:

- ``r0 = SCALE div N`` for every node in the edge list;
- per-edge contribution ``(r_u * w_e) div W_u`` where ``W_u`` is the
  source's total outgoing weight (both non-negative, so Spark's
  truncating ``div`` and DuckDB's flooring ``//`` agree); the
  unweighted case is ``w_e = 1, W_u = deg_u`` — identical terms to
  the classic ``r_u div deg_u``;
- update ``r'_v = tele + (85 * incoming_v) div 100`` with
  ``tele = (15 * (SCALE div N)) div 100`` — the damping factor 0.85
  expressed as an exact integer ratio.

Integer sums are associative/commutative, so every engine and every
partitioning produces the identical BIGINT ranks. Truncation drops a
sub-unit of mass per node per iteration (≤ N * iters * 1e-12 of
total) — declared semantics, shared with the oracle twins
(`oracles.sql_pagerank_bipartite`, `sql_pagerank_weighted_bipartite`).
Overflow bound: ``max_rank * max_weight`` must stay under 2^63; at
``SCALE = 10^12`` that allows edge weights up to ~9e6.

DANGLING NODES: the caller symmetrizes (or otherwise guarantees
out-degree ≥ 1 for every node appearing as a source); nodes outside
the edge list are excluded — ranks are over the active subgraph.

PERSIST HYGIENE & PLAN SHAPE: the edge list, degree table, and the
iteration-invariant node table (node, deg, tele, r0) are persisted
for the loop's lifetime and released before returning. The evolving
rank table is NOT persisted and needs no per-iteration
materialization job: the carry-forward join reads the persisted
INVARIANT table (tele/deg never change), so each iteration
references the previous ranks exactly once and the unrolled plan
grows linearly with ``iters`` — one final job evaluates every
iteration exactly once. For long runs, every ``PR_CKPT_EVERY``
iterations one ``localCheckpoint(eager=True)`` materializes the
segment and truncates lineage in a single job (plan size and
recompute depth stay bounded), after which the previous checkpoint
is released — storage is ≤ 1 checkpoint + 3 loop-lifetime caches
regardless of ``iters``. The returned frame is
localCheckpoint'ed (executor-local blocks — on a multi-node cluster
point ``setCheckpointDir`` at reliable storage and swap in
``checkpoint()`` for executor-loss tolerance) so it survives with no
lineage into the released caches.

100 TB shape: |E| dominates |V|. Each iteration shuffles the
|V|-sized rank table onto edges (hash join on ``src``) and reduces
by ``dst`` — the edge list itself is scanned, never re-shuffled, if
persisted pre-partitioned by ``src`` (do that at production scale;
AQE picks the strategy here). Iteration count is a fixed small
constant, not data-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PR_SCALE = 10**12
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100
PR_ITERS = 3
PR_CKPT_EVERY = 4  # iterations per materialize+lineage-truncate job
LPA_CKPT_EVERY = 4  # LPA rounds per materialize+lineage-truncate job


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    seeds: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-point PageRank over directed ``(src, dst[, w])`` edges.

    Every node must appear as a source (symmetrize undirected graphs
    before calling). Returns ``(node, rank_fp)`` with ``rank_fp`` the
    exact BIGINT fixed-point rank at ``PR_SCALE``.

    ``seeds`` (a ``node`` column) switches to PERSONALIZED PageRank:
    initial mass and teleport go only to seed nodes present in the
    graph (the crawl-frontier / importance-from-seeds form); the seed
    set must intersect the graph's nodes. ``seeds=None`` is the
    global uniform case — identical arithmetic with every node a
    seed.

    ``weight_col`` names a positive integer edge-weight column: a
    source's rank is split proportionally, contribution
    ``(r * w) div W_src``. ``None`` (unweighted) is the ``w = 1``
    case and produces the exact integers of classic
    ``r div deg``-style PageRank.
    """
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    # Persist the edge list PRE-PARTITIONED by src: the cached
    # relation's hash partitioning feeds every iteration's
    # contribution join (and the degree aggregate) without
    # re-exchanging the |E|-sized side — only the |V|-sized rank
    # table moves per iteration.
    edges = (
        edges.select("src", "dst", w.alias("w"))
        .repartition("src")
        .persist()
    )
    deg = edges.groupBy("src").agg(F.sum("w").alias("deg")).persist()
    if seeds is None:
        base = deg.withColumn("is_seed", F.lit(True))
    else:
        seed_flag = seeds.select(
            F.col("node").alias("src"), F.lit(True).alias("is_seed")
        ).distinct()
        base = deg.join(seed_flag, "src", "left").withColumn(
            "is_seed", F.coalesce(F.col("is_seed"), F.lit(False))
        )
    n_df = base.agg(
        F.sum(F.col("is_seed").cast("long")).alias("n_base")
    )
    share = F.expr(f"{PR_SCALE} div n_base")
    tele_share = F.expr(
        f"({PR_DAMP_DEN - PR_DAMP_NUM} * ({PR_SCALE} div n_base))"
        f" div {PR_DAMP_DEN}"
    )
    zero = F.lit(0).cast("long")
    # Iteration-INVARIANT node table (node, deg, tele, r0): persisted
    # once, it is what every iteration's carry-forward join reads —
    # so the evolving rank table is referenced exactly ONCE per
    # iteration (in the contribution join) and the unrolled plan
    # grows LINEARLY with `iters`, not exponentially. No
    # per-iteration materialization job is needed at all.
    inv = (
        base.crossJoin(F.broadcast(n_df))
        .select(
            F.col("src").alias("node"),
            "deg",
            F.when(F.col("is_seed"), share).otherwise(zero).alias("r0"),
            F.when(F.col("is_seed"), tele_share)
            .otherwise(zero)
            .alias("tele"),
        )
        .persist()
    )
    ranks = inv.select("node", "deg", F.col("r0").alias("r"))
    prev_ckpt: DataFrame | None = None
    for i in range(1, iters + 1):
        incoming = (
            edges.join(
                ranks.select(
                    F.col("node").alias("src"), F.col("r"), F.col("deg")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("(r * w) div deg")).alias("inc"))
        )
        ranks = (
            inv.join(incoming, "node", "left")
            .select(
                "node",
                "deg",
                (
                    F.col("tele")
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(inc, 0))"
                        f" div {PR_DAMP_DEN}"
                    )
                ).alias("r"),
            )
        )
        if i % PR_CKPT_EVERY == 0 and i < iters:
            # Long runs: materialize AND truncate lineage together in
            # one job per segment, so the plan tree stays bounded.
            # Only the latest checkpoint's blocks are retained.
            ranks = ranks.localCheckpoint(eager=True)
            if prev_ckpt is not None:
                prev_ckpt.unpersist()
            prev_ckpt = ranks
    out = ranks.select("node", F.col("r").alias("rank_fp")).localCheckpoint()
    if prev_ckpt is not None:
        prev_ckpt.unpersist()
    inv.unpersist()
    deg.unpersist()
    edges.unpersist()
    return out


def bipartite_pairs(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Undirected customer–supplier interaction pair list: distinct
    (o_custkey, l_suppkey) via the orderkey join, node-encoded
    ``customer = 2k`` / ``supplier = 2k+1``. One (a, b) row per pair
    — symmetrization is the caller's step (bipartite_edges for batch,
    per-epoch inside pagerank_maintain_stream)."""
    return (
        orders.join(
            lineitem,
            orders["o_orderkey"] == lineitem["l_orderkey"],
        )
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )


def _symmetrize(pairs: DataFrame) -> DataFrame:
    # the union references `pairs` twice and the two branches hash
    # by different keys downstream, so exchange reuse cannot dedup
    # them — without the (lazy) localCheckpoint the orderkey join +
    # distinct executes twice in the consumer's first job (round-11,
    # guide §2.4)
    pairs = pairs.localCheckpoint(eager=False)
    return pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def bipartite_edges(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Customer–supplier interaction graph from the fact tables:
    distinct (o_custkey, l_suppkey) pairs via the orderkey join,
    node-encoded ``customer = 2k`` / ``supplier = 2k+1`` and
    symmetrized, so the random walk alternates sides and every node
    has out-degree ≥ 1."""
    return _symmetrize(bipartite_pairs(orders, lineitem))


def bipartite_weighted_edges(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Weighted customer–supplier graph: (o_custkey, l_suppkey) pair
    MULTIPLICITY becomes the integer edge weight — interaction
    strength, not mere existence. Same aggregate cost as the
    ``distinct`` in :func:`bipartite_edges` (one shuffle on the pair
    key) but the signal survives."""
    pairs = (
        orders.join(
            lineitem,
            orders["o_orderkey"] == lineitem["l_orderkey"],
        )
        .groupBy(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .agg(F.count("*").alias("w"))
        # referenced twice by the symmetrizing union (different
        # downstream keys — no exchange reuse); lazy checkpoint so
        # the orderkey join + pair aggregate executes once (round-11)
        .localCheckpoint(eager=False)
    )
    return pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionAll(
        pairs.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "w"
        )
    )


def _decode_nodes(pr: DataFrame) -> DataFrame:
    return pr.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("node_key"),
        "rank_fp",
    )


def pagerank_bipartite(
    orders: DataFrame, lineitem: DataFrame, iters: int = PR_ITERS
) -> DataFrame:
    """End-to-end: edge build + PageRank + node decode. Returns
    ``(node_type, node_key, rank_fp)`` for every active node."""
    return _decode_nodes(
        pagerank(bipartite_edges(orders, lineitem), iters=iters)
    )


def pagerank_weighted_bipartite(
    orders: DataFrame, lineitem: DataFrame, iters: int = PR_ITERS
) -> DataFrame:
    """Weighted PageRank over the interaction graph: rank mass splits
    proportionally to pair multiplicity — ``(r * w) div W_src`` per
    edge, same fixed-point discipline as the unweighted operator."""
    return _decode_nodes(
        pagerank(
            bipartite_weighted_edges(orders, lineitem),
            iters=iters,
            weight_col="w",
        )
    )


def personalized_pagerank_bipartite(
    orders: DataFrame,
    customer: DataFrame,
    lineitem: DataFrame,
    seed_mod: int = 50,
    iters: int = PR_ITERS,
) -> DataFrame:
    """Personalized PageRank seeded at every ``seed_mod``-th customer:
    rank mass flows outward from the seed set through the shared-
    supplier structure — the importance-from-seeds form used for
    crawl-frontier scoring and seed-set expansion."""
    seeds = customer.filter(
        F.col("c_custkey") % seed_mod == 0
    ).select((F.col("c_custkey") * 2).alias("node"))
    return _decode_nodes(
        pagerank(
            bipartite_edges(orders, lineitem), iters=iters, seeds=seeds
        )
    )


COSUPPLY_PART_CAP = 32  # max suppliers per part entering the self-join


def cosupply_edges(
    lineitem: DataFrame,
    k: int = 8,
    part_cap: int | None = COSUPPLY_PART_CAP,
) -> DataFrame:
    """Unipartite supplier similarity graph via MUTUAL k-nearest
    neighbors: rank each supplier's co-suppliers by shared distinct
    supplied parts (ties by id), keep the top ``k`` per supplier, and
    emit an undirected edge ``(u < v)`` only when BOTH endpoints rank
    each other — the standard similarity-graph construction that
    stays non-trivial at every data scale (an absolute or relative
    similarity threshold empties or saturates as density shifts;
    mutual-kNN adapts and caps degree at ``k`` by construction, which
    also bounds downstream wedge volume at ``|V| * k^2``).

    Deterministic everywhere: ranking is an integer sort with id
    tie-break; no floats anywhere.

    100 TB shape: pair generation is the classic co-occurrence
    self-join keyed by part — cost is sum over parts of
    suppliers_per_part^2, bounded by per-part fan-out, never |S|^2.
    A part supplied by a pathological number of suppliers is the hot
    key: ``part_cap`` ENFORCES the bound (same discipline as LSH
    hot-bucket sub-banding in operators/dedup.py) by keeping, per
    part, only the ``part_cap`` suppliers ranked first under a
    deterministic engine-portable pseudo-random order —
    ``(md5(partkey|suppkey), suppkey)`` — so pair volume per part is
    ≤ part_cap^2 regardless of skew, the selection is unbiased
    across parts, and any engine picks the identical sample
    (lowercase-hex md5 compares the same everywhere). ``None``
    disables the cap. The kNN rank is one shuffle keyed by source
    supplier; the mutual check is an equi-join of the k-bounded kNN
    table against its own transpose.
    """
    ps = lineitem.select("l_partkey", "l_suppkey").distinct()
    if part_cap is not None:
        w_cap = Window.partitionBy("l_partkey").orderBy(
            "_h", "l_suppkey"
        )
        ps = (
            ps.withColumn(
                "_h",
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("l_partkey").cast("string"),
                        F.col("l_suppkey").cast("string"),
                    )
                ),
            )
            .withColumn("_pr", F.row_number().over(w_cap))
            .filter(F.col("_pr") <= part_cap)
            .drop("_h", "_pr")
        )
    a = ps.alias("a")
    b = ps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("u"),
            F.col("b.l_suppkey").alias("v"),
        )
        .agg(F.count("*").alias("shared"))
    )
    w = Window.partitionBy("u").orderBy(
        F.desc("shared"), F.asc("v")
    )
    # knn feeds BOTH sides of the mutual check under DIFFERENT join
    # keys ((u,v) vs (v,u)), so exchange reuse cannot dedup the two
    # references — without the (lazy) localCheckpoint the pair
    # build + rank pipeline executes twice per caller. The
    # checkpointed table is |V| * k rows (k-bounded), executor-local
    # blocks, cleaner-managed once unreferenced (round-11, guide
    # §2.4/§5). Same for the returned edge list: every consumer
    # (symmetrize unions, degree + triangle builds) references it at
    # least twice.
    knn = (
        pairs.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= k)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    return (
        knn.alias("x")
        .join(
            knn.alias("y"),
            (F.col("x.u") == F.col("y.v"))
            & (F.col("x.v") == F.col("y.u")),
        )
        .filter(F.col("x.u") < F.col("x.v"))
        .select(F.col("x.u").alias("u"), F.col("x.v").alias("v"))
        .localCheckpoint(eager=False)
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over canonical ``(u < v)`` undirected
    edges via DEGREE-ORDERED orientation: two equi-joins (wedge build
    + closing-edge probe), never an all-pairs product. Returns
    ``(node, n_triangles)`` for every node in at least one triangle.

    Orientation: each undirected edge points from its lower-ranked
    endpoint under the total order ``ord(v) = deg(v) * 2^32 + v``
    (degree, node id as tie-break; node ids must be < 2^32 —
    re-encode wider key spaces first). Wedges are built only at each
    triangle's LOWEST-ranked corner, so wedge volume is
    sum(out-deg choose 2) under degree ordering — O(|E|^1.5) worst
    case (arboricity bound) instead of the hub-quadratic blowup of
    key-order orientation; this is what survives a power-law degree
    distribution at 100 TB. Each triangle is matched exactly once
    (its two higher corners are ordered by ``ord``, and the closing
    edge carries that same orientation), and each match contributes
    one count to all three corners. Counting is exact integer
    aggregation, so partition order is irrelevant and any engine
    agrees — the oracle twin enumerates under plain key order and
    gets identical counts.
    """
    e0 = edges.select("u", "v")
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        # ENFORCED: node ids >= 2^32 would silently lose the packed
        # total order (and overflow the BIGINT at deg*2^32). The
        # assert_true lives in a filter so it cannot be pruned.
        .filter(
            F.assert_true(
                F.col("node") < F.lit(1 << 32),
                F.concat(
                    F.lit(
                        "triangle_counts: node ids must be < 2^32 "
                        "(packed degree-order radix); re-encode wider "
                        "key spaces first. Got "
                    ),
                    F.col("node").cast("string"),
                ),
            ).isNull()
        )
        .select(
            "node",
            (F.col("deg") * F.lit(1 << 32) + F.col("node")).alias("ord"),
        )
    )
    oriented = (
        e0.join(
            deg.select(
                F.col("node").alias("u"), F.col("ord").alias("ord_u")
            ),
            "u",
        )
        .join(
            deg.select(
                F.col("node").alias("v"), F.col("ord").alias("ord_v")
            ),
            "v",
        )
        .select(
            F.when(F.col("ord_u") < F.col("ord_v"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(F.col("ord_u") < F.col("ord_v"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("dst"),
            F.greatest("ord_u", "ord_v").alias("ord_dst"),
        )
        .persist()
    )
    wedges = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2"),
            F.col("e1.src") == F.col("e2.src"),
        )
        .filter(F.col("e1.ord_dst") < F.col("e2.ord_dst"))
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    tri = wedges.join(
        oriented.select(
            F.col("src").alias("b"), F.col("dst").alias("c")
        ),
        ["b", "c"],
    )
    counts = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    out = counts.localCheckpoint()
    oriented.unpersist()
    return out


def cosupply_triangles(lineitem: DataFrame) -> DataFrame:
    """End-to-end: co-supply similarity graph + per-supplier triangle
    counts — the clustering-coefficient numerator used to find tightly
    coupled supplier communities."""
    return triangle_counts(cosupply_edges(lineitem)).select(
        F.col("node").alias("s_suppkey"), "n_triangles"
    )


def bfs_levels(
    edges: DataFrame, seeds: DataFrame, max_level: int = 4
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed node,
    capped at ``max_level`` hops. Returns ``(node, level)`` for every
    reached node (seeds at level 0).

    Frontier-expansion loop: each round joins the CURRENT frontier
    (not the full visited set) onto the edge list and anti-joins the
    visited set — per-round cost is frontier-adjacent edges only, the
    textbook distributed-BFS shape. Levels are exact small integers;
    the oracle twin is a recursive CTE taking min(level) per node, and
    both engines agree because min over the bounded walk set is
    order-independent.

    ITERATION HYGIENE: each round's visited table is an EAGER
    ``localCheckpoint`` — materialized with lineage truncated, so the
    anti-join chain never re-executes upstream rounds; superseded
    round tables are block-managed by the context cleaner once
    unreferenced. The loop SHORT-CIRCUITS when a round discovers no
    new node (the visited count stops growing) — the remaining
    ``max_level`` rounds would each pay full multi-stage cost to
    process an empty frontier. ``max_level`` bounds the iteration
    count; for unbounded reachability use ``dedup_clusters``-style
    convergence detection instead.
    """
    edges = edges.select("src", "dst").persist()
    visited = (
        seeds.select("node")
        .distinct()
        .withColumn("level", F.lit(0))
        .localCheckpoint()
    )
    n_visited = visited.count()
    frontier = visited.select("node")
    for lvl in range(1, max_level + 1):
        nxt = (
            edges.join(
                frontier.select(F.col("node").alias("src")), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(lvl))
        )
        visited = visited.unionAll(nxt).localCheckpoint()
        n_now = visited.count()
        if n_now == n_visited:
            break
        n_visited = n_now
        frontier = visited.filter(F.col("level") == lvl).select("node")
    edges.unpersist()
    return visited


def bipartite_bfs_levels(
    orders: DataFrame,
    customer: DataFrame,
    lineitem: DataFrame,
    seed_mod: int = 100,
    max_level: int = 4,
) -> DataFrame:
    """BFS hop distance from every ``seed_mod``-th customer through
    the customer–supplier interaction graph — seed-set expansion
    radius, the breadth-first complement of
    :func:`personalized_pagerank_bipartite`'s importance flow."""
    seeds = customer.filter(
        F.col("c_custkey") % seed_mod == 0
    ).select((F.col("c_custkey") * 2).alias("node"))
    lv = bfs_levels(
        bipartite_edges(orders, lineitem), seeds, max_level=max_level
    )
    return lv.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("node_key"),
        "level",
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node over canonical
    ``(u < v)`` undirected edges: ``2 * T(v) / (deg(v) * (deg(v)-1))``
    with T from :func:`triangle_counts`. Nodes of degree < 2 have an
    undefined coefficient and are reported with cc = 0.0 (declared).

    The division is one IEEE double op over exact integers, so both
    engines produce the identical double; the reported value is
    stable-rounded anyway. Cost = triangle counting + one broadcast-
    sized degree join. The edge table is persisted across the two
    consumers (degree build + triangle build) — without it the whole
    upstream edge construction executes twice — and the result is
    materialized before release.
    """
    e = edges.persist()
    tri = triangle_counts(e)  # materializes e via its checkpoint
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    out = (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                (2.0 * F.coalesce(F.col("n_triangles"), F.lit(0)))
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("_cc"),
        )
        .localCheckpoint()
    )
    e.unpersist()
    return out


def cosupply_clustering(lineitem: DataFrame) -> DataFrame:
    """End-to-end: co-supply graph + per-supplier local clustering
    coefficient — how tightly each supplier's co-supply neighborhood
    is interconnected (community cohesion signal)."""
    from ..functions.rounding import stable_round

    cc = clustering_coefficients(cosupply_edges(lineitem))
    return cc.select(
        F.col("node").alias("s_suppkey"),
        "degree",
        "n_triangles",
        stable_round(F.col("_cc"), 6).alias("clustering_coef"),
    )


def label_propagation(
    edges: DataFrame, rounds: int = 4
) -> DataFrame:
    """SYNCHRONOUS label propagation over canonical ``(u < v)``
    undirected edges: every node starts as its own label; each round
    every node simultaneously adopts the most frequent label among
    its neighbors, ties broken by SMALLEST label — fully
    deterministic (classic asynchronous LPA is update-order
    dependent; synchronous rounds + the min tie-break make every
    engine and partitioning agree). A fixed round count bounds the
    iteration (communities stabilize quickly on similarity graphs;
    synchronous LPA can 2-cycle on bipartite-ish structure, which a
    fixed even/odd round count snapshots deterministically).

    Per round: one equi-join of the |V| label table onto the
    symmetrized edges + one (node, label) count + one per-node
    window over its distinct neighbor labels (bounded by degree —
    ≤ k on a mutual-kNN graph). Same join/agg iteration shape as
    :func:`pagerank`; labels are exact integers.

    ITERATION HYGIENE (round-11): the evolving label table is
    referenced exactly ONCE per round, so the unrolled plan grows
    LINEARLY with ``rounds`` and — like :func:`pagerank` — needs no
    per-round materialization job at all; one final job evaluates
    every round exactly once. Long runs truncate lineage every
    ``LPA_CKPT_EVERY`` rounds (eager localCheckpoint, one job per
    segment; superseded blocks are cleaner-managed). The round-10
    shape eagerly checkpointed EVERY round — ``rounds + 1`` driver
    round trips and block writes where the data-path needs none.
    """
    sym = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(
            edges.select(
                F.col("v").alias("node"), F.col("u").alias("nbr")
            )
        )
        .persist()
    )
    labels = (
        sym.select("node")
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    w = Window.partitionBy("node").orderBy(
        F.desc("cnt"), F.asc("label")
    )
    for r in range(1, rounds + 1):
        freq = (
            sym.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("label")
                ),
                "nbr",
            )
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            freq.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
        if r % LPA_CKPT_EVERY == 0 and r < rounds:
            labels = labels.localCheckpoint(eager=True)
    labels = labels.localCheckpoint()
    sym.unpersist()
    return labels


def cosupply_communities(
    lineitem: DataFrame, rounds: int = 4
) -> DataFrame:
    """End-to-end: mutual-kNN co-supply graph + synchronous label
    propagation — supplier community assignments
    ``(s_suppkey, community)``."""
    return label_propagation(
        cosupply_edges(lineitem), rounds=rounds
    ).select(
        F.col("node").alias("s_suppkey"),
        F.col("label").alias("community"),
    )


KCORE_K = 3
KCORE_ROUNDS = 8


def kcore_nodes(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """k-core of an undirected ``(u < v)`` edge list by iterative
    peeling: each round drops every node with degree < k (and its
    edges); the k-core is the fixpoint. Peeling is CONFLUENT (the
    k-core is unique regardless of removal order), so round-
    synchronous peeling converges to the same set any sequential
    algorithm finds. ``rounds`` bounds the loop; an ENFORCED
    assert_true on the final degree table proves the fixpoint was
    reached (all residual degrees >= k, or the core is empty) — if
    the bound is too small for a deeper graph the call raises rather
    than returning a non-core. The oracle twin unrolls the identical
    rounds as CTEs.

    Per round: one degree aggregate + two semi-join filters;
    ``localCheckpoint(eager=True)`` truncates lineage (the edge
    table feeds both the degree aggregate and the filter, so without
    truncation the plan would double per round). At 100 TB the
    peeling is |E|-bounded work per round and the round count is the
    graph's degeneracy-peel depth, typically << 20 for k small.

    Returns ``(node, core_degree)`` for every node in the k-core."""
    e = edges.select("u", "v").localCheckpoint(eager=True)
    prev = e
    n_edges = e.count()
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k)
        e = (
            e.join(keep.select(F.col("node").alias("u")), "u", "leftsemi")
            .join(keep.select(F.col("node").alias("v")), "v", "leftsemi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        prev.unpersist()
        prev = e
        # early exit at the fixpoint: a round that removed no edge
        # proves every residual degree >= k, so further rounds are
        # no-ops — the RESULT is identical to running all `rounds`
        # (what the unrolled oracle computes), only the cost drops.
        # The count is free: `e` was just materialized.
        n_next = e.count()
        if n_next == n_edges:
            break
        n_edges = n_next
    final_deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    out = final_deg.filter(
        F.assert_true(
            F.col("deg") >= k,
            F.concat(
                F.lit(
                    f"kcore_nodes: not converged within rounds={rounds}"
                    " (residual degree < k) — raise the bound. Got "
                ),
                F.col("deg").cast("string"),
            ),
        ).isNull()
    ).select("node", F.col("deg").alias("core_degree"))
    out = out.localCheckpoint(eager=True)
    prev.unpersist()
    return out


def cosupply_kcore(
    lineitem: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """k-core of the mutual-kNN co-supply graph: the densely
    inter-connected supplier cohort that survives peeling — the
    standard community-trimming preprocessor (drop pendant/sparse
    nodes before clustering). Returns (s_suppkey, core_degree)."""
    return kcore_nodes(cosupply_edges(lineitem), k=k, rounds=rounds).select(
        F.col("node").alias("s_suppkey"), "core_degree"
    )


def _nodes(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Distinct endpoint set (node) of an edge/pair table."""
    return (
        edges.select(F.col(a).alias("node"))
        .unionAll(edges.select(F.col(b).alias("node")))
        .distinct()
    )


def _assert_total(
    entry: str, epoch_id: int, out: DataFrame, nodes: DataFrame
) -> None:
    """Per-epoch totality: exactly one ``out`` row per accumulated node."""
    n_out, n_nodes = out.count(), nodes.count()
    if n_out != n_nodes:
        raise AssertionError(
            f"{entry}: epoch {epoch_id} covered {n_out} of {n_nodes} "
            "accumulated nodes — the per-node table must stay total"
        )


def _checked_ranks(
    entry: str, epoch_id: int, pr: DataFrame, nodes: DataFrame
) -> DataFrame:
    """Per-epoch PageRank invariants, then ``pr``: totality, and
    sum(rank_fp) <= PR_SCALE — integer flooring only ever LOSES mass,
    so a larger total means double-counted nodes."""
    _assert_total(entry, epoch_id, pr, nodes)
    mass = pr.agg(F.sum("rank_fp")).collect()[0][0]
    if mass > PR_SCALE:
        raise AssertionError(
            f"{entry}: epoch {epoch_id} total rank mass {mass} exceeds "
            f"PR_SCALE {PR_SCALE} — integer flooring can only lose mass"
        )
    return pr


def kcore_maintain_stream(
    spark,
    edges: DataFrame,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming k-core MAINTENANCE: an edge stream arrives in
    micro-batches; each epoch folds the new edges into the
    accumulated graph and re-peels the k-core incrementally.

    The maintenance invariant that makes this cheaper than naive
    recompute is MONOTONICITY: under edge INSERTIONS the k-core only
    grows (adding an edge never lowers any residual degree during
    peeling), so (a) the previous epoch's core is a certified subset
    of the next — ASSERTED every epoch via an anti-join that must be
    empty, and (b) peeling restarted from the accumulated edge list
    stays under kcore_nodes' enforced-convergence contract — if an
    epoch's peel needs more than ``rounds`` rounds the call raises
    rather than returning a non-core.

    State story at 100 TB: the accumulated edge list is the
    streaming state — here a lazy union of immutable per-epoch
    checkpointed blocks (streaming/replay.py maintain), in production
    a compacted state table (Delta/Hudi or the RocksDB store) keyed
    by (u, v) so replays are idempotent; the per-epoch recompute touches only
    |E_acc| with the same bounded-rounds cost as batch kcore_nodes.

    Returns the FINAL epoch's core — identical by construction to
    batch kcore_nodes over all edges, so the entry shares the batch
    oracle twin."""
    from ..streaming.replay import maintain

    def readout(acc: DataFrame, prev, epoch_id: int) -> DataFrame:
        core = kcore_nodes(acc, k=k, rounds=rounds)
        if prev is not None:
            # the monotone-growth invariant: every node of the prior
            # core must survive the new epoch's peel
            n_lost = prev.select("node").join(
                core.select("node"), "node", "left_anti"
            ).count()
            if n_lost:
                raise AssertionError(
                    f"kcore_maintain_stream: epoch {epoch_id} dropped "
                    f"{n_lost} node(s) from the k-core — insert-only "
                    "maintenance must grow monotonically"
                )
        return core

    return maintain(
        spark,
        edges.select("u", "v"),
        lambda b: b,
        readout,
        order_cols=["u", "v"],
        n_slices=n_slices,
    )


def lpa_maintain_stream(
    spark,
    edges: DataFrame,
    rounds: int = 4,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming community MAINTENANCE: synchronous label propagation
    re-run per epoch over the accumulated edge stream. Unlike k-core
    there is no subset monotonicity to exploit — LPA labels are
    init-dependent, so each epoch recomputes from scratch (the only
    strategy whose result provably matches the batch operator and
    stays engine-exact; warm-starting from the prior epoch's labels
    changes the fixed rounds' outcome). The per-epoch invariant
    ASSERTED instead is totality: the label table covers exactly the
    accumulated node set — every node labeled once.

    Final epoch equals batch label_propagation over all edges, so
    the entry shares the batch unrolled-CTE oracle twin."""
    from ..streaming.replay import maintain

    def readout(acc: DataFrame, _prev, epoch_id: int) -> DataFrame:
        labels = label_propagation(acc, rounds=rounds)
        _assert_total(
            "lpa_maintain_stream", epoch_id, labels, _nodes(acc, "u", "v")
        )
        return labels

    return maintain(
        spark,
        edges.select("u", "v"),
        lambda b: b,
        readout,
        order_cols=["u", "v"],
        n_slices=n_slices,
    )


def pagerank_maintain_stream(
    spark,
    pairs: DataFrame,
    iters: int = PR_ITERS,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming PageRank MAINTENANCE over an undirected interaction
    pair stream (one ``(a, b)`` row per pair; symmetrized per epoch
    so every accumulated node always has out-degree >= 1 — slicing
    the symmetrized list instead could strand a node as dst-only
    mid-stream and silently drop its incoming mass).

    Each epoch folds the new pairs into accumulated state and re-runs
    the fixed-``iters`` PageRank. Like LPA (and unlike k-core) there
    is no warm-start shortcut that stays batch-exact: the batch
    contract is "``iters`` sweeps from the uniform seed", and a warm
    start changes what those sweeps produce — per-epoch recompute is
    the only strategy whose final epoch provably equals the batch
    operator. The incremental part is the edge state (new pairs only
    are staged per epoch, each epoch's block is checkpointed),
    and the per-epoch cost carries pagerank's own disciplines:
    pre-partitioned persisted edges, iteration-invariant node table,
    linear plan growth.

    Per-epoch invariants ASSERTED:
    - totality: exactly one rank row per accumulated node;
    - conservation: sum(rank_fp) <= PR_SCALE — integer flooring only
      ever LOSES mass, so a larger total means double-counted nodes.

    Final epoch equals batch ``pagerank`` over all pairs, so entries
    share the batch unrolled-CTE oracle twin."""
    from ..streaming.replay import maintain

    return maintain(
        spark,
        pairs.select("a", "b"),
        lambda b: b,
        lambda acc, _prev, epoch_id: _checked_ranks(
            "pagerank_maintain_stream",
            epoch_id,
            pagerank(_symmetrize(acc), iters=iters),
            _nodes(acc),
        ),
        order_cols=["a", "b"],
        n_slices=n_slices,
    )


def _symmetrize_w(counts: DataFrame) -> DataFrame:
    """Weighted symmetrization of an (a, b, w) multiplicity table."""
    return counts.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionAll(
        counts.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "w"
        )
    )


def pagerank_weighted_maintain_stream(
    spark,
    pair_occurrences: DataFrame,
    iters: int = PR_ITERS,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming WEIGHTED PageRank maintenance: raw interaction
    OCCURRENCES (one ``(a, b)`` row per event, duplicates meaningful)
    arrive in micro-batches; state is the distinct-pair multiplicity
    table (a, b, w) — bounded by the number of distinct pairs, not
    occurrence volume — merged per epoch with one union + sum
    aggregate, the same compact-count-state discipline as the
    bigram-LM model. Each epoch symmetrizes the weighted table and
    re-runs the fixed-``iters`` weighted PageRank (per-epoch
    recompute is the only batch-exact strategy — the weights move
    every split ratio, so there is no warm start that preserves the
    batch contract).

    Per-epoch invariants ASSERTED:
    - weight-mass conservation: the count merge keeps sum(w) equal
      to the occurrences arrived so far (replay.count_merge);
    - totality: one rank row per accumulated node;
    - rank-mass conservation: sum(rank_fp) <= PR_SCALE.

    Final epoch equals batch ``pagerank(weight_col='w')`` over the
    full multiplicity aggregate, so the entry shares the batch
    weighted twin."""
    from ..streaming.replay import count_merge, maintain

    return maintain(
        spark,
        pair_occurrences.select("a", "b"),
        lambda b: b.groupBy("a", "b").agg(
            F.count("*").cast("long").alias("w")
        ),
        lambda acc, _prev, epoch_id: _checked_ranks(
            "pagerank_weighted_maintain_stream",
            epoch_id,
            pagerank(_symmetrize_w(acc), iters=iters, weight_col="w"),
            _nodes(acc),
        ),
        order_cols=["a", "b"],
        n_slices=n_slices,
        merge=count_merge(["a", "b"], "w"),
    )


def personalized_pagerank_maintain_stream(
    spark,
    pairs: DataFrame,
    seeds: DataFrame,
    iters: int = PR_ITERS,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming PERSONALIZED PageRank maintenance: the distinct-pair
    stream accumulates exactly as in pagerank_maintain_stream, but
    rank mass flows from a FIXED seed set (a ``node`` column). The
    seed basis is corpus-global — a new epoch can add seed nodes to
    the graph, re-normalizing every share — so per-epoch recompute
    from the accumulated pairs is again the only batch-exact
    strategy.

    Early epochs may contain NO seed node yet (the personalized mass
    would be 0/0): those epochs emit an EMPTY rank table — declared,
    and asserted to happen only while the accumulated node set is
    seed-free. Final epoch (all pairs present, seed set intersects by
    the batch entry's construction) equals batch
    ``pagerank(seeds=...)``, sharing the personalized twin."""
    from ..streaming.replay import maintain

    def readout(acc: DataFrame, _prev, epoch_id: int) -> DataFrame:
        nodes = _nodes(acc)
        if nodes.join(seeds.select("node").distinct(), "node").count() == 0:
            return nodes.filter(F.lit(False)).select(
                "node", F.lit(0).cast("long").alias("rank_fp")
            )
        return _checked_ranks(
            "personalized_pagerank_maintain_stream",
            epoch_id,
            pagerank(_symmetrize(acc), iters=iters, seeds=seeds),
            nodes,
        )

    return maintain(
        spark,
        pairs.select("a", "b"),
        lambda b: b,
        readout,
        order_cols=["a", "b"],
        n_slices=n_slices,
    )
