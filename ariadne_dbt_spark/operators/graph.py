"""DAG traversal operators (SURVEY §2.8).

Reproduces the reference's BFS semantics (reference:
src/ariadne_dbt/graph.py:23-75): breadth-first over an edge list to a
bounded depth, visited-set so every node carries its MINIMUM distance,
start nodes excluded from the result, deterministic (distance, id)
ordering. Multi-pivot traversal with min-distance union (reference:
capsule.py:154-162) falls out of seeding the frontier with several ids.

Spark shape: an iterative driver loop of self-joins against a cached
edge DataFrame. Catalyst has no recursion, so the ≤`max_depth`-step loop
IS the idiomatic encoding; each frontier is tiny relative to the edge
table, so at scale the per-step join is a broadcast of the frontier
against the (bucketed) edges — no full-graph materialization, mirroring
the reference's decision to keep the graph in the store rather than in
memory (reference: graph.py:10-16).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ariadne_dbt_spark.session import local_frame

UPSTREAM = "upstream"
DOWNSTREAM = "downstream"


#: below this edge count the whole edge list fits comfortably on the
#: driver and a Python BFS beats ~2 Spark jobs per level by orders of
#: magnitude (the reference makes the same call for <10k-model projects,
#: graph.py:10-16). Above it, the iterative-join path scales out.
LOCAL_BFS_EDGE_LIMIT = 2_000_000


def bfs(
    edges: DataFrame,
    start_ids: DataFrame | Iterable[str],
    direction: str = DOWNSTREAM,
    max_depth: int = 10,
    exclude_start: bool = True,
    *,
    n_edges: int | None = None,
    with_ord: bool = False,
) -> DataFrame:
    """BFS over ``edges(parent_id, child_id)``.

    Returns ``(unique_id, distance)`` with minimum distance per node,
    distance counted from the nearest start node. ``start_ids`` may be a
    one-column DataFrame or a list of id strings. ``with_ord=True``
    prepends an ``ord`` rank column materializing the deterministic
    (distance, unique_id) output ordering (O4, reference graph.py:74-75
    — the rank is DATA so an order-insensitive comparison still verifies
    it): free in the local path (rows are produced sorted), one
    single-partition ``row_number`` window in the distributed path
    (bounded: BFS closures are frontier-sized, not corpus-sized).

    Adaptive execution: small edge tables run a driver-side BFS (zero
    Spark jobs per level); large ones run the distributed iterative-join
    loop. Results are identical — tests pin both paths against the same
    recursive-SQL oracle.

    Dispatch executes the edge plan ONCE: edges are persisted for the
    duration of the call, the dispatch ``count()`` materializes the
    cache in parallel, and whichever path wins reads the cached blocks
    (the r3 shape re-executed the upstream edge join for count and
    fetch separately; a limit-probe alternative fetches serially via
    CollectLimit — both measurably slower). The cache is released
    before returning. Callers that already know the edge count (e.g. an
    index holding cached edges) pass ``n_edges`` to skip the persist +
    count entirely.
    """
    if direction not in (UPSTREAM, DOWNSTREAM):
        raise ValueError(f"direction must be {UPSTREAM}/{DOWNSTREAM}, got {direction!r}")
    max_depth = max(0, min(int(max_depth), 10))  # reference clamps depth ≤ 10
    if n_edges is not None:
        if n_edges > LOCAL_BFS_EDGE_LIMIT:
            return _bfs_distributed(
                edges, start_ids, direction, max_depth, exclude_start, with_ord
            )
        return _bfs_local(edges, start_ids, direction, max_depth, exclude_start, with_ord)
    edges_c = edges.persist()
    try:
        if edges_c.count() > LOCAL_BFS_EDGE_LIMIT:
            # the loop materializes every level eagerly (isEmpty per
            # depth), so nothing lazily re-reads edges after return
            return _bfs_distributed(
                edges_c, start_ids, direction, max_depth, exclude_start, with_ord
            )
        return _bfs_local(edges_c, start_ids, direction, max_depth, exclude_start, with_ord)
    finally:
        edges_c.unpersist()


def _bfs_local(
    edges: DataFrame,
    start_ids: DataFrame | Iterable[str],
    direction: str,
    max_depth: int,
    exclude_start: bool,
    with_ord: bool = False,
) -> DataFrame:
    """Driver-side BFS: one collect of the (cached) edge list,
    pure-Python frontier expansion, one createDataFrame back out."""
    spark = edges.sparkSession
    if isinstance(start_ids, DataFrame):
        starts = [r[0] for r in start_ids.collect()]
    else:
        starts = list(start_ids)
    adj: dict[str, list[str]] = {}
    fwd = direction == DOWNSTREAM
    for r in edges.select("parent_id", "child_id").collect():
        k, v = (r.parent_id, r.child_id) if fwd else (r.child_id, r.parent_id)
        adj.setdefault(k, []).append(v)
    dist = {s: 0 for s in starts}
    frontier = list(dict.fromkeys(starts))
    for depth in range(1, max_depth + 1):
        nxt = []
        for node in frontier:
            for nb in adj.get(node, ()):
                if nb not in dist:
                    dist[nb] = depth
                    nxt.append(nb)
        if not nxt:
            break
        frontier = nxt
    rows = sorted(
        ((u, d) for u, d in dist.items() if not (exclude_start and u in set(starts))),
        key=lambda t: (t[1], t[0]),
    )
    if with_ord:
        # rows are already in (distance, id) order — the rank costs a
        # Python enumerate, zero extra Spark work
        ranked = [(i + 1, u, d) for i, (u, d) in enumerate(rows)]
        return local_frame(spark, ranked, "ord long, unique_id string, distance int")
    return local_frame(spark, rows, "unique_id string, distance int")


def _bfs_distributed(
    edges: DataFrame,
    start_ids: DataFrame | Iterable[str],
    direction: str,
    max_depth: int,
    exclude_start: bool,
    with_ord: bool = False,
) -> DataFrame:
    """Iterative-join BFS for edge tables too big to collect: per level,
    frontier ⋈ edges (the frontier side is broadcast — it is always the
    small side), anti-join the visited set, stop on empty frontier.

    Cache lifecycle: the per-level frontier/visited caches are scoped to
    the call — the final result is eagerly materialized via
    ``localCheckpoint(eager=True)`` (which also guarantees nothing
    lazily re-reads ``edges`` after the caller's `finally` releases it,
    even when the loop exits by max_depth with a live frontier), then
    every intermediate is unpersisted. Unlike a returned ``.cache()``,
    a local checkpoint's blocks are released by the ContextCleaner when
    the DataFrame is garbage-collected — no caller-owned cache escapes
    the call, so repeated lineage/impact calls in a long-lived serving
    session cannot accumulate leaked closure caches even if a caller
    never reads the docstring."""
    spark = edges.sparkSession
    src, dst = ("parent_id", "child_id") if direction == DOWNSTREAM else ("child_id", "parent_id")
    if not isinstance(start_ids, DataFrame):
        start_ids = local_frame(spark, [(s,) for s in start_ids], "unique_id string")
    visited = start_ids.select("unique_id").distinct().withColumn("distance", F.lit(0)).cache()
    frontier = visited
    intermediates = [visited]

    for depth in range(1, max_depth + 1):
        nxt = (
            edges.join(F.broadcast(frontier), frontier.unique_id == edges[src])
            .select(F.col(dst).alias("unique_id"))
            .distinct()
            # anti-join the visited set ⇒ first time seen = minimum distance
            .join(F.broadcast(visited.select("unique_id")), "unique_id", "left_anti")
            .withColumn("distance", F.lit(depth))
            .cache()
        )
        intermediates.append(nxt)
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).cache()
        intermediates.append(visited)
        frontier = nxt

    out = visited
    if exclude_start:
        out = out.join(F.broadcast(start_ids.select("unique_id")), "unique_id", "left_anti")
    if with_ord:
        from pyspark.sql.window import Window

        w = Window.orderBy("distance", "unique_id")
        out = out.select(
            F.row_number().over(w).cast("bigint").alias("ord"), "unique_id", "distance"
        )
    else:
        out = out.orderBy("distance", "unique_id")
    # materialize THROUGH the level caches before they drop; GC-managed
    # blocks, not a caller-owned cache (see docstring)
    out = out.localCheckpoint(eager=True)
    for df in intermediates:
        df.unpersist()
    return out


def neighbors(edges: DataFrame, node_id: str) -> DataFrame:
    """1-hop in both directions (reference: graph.py:34-40).

    Returns ``(unique_id, relationship)`` with relationship ∈
    {upstream, downstream}.
    """
    up = (
        edges.where(F.col("child_id") == node_id)
        .select(F.col("parent_id").alias("unique_id"), F.lit(UPSTREAM).alias("relationship"))
    )
    down = (
        edges.where(F.col("parent_id") == node_id)
        .select(F.col("child_id").alias("unique_id"), F.lit(DOWNSTREAM).alias("relationship"))
    )
    return up.union(down).orderBy("relationship", "unique_id")


def degree_centrality(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Per-node (upstream+downstream degree) / global max — reference:
    indexer.py:458-469. Two partial-agg groupBys + a single-row broadcast
    for the global max (no all-to-one window).
    """
    up = edges.groupBy(F.col("child_id").alias("unique_id")).agg(
        F.count(F.lit(1)).alias("upstream_count")
    )
    down = edges.groupBy(F.col("parent_id").alias("unique_id")).agg(
        F.count(F.lit(1)).alias("downstream_count")
    )
    deg = (
        nodes.select("unique_id")
        .join(up, "unique_id", "left")
        .join(down, "unique_id", "left")
        .select(
            "unique_id",
            F.coalesce("upstream_count", F.lit(0)).alias("upstream_count"),
            F.coalesce("downstream_count", F.lit(0)).alias("downstream_count"),
        )
        .withColumn("degree", F.col("upstream_count") + F.col("downstream_count"))
    )
    max_deg = deg.agg(F.max("degree").alias("max_degree"))
    return deg.crossJoin(F.broadcast(max_deg)).select(
        "unique_id",
        "upstream_count",
        "downstream_count",
        (
            F.col("degree").cast("double")
            / F.nullif(F.col("max_degree"), F.lit(0)).cast("double")
        ).alias("centrality"),
    )


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    iters: int = 10,
    parent_col: str = "parent_id",
    child_col: str = "child_id",
) -> DataFrame:
    """PageRank by fixed-iteration power method over an edge list —
    importance centrality beyond degree (A2/G5): a model every mart
    depends on transitively outranks one with the same in-degree.

    Standard formulation with uniform teleport and dangling-mass
    redistribution: ``r' = (1-d)/N + d * (Σ_in r/outdeg + dangling/N)``.

    Scale shape: each iteration is ONE shuffle (join ranks⋈edges on the
    parent, group by child) + a 1-row dangling aggregate collected to
    the driver (a scalar, not data). Ranks are localCheckpoint'd every
    iteration to truncate the growing lineage — the classic iterative-
    algorithm pattern on Spark; no caller-owned caches escape (repo
    cache-lifecycle rule, see bfs()).

    Returns ``(unique_id, rank)`` (doubles; callers needing an
    engine-stable gate should round — summation order across executors
    is nondeterministic, which is why the workload registers rows-only
    and the semantics are pinned in tests vs a NumPy power iteration).
    """
    nodes = (
        edges.select(F.col(parent_col).alias("unique_id"))
        .union(edges.select(F.col(child_col).alias("unique_id")))
        .distinct()
    ).localCheckpoint(eager=True)
    n = nodes.count()
    outdeg = edges.groupBy(parent_col).agg(F.count(F.lit(1)).alias("outdeg"))
    # edge weight 1/outdeg, precomputed once and checkpointed: the join
    # inside the loop then reuses a materialized skinny table
    w_edges = (
        edges.join(outdeg, parent_col)
        .select(
            F.col(parent_col).alias("src"),
            F.col(child_col).alias("dst"),
            (F.lit(1.0) / F.col("outdeg")).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    has_out = w_edges.select(F.col("src").alias("unique_id")).distinct()
    ranks = nodes.select("unique_id", F.lit(1.0 / n).alias("rank"))
    prev = None
    for _ in range(int(iters)):
        dangling = (
            ranks.join(has_out, "unique_id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .collect()[0][0]
        )
        contrib = (
            ranks.join(w_edges, ranks.unique_id == w_edges.src)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
        )
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = (
            nodes.join(contrib, nodes.unique_id == contrib.dst, "left")
            .select(
                "unique_id",
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            prev.unpersist()
        prev = ranks
    out = ranks.orderBy(F.desc("rank"), "unique_id").localCheckpoint(eager=True)
    if prev is not None:
        prev.unpersist()
    nodes.unpersist()
    w_edges.unpersist()
    return out


def triangle_counts(edges: DataFrame, *, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient via the
    degree-ordered edge orientation (the MapReduce-era trick: orient
    every undirected edge from its (degree, id)-smaller endpoint to the
    larger one, so every out-degree is O(sqrt(m)) on ANY graph and the
    wedge self-join's candidate mass is bounded by sum(out_deg^2) ~
    O(m^1.5) — never the hub-quadratic sum(deg^2) a naive enumeration
    pays; Suri & Vassilvitskii 2011).

    All equi-joins (orientation join on the node id, wedge join on the
    pivot, closure semi-join on (v, w)) — Catalyst shuffles each on its
    key, AQE handles residual skew. Each triangle is enumerated exactly
    once (at its order-minimal pivot) and credited to all three corners.

    Returns ``(node, degree, n_triangles, clustering_millionths)`` for
    nodes with degree >= 2, where clustering_millionths =
    floor(2e6 * T / (d * (d-1))) — integer-exact cross-engine.

    Plan shape (round-10 rewrite): the naive composition re-derived
    ``und``/``deg``/``o`` under every consumer — with ``deg`` read 3x,
    ``o`` 3x and ``tri`` 3x the duplication is MULTIPLICATIVE (an
    865-node physical plan, 372 Exchanges / 94 broadcast-NLJ instances
    of the upstream scan at sf0.1, plans/r10/triangle_clustering_*).
    Two fixes: per-node fan-outs use one ``explode(array(...))``
    generator instead of a 3-way union of the parent (tri and und each
    derived ONCE), and the two frames every downstream stage reads —
    ``deg`` (O(nodes)) and the oriented edge list ``o`` (O(m), exactly
    the mass one shuffle of the input moves) — are pinned with an eager
    ``localCheckpoint``, so the wedge join, the closure join and the
    final degree join all read materialized blocks instead of
    re-running the distinct+orientation subtree. Lineage truncation is
    the standard iterative-graph trade-off (a lost executor re-runs the
    whole op instead of one stage); the plan drops to 19 Exchanges.
    """
    und = (
        edges.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
        .localCheckpoint()
    )
    e1 = o.select(F.col("u"), F.col("v"), F.col("dv"))
    e2 = o.select(F.col("u"), F.col("v").alias("w"), F.col("dv").alias("dw"))
    wedges = e1.join(e2, "u").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = o.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(per_node, deg.v == per_node.node, "left")
        .select(
            deg.v.alias("node"),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
            F.expr("CAST((2 * coalesce(t, 0) * 1000000) DIV (deg * (deg - 1)) AS BIGINT)").alias(
                "clustering_millionths"
            ),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[str],
    *,
    damping: float = 0.85,
    iters: int = 10,
    parent_col: str = "parent_id",
    child_col: str = "child_id",
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the SEED set
    instead of uniformly — relevance-to-a-focus propagation (the "what
    matters around THIS model" ranking capsule assembly wants, vs
    global importance). Standard formulation:
    ``r' = (1-d)·p + d·(Σ_in r/outdeg + dangling·p)`` with ``p``
    uniform over ``seeds`` and zero elsewhere.

    Same execution shape as :func:`pagerank` (one shuffle per
    iteration, scalar dangling aggregate, per-iteration
    localCheckpoint); the personalization vector compiles to a literal
    ``isin`` CASE — no extra joins. Engine-stable gating is rows-only
    for the same summation-order reason; semantics are pinned vs a
    NumPy power iteration in tests.
    """
    if not seeds:
        raise ValueError("seeds must be non-empty")
    seeds = sorted(set(str(s) for s in seeds))
    nodes = (
        edges.select(F.col(parent_col).alias("unique_id"))
        .union(edges.select(F.col(child_col).alias("unique_id")))
        .distinct()
    ).localCheckpoint(eager=True)
    p_col = F.when(
        F.col("unique_id").isin(seeds), F.lit(1.0 / len(seeds))
    ).otherwise(F.lit(0.0))
    outdeg = edges.groupBy(parent_col).agg(F.count(F.lit(1)).alias("outdeg"))
    w_edges = (
        edges.join(outdeg, parent_col)
        .select(
            F.col(parent_col).alias("src"),
            F.col(child_col).alias("dst"),
            (F.lit(1.0) / F.col("outdeg")).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    has_out = w_edges.select(F.col("src").alias("unique_id")).distinct()
    ranks = nodes.select("unique_id", p_col.alias("rank"))
    prev = None
    for _ in range(int(iters)):
        dangling = (
            ranks.join(has_out, "unique_id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .collect()[0][0]
        )
        contrib = (
            ranks.join(w_edges, ranks.unique_id == w_edges.src)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
        )
        ranks = (
            nodes.join(contrib, nodes.unique_id == contrib.dst, "left")
            .select(
                "unique_id",
                (
                    (F.lit(1.0 - damping) + F.lit(damping * dangling)) * p_col
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            prev.unpersist()
        prev = ranks
    out = ranks.orderBy(F.desc("rank"), "unique_id").localCheckpoint(eager=True)
    if prev is not None:
        prev.unpersist()
    nodes.unpersist()
    w_edges.unpersist()
    return out
