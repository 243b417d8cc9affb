"""Index-aware lineage queries (SURVEY §2.8) — thin wrappers binding the
generic BFS (operators.graph) to the engine index, with enrichment joins
replacing the reference's per-id point-lookup loops (J7: one join of the
id set against models/sources instead of N queries —
reference: server.py:209-219, graph.py:89-94). The served lineage and
impact tools answer from the driver-local snapshot instead
(``LocalIndexCache.lineage`` / ``impact``, operators/local_cache.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ariadne_dbt_spark.ingest.indexer import AriadneIndex
from ariadne_dbt_spark.operators.graph import DOWNSTREAM, UPSTREAM, bfs


def _enrich(index: AriadneIndex, ids: DataFrame) -> DataFrame:
    """Attach name/kind to traversal hits with one broadcast join."""
    names = (
        index.models.select("unique_id", "name", "layer")
        .unionByName(
            index.sources.select("unique_id", "name").withColumn("layer", F.lit("source")),
        )
        .unionByName(
            index.exposures.select("unique_id", "name").withColumn("layer", F.lit("exposure")),
        )
    )
    return ids.join(F.broadcast(names), "unique_id", "left").withColumn(
        "kind", F.split("unique_id", "\\.").getItem(0)
    )


def get_lineage(
    index: AriadneIndex,
    model_id: str,
    *,
    depth: int = 3,
    direction: str = "both",
) -> DataFrame:
    """``(unique_id, distance, relationship, name, layer, kind)`` sorted
    (relationship, distance, unique_id) — reference: server.py:240-307."""
    parts = []
    if direction in ("both", UPSTREAM):
        up = bfs(index.edges, [model_id], UPSTREAM, max_depth=depth).withColumn(
            "relationship", F.lit(UPSTREAM)
        )
        parts.append(up)
    if direction in ("both", DOWNSTREAM):
        down = bfs(index.edges, [model_id], DOWNSTREAM, max_depth=depth).withColumn(
            "relationship", F.lit(DOWNSTREAM)
        )
        parts.append(down)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _enrich(index, out).orderBy("relationship", "distance", "unique_id")


def source_dependencies(index: AriadneIndex, model_id: str, *, depth: int = 10) -> DataFrame:
    """G4: upstream closure filtered to source.* and enriched."""
    up = bfs(index.edges, [model_id], UPSTREAM, max_depth=depth)
    src = up.where(F.col("unique_id").startswith("source."))
    return src.join(F.broadcast(index.sources), "unique_id").select(
        "unique_id", "name", "source_name", "schema_name", "distance"
    ).orderBy("distance", "unique_id")


def high_centrality_models(index: AriadneIndex, *, limit: int = 10) -> DataFrame:
    """O3: top-k by centrality then downstream count."""
    return (
        index.models.select(
            "unique_id", "name", "layer", "centrality", "downstream_count", "upstream_count"
        )
        .orderBy(F.desc("centrality"), F.desc("downstream_count"), "unique_id")
        .limit(limit)
    )
