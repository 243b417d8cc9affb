"""Hybrid model search and the column/path finders over the index
(SURVEY §2.7, §3.3): the DataFrame (batch) path. Served tools answer
from the driver-local snapshot (operators/local_cache.py), which keeps
the same search semantics.

Pipeline parity with the reference (src/ariadne_dbt/search.py:54-104):

1. tokenize the query (T1)
2. recall: field-weighted BM25 over the postings, top ``4×limit`` (O1);
   LIKE fallback on name/description when empty (T4)
3. exclude ids (E1), min-max normalize (T5)
4. hybrid re-rank: 0.55·bm25 + 0.20·centrality + 0.10·layer_boost(intent)
   + 0.15·name_bonus (T6), optional layer post-filter (P3)

All phases are DataFrame programs against the cached index tables; the
final top-k is collected (results are bounded by ``limit ≤ 50``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ariadne_dbt_spark.config import HYBRID_WEIGHTS, LAYER_BOOSTS
from ariadne_dbt_spark.ingest.indexer import AriadneIndex
from ariadne_dbt_spark.operators.search import bm25, hybrid_rerank
from ariadne_dbt_spark.session import local_frame

_MODEL_COLS = (
    "unique_id",
    "name",
    "layer",
    "materialization",
    "description",
    "file_path",
    "centrality",
)


def search_models(
    index: AriadneIndex,
    query: str,
    *,
    intent: str = "explore",
    limit: int = 10,
    exclude_ids: list[str] | None = None,
    layer: str | None = None,
) -> DataFrame:
    """Returns the re-ranked hits: ``unique_id, name, layer, description,
    centrality, bm25_score, score`` (descending).

    Layer filtering mirrors the reference server exactly: search with an
    effective limit of ``2×limit``, cut the re-ranked list to that, THEN
    filter by layer and cut to ``limit`` (reference: server.py:363-371
    calls ``search(limit=limit*2)`` → layer filter → ``[:limit]``)."""
    limit = max(1, min(int(limit), index.config.search_limit_cap))
    eff_limit = 2 * limit if layer else limit
    hits = bm25(
        index.postings,
        index.docstats,
        index.model_count(),
        query,
        stem_query=index.config.stem_tokens,
    )
    models = index.models.select(*_MODEL_COLS)

    cand = hits.limit(4 * eff_limit).join(F.broadcast(models), "unique_id")
    if cand.isEmpty():
        # T4: LIKE fallback — contains on name/description, constant score,
        # centrality ranking
        q = query.lower().strip()
        cand = (
            models.where(
                F.lower(F.col("name")).contains(q)
                | F.lower(F.col("description")).contains(q)
            )
            .withColumn("bm25_score", F.lit(0.5))
        )
    if exclude_ids:
        ex = local_frame(index.spark, [(e,) for e in exclude_ids], "unique_id string")
        cand = cand.join(F.broadcast(ex), "unique_id", "left_anti")

    ranked = hybrid_rerank(
        cand,
        query,
        layer_weights=LAYER_BOOSTS.get(intent, LAYER_BOOSTS["explore"]),
        w_bm25=HYBRID_WEIGHTS["bm25"],
        w_centrality=HYBRID_WEIGHTS["centrality"],
        w_layer=HYBRID_WEIGHTS["layer"],
        w_name=HYBRID_WEIGHTS["name"],
    )
    if layer:
        ranked = ranked.limit(eff_limit).where(F.col("layer") == layer)
    return ranked.select(
        "unique_id",
        "name",
        "layer",
        F.substring("description", 1, index.config.description_truncate).alias("description"),
        "centrality",
        "bm25_score",
        "score",
    ).limit(limit)


def find_by_column(index: AriadneIndex, column_name: str, *, limit: int = 20) -> DataFrame:
    """T8: partial column-name match across models, centrality-ranked.
    LIKE special chars are escaped literally (reference: search.py:188-204)."""
    pat = (
        column_name.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
    )
    cols = index.columns.where(F.lower(F.col("name")).like(f"%{pat.lower()}%"))
    return (
        cols.select(F.col("model_id").alias("unique_id"), F.col("name").alias("column_name"))
        .join(index.models.select("unique_id", "name", "layer", "centrality"), "unique_id")
        .orderBy(F.desc("centrality"), "unique_id")
        .limit(limit)
    )


def find_by_path(index: AriadneIndex, path_pattern: str, *, limit: int = 20) -> DataFrame:
    """Find models whose file_path matches a SQL LIKE pattern (user
    supplies ``%`` wildcards), name-ordered (reference: search.py:206-218,
    served as find_models_by_path at server.py:425)."""
    return (
        index.models.where(F.col("file_path").like(path_pattern))
        .select("unique_id", "name", "layer", "file_path", "description")
        .orderBy("name")
        .limit(limit)
    )


def columns_with_tests_all(
    index: AriadneIndex, model_ids: list[str] | None = None
) -> DataFrame:
    """J2/J8: columns ⟕ tests with aggregated test types per column,
    set-based — ONE join regardless of how many models are asked for
    (replaces the reference's per-model query loop, J7 anti-pattern;
    reference: search.py:241-253 runs it per model)."""
    cols = index.columns
    tests = index.tests.where(F.col("column_name") != "")
    if model_ids is not None:
        cols = cols.where(F.col("model_id").isin(model_ids))
        tests = tests.where(F.col("model_id").isin(model_ids))
    agg = tests.groupBy("model_id", "column_name").agg(
        F.sort_array(F.collect_set("test_type")).alias("test_types")
    )
    return (
        cols.join(
            agg,
            (cols.model_id == agg.model_id) & (cols.name == agg.column_name),
            "left",
        )
        .select(
            cols.model_id,
            cols.name,
            "data_type",
            "description",
            "is_primary_key",
            "is_foreign_key",
            F.coalesce("test_types", F.array()).alias("test_types"),
        )
        .orderBy("model_id", "name")
    )
