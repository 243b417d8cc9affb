"""Index-operator workloads over the synthetic metadata corpus
(workloads/meta_corpus.py) — driver-verified coverage for the SURVEY §2
rows that previously had pytest-only coverage: J2/J3/J4/J8, A6/A7, T8,
P3/P6, G2, O6/O7.

Every query runs the REAL engine operator (model_search / graph /
indexer derivations) against the corpus index; the oracle recomputes the
same result from the corpus CTEs (meta_corpus.META_SQL) in plain SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ariadne_dbt_spark.workloads import query
from ariadne_dbt_spark.workloads.meta_corpus import META_SQL, synthetic_index


# --------------------------------------------------------------------------
# J3: PK/FK derivation — the real indexer's _compute_pk_fk vs SQL.
# PK iff ≥2 distinct test types among {unique, not_null}; FK iff any
# relationships test (reference: indexer.py:401-417).
# --------------------------------------------------------------------------
@query(
    "meta_pk_fk_flags",
    oracle=f"""
    WITH {META_SQL},
    pk AS (
        SELECT model_id, column_name
        FROM tsts WHERE test_type IN ('unique', 'not_null')
        GROUP BY model_id, column_name
        HAVING COUNT(DISTINCT test_type) >= 2),
    fk AS (
        SELECT DISTINCT model_id, column_name
        FROM tsts WHERE test_type = 'relationships')
    SELECT c.model_id, c.name,
           (pk.model_id IS NOT NULL) AS is_primary_key,
           (fk.model_id IS NOT NULL) AS is_foreign_key
    FROM cols c
    LEFT JOIN pk ON c.model_id = pk.model_id AND c.name = pk.column_name
    LEFT JOIN fk ON c.model_id = fk.model_id AND c.name = fk.column_name
    WHERE pk.model_id IS NOT NULL OR fk.model_id IS NOT NULL
    ORDER BY c.model_id, c.name
    """,
    survey="J3",
    doc="PK/FK flag derivation through the real indexer (columns⋈tests, "
    "HAVING count distinct ≥ 2) — flagged columns only.",
)
def meta_pk_fk_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = synthetic_index(spark, sf_dir)
    return (
        idx.columns.where(F.col("is_primary_key") | F.col("is_foreign_key"))
        .select("model_id", "name", "is_primary_key", "is_foreign_key")
        .orderBy("model_id", "name")
    )


# --------------------------------------------------------------------------
# J2/J8/A7: columns ⟕ tests rollup with string-aggregated test types —
# the set-based columns_with_tests_all operator (one join, not N loops).
# --------------------------------------------------------------------------
@query(
    "meta_columns_with_tests",
    oracle=f"""
    WITH {META_SQL},
    tagg AS (
        SELECT model_id, column_name,
               string_agg(DISTINCT test_type, ',' ORDER BY test_type) AS test_types
        FROM tsts GROUP BY model_id, column_name)
    SELECT c.model_id, c.name, c.data_type,
           COALESCE(t.test_types, '') AS test_types
    FROM cols c
    JOIN m0 m ON c.model_id = m.unique_id AND m.k < 40
    LEFT JOIN tagg t ON c.model_id = t.model_id AND c.name = t.column_name
    ORDER BY c.model_id, c.name
    """,
    survey="J2,J8,A7",
    doc="columns⟕tests with sorted string-agg of test types per column "
    "(reference GROUP_CONCAT, search.py:241-253), set-based over 40 models.",
)
def meta_columns_with_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.model_search import columns_with_tests_all

    idx = synthetic_index(spark, sf_dir)
    ids = [f"model.shop.m_{k}" for k in range(40)]
    return (
        columns_with_tests_all(idx, ids)
        .select(
            "model_id",
            "name",
            "data_type",
            F.array_join("test_types", ",").alias("test_types"),
        )
        .orderBy("model_id", "name")
    )


# --------------------------------------------------------------------------
# A6: test-coverage ratios per layer (tested columns / total columns).
# --------------------------------------------------------------------------
@query(
    "meta_coverage_by_layer",
    oracle=f"""
    WITH {META_SQL},
    tested AS (
        SELECT DISTINCT model_id, column_name FROM tsts),
    per_layer AS (
        SELECT m.layer,
               COUNT(*) AS total_columns,
               COUNT(t.column_name) AS tested_columns
        FROM cols c
        JOIN m0 m ON c.model_id = m.unique_id
        LEFT JOIN tested t ON c.model_id = t.model_id AND c.name = t.column_name
        GROUP BY m.layer)
    SELECT layer, total_columns, tested_columns,
           ROUND(100.0 * tested_columns / total_columns, 1) AS coverage_pct
    FROM per_layer ORDER BY layer
    """,
    survey="A6,A5",
    doc="Coverage ratios per layer (reference: search.py:295-328, "
    "patterns.py:248-266).",
)
def meta_coverage_by_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = synthetic_index(spark, sf_dir)
    tested = (
        idx.tests.where(F.col("column_name") != "")
        .select("model_id", F.col("column_name").alias("name"))
        .distinct()
        .withColumn("_tested", F.lit(1))
    )
    layers = idx.models.select("unique_id", "layer")
    return (
        idx.columns.join(
            tested, ["model_id", "name"], "left"
        )
        .join(layers, idx.columns.model_id == layers.unique_id)
        .groupBy("layer")
        .agg(
            F.count(F.lit(1)).alias("total_columns"),
            F.count("_tested").alias("tested_columns"),
        )
        .withColumn(
            "coverage_pct",
            F.round(100.0 * F.col("tested_columns") / F.col("total_columns"), 1),
        )
        .orderBy("layer")
    )


# --------------------------------------------------------------------------
# T8: column-concept search — partial column-name match, centrality rank.
# --------------------------------------------------------------------------
@query(
    "meta_find_by_column",
    oracle=f"""
    WITH {META_SQL}
    SELECT c.model_id AS unique_id, c.name AS column_name,
           m.name, m.layer, m.centrality
    FROM cols c
    JOIN models m ON c.model_id = m.unique_id
    WHERE lower(c.name) LIKE '%c4%'
    ORDER BY m.centrality DESC, c.model_id
    LIMIT 20
    """,
    survey="T8,P5",
    doc="Column-concept search: models owning a c4 column, "
    "centrality-ranked (reference: search.py:188-204).",
)
def meta_find_by_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.model_search import find_by_column

    idx = synthetic_index(spark, sf_dir)
    return find_by_column(idx, "c4", limit=20).select(
        "unique_id", "column_name", "name", "layer", "centrality"
    )


# --------------------------------------------------------------------------
# P6: path resolution — exact file_path OR basename(-.sql), .yml skipped,
# dedup preserving input order.
# --------------------------------------------------------------------------
_PATHS = [
    "models/staging/m_12.sql",      # exact path hit (12%3=0 → staging)
    "m_7",                          # bare name hit
    "models/whatever/m_15.sql",     # wrong dir, stem m_15 still resolves
    "schema.yml",                   # skipped
    "models/staging/m_12.sql",      # duplicate → dropped
    "m_9999999",                    # no hit
]


@query(
    "meta_path_resolution",
    oracle=f"""
    WITH {META_SQL},
    inputs(ord, p) AS (VALUES
        (1, 'models/staging/m_12.sql'), (2, 'm_7'),
        (3, 'models/whatever/m_15.sql'), (4, 'schema.yml'),
        (5, 'models/staging/m_12.sql'), (6, 'm_9999999')),
    resolved AS (
        SELECT i.ord, m.unique_id
        FROM inputs i
        JOIN models m
          ON (m.file_path = i.p
              OR lower(m.name) = lower(regexp_replace(
                     CASE WHEN i.p LIKE '%/%'
                          THEN regexp_extract(i.p, '([^/]+)$', 1) ELSE i.p END,
                     '\\.sql$', '')))
        WHERE i.p NOT LIKE '%.yml' AND i.p NOT LIKE '%.yaml'),
    first_seen AS (
        SELECT unique_id, MIN(ord) AS ord FROM resolved GROUP BY unique_id)
    SELECT ROW_NUMBER() OVER (ORDER BY ord) AS ord, unique_id
    FROM first_seen ORDER BY ord
    """,
    survey="P6,E3",
    doc="File-path/name resolution with .yml skip and first-seen dedup "
    "(reference: search.py:148-186).",
)
def meta_path_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    uids = synthetic_index(spark, sf_dir).local().resolve_paths(_PATHS)
    rows = [(i + 1, u) for i, u in enumerate(uids)]
    return spark.createDataFrame(rows, "ord long, unique_id string")


# --------------------------------------------------------------------------
# J4: direct upstream sources of models (edges ⋈ sources).
# --------------------------------------------------------------------------
@query(
    "meta_direct_sources",
    oracle=f"""
    WITH {META_SQL},
    srcs AS (
        SELECT 'source.raw.src_' || CAST(k AS VARCHAR) AS unique_id,
               'src_' || CAST(k AS VARCHAR) AS name, 'raw' AS source_name
        FROM m0 WHERE k % 3 = 0)
    SELECT e.child_id AS model_id, s.unique_id, s.name, s.source_name
    FROM medges e
    JOIN srcs s ON e.parent_id = s.unique_id
    JOIN m0 m ON e.child_id = m.unique_id AND m.k < 60
    ORDER BY model_id
    """,
    survey="J4",
    doc="Direct upstream sources via edges⋈sources (reference: "
    "search.py:282-293), set-based over the first 60 models.",
)
def meta_direct_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = synthetic_index(spark, sf_dir)
    e = idx.edges.where(F.col("parent_id").startswith("source."))
    ids = [f"model.shop.m_{k}" for k in range(60)]
    return (
        e.where(F.col("child_id").isin(ids))
        .join(idx.sources, e.parent_id == idx.sources.unique_id)
        .select(
            F.col("child_id").alias("model_id"),
            "unique_id",
            "name",
            "source_name",
        )
        .orderBy("model_id")
    )


# --------------------------------------------------------------------------
# G2: 1-hop neighbors in both directions.
# --------------------------------------------------------------------------
@query(
    "meta_neighbors",
    oracle=f"""
    WITH {META_SQL}
    SELECT parent_id AS unique_id, 'upstream' AS relationship
    FROM medges WHERE child_id = 'model.shop.m_10'
    UNION ALL
    SELECT child_id, 'downstream'
    FROM medges WHERE parent_id = 'model.shop.m_10'
    ORDER BY relationship, unique_id
    """,
    survey="G2",
    doc="1-hop neighborhood of m_10 (reference: graph.py:34-40).",
)
def meta_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.graph import neighbors

    idx = synthetic_index(spark, sf_dir)
    return neighbors(idx.edges, "model.shop.m_10")


# --------------------------------------------------------------------------
# O6/O7: recent-items ordering + limit clamping (reference:
# usage.py:129-137 ORDER BY id DESC LIMIT 20; server.py clamps user
# limits to [1, 50]).
# --------------------------------------------------------------------------
@query(
    "recent_events_clamped",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events ORDER BY event_id DESC LIMIT 50
    """,
    survey="O6,O7",
    doc="Most-recent-N with the server's limit clamp: caller asks for "
    "500, the clamp yields 50.",
)
def recent_events_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.workloads.timeseries import events

    requested = 500
    limit = max(1, min(int(requested), 50))  # reference clamp (server.py:148)
    ev = events(spark, sf_dir)
    return (
        ev.select("event_id", "user_id", "event_type")
        .orderBy(F.desc("event_id"))
        .limit(limit)
    )


# --------------------------------------------------------------------------
# T5/T6/O1/O2 (+P3 in the second variant): the full hybrid search
# pipeline — BM25 recall (top 4×limit), min-max normalization over the
# candidate set, composite re-rank with the reference's intent→layer
# matrix, deterministic tie-breaks — vs a from-first-principles SQL twin.
# Query 'red widget' hits descriptions only (corpus construction keeps
# the other 4 fields disjoint); ≤2 matching terms per doc → the float
# sum is a single commutative addition, engine-stable.
# --------------------------------------------------------------------------
def search_cte(intent: str, *, limit: int = 10, exclude_cte: str | None = None) -> str:
    """SQL twin of model_search.search_models for query 'red widget':
    BM25 recall top 4×limit → (optional exclusion) → min-max normalize
    over the surviving candidates → composite re-rank. ``exclude_cte``
    names a 1-column (unique_id) CTE whose ids are dropped AFTER the
    recall cut — exactly where the engine applies E1."""
    from ariadne_dbt_spark.config import LAYER_BOOSTS

    b = LAYER_BOOSTS.get(intent, LAYER_BOOSTS["explore"])
    boost = (
        f"CASE m.layer WHEN 'staging' THEN {b['staging']}"
        f" WHEN 'intermediate' THEN {b['intermediate']}"
        f" WHEN 'marts' THEN {b['marts']} ELSE {b['other']} END"
    )
    excl = (
        f"WHERE doc_id NOT IN (SELECT unique_id FROM {exclude_cte})"
        if exclude_cte
        else ""
    )
    return f"""
    dterms AS MATERIALIZED (
        SELECT unique_id AS doc_id,
               unnest(string_split(lower(description), ' ')) AS term
        FROM models),
    postings AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf FROM dterms GROUP BY 1, 2),
    docstats AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM dterms GROUP BY 1),
    stats AS (SELECT (SELECT COUNT(*) FROM models) AS n_docs,
                     (SELECT AVG(dl) FROM docstats) AS avgdl),
    qterms(term) AS (VALUES ('red'), ('widget')),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings
              WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
    scored AS MATERIALIZED (
        SELECT p.doc_id,
               SUM( ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                    * p.tf * (1.2 + 1.0)
                    / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl))
                    * 3.0 ) AS raw
        FROM postings p
        JOIN dfreq f ON p.term = f.term
        JOIN docstats d ON p.doc_id = d.doc_id
        CROSS JOIN stats s
        GROUP BY p.doc_id),
    cand0 AS MATERIALIZED (SELECT doc_id, raw FROM scored ORDER BY raw DESC, doc_id LIMIT {4 * limit}),
    cand AS MATERIALIZED (SELECT doc_id, raw FROM cand0 {excl}),
    norm AS (
        SELECT doc_id, raw,
               CASE WHEN (SELECT MAX(raw) FROM cand) = (SELECT MIN(raw) FROM cand)
                    THEN 1.0
                    ELSE (raw - (SELECT MIN(raw) FROM cand))
                         / ((SELECT MAX(raw) FROM cand) - (SELECT MIN(raw) FROM cand))
               END AS nb
        FROM cand),
    rer AS (
        SELECT m.unique_id, m.name, m.layer, m.centrality, n.raw,
               n.nb * 0.55 + m.centrality * 0.20
               + ({boost}) * 0.10
               + 0.0 * 0.15 AS score_raw
        FROM norm n JOIN models m ON n.doc_id = m.unique_id)
"""


_SEARCH_SQL = search_cte("debug")
# layer-filtered twin: the reference server searches with limit*2 (recall
# 4×2×10=80), cuts the re-ranked list to 20, THEN filters by layer and
# cuts to 10 (server.py:363-371) — so its CTE uses limit=20
_SEARCH_SQL_L20 = search_cte("debug", limit=20)


@query(
    "meta_hybrid_search",
    oracle=f"""
    WITH {META_SQL},
    {_SEARCH_SQL}
    SELECT unique_id, name, layer, centrality,
           ROUND(raw, 4) AS bm25_score, ROUND(score_raw, 4) AS score
    FROM rer ORDER BY score_raw DESC, unique_id LIMIT 10
    """,
    survey="T5,T6,O1,O2",
    doc="Hybrid search end-to-end for 'red widget', intent=debug: "
    "field-weighted BM25 recall → min-max normalize → "
    "0.55/0.20/0.10/0.15 composite (reference: search.py:54-104).",
)
def meta_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.model_search import search_models

    idx = synthetic_index(spark, sf_dir)
    hits = search_models(idx, "red widget", intent="debug", limit=10)
    return hits.select(
        "unique_id",
        "name",
        "layer",
        "centrality",
        F.round("bm25_score", 4).alias("bm25_score"),
        F.round("score", 4).alias("score"),
    )


@query(
    "meta_search_layer_filtered",
    oracle=f"""
    WITH {META_SQL},
    {_SEARCH_SQL_L20},
    ranked20 AS (SELECT unique_id, name, layer, score_raw FROM rer
                 ORDER BY score_raw DESC, unique_id LIMIT 20)
    SELECT unique_id, name, layer, ROUND(score_raw, 4) AS score
    FROM ranked20 WHERE layer = 'staging'
    ORDER BY score_raw DESC, unique_id LIMIT 10
    """,
    survey="P3,T6",
    doc="Same pipeline with the reference server's layer sequence: "
    "search(limit*2) -> cut 20 -> layer filter -> cut 10 "
    "(reference: server.py:363-371).",
)
def meta_search_layer_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.model_search import search_models

    idx = synthetic_index(spark, sf_dir)
    hits = search_models(idx, "red widget", intent="debug", limit=10, layer="staging")
    return hits.select(
        "unique_id", "name", "layer", F.round("score", 4).alias("score")
    )


# --------------------------------------------------------------------------
# §1.1 column_lineage: the reference RESERVES this table but ships no
# populating code in v0.1 (reference: schema.sql:151-163, README roadmap).
# The engine populates it with operators/column_lineage.py; here the
# distributed mapInPandas path parses a deterministic dbt-SQL corpus
# derived from `part` (three projection shapes by k%3: rename+direct,
# aggregate+direct, join+derived expression) and the oracle states the
# expected lineage rows per residue class in plain SQL.
# --------------------------------------------------------------------------
@query(
    "column_lineage_extract",
    oracle="""
    WITH r AS (
        SELECT 'm_' || CAST(p_partkey AS VARCHAR) AS target_model,
               p_partkey % 3 AS res, p_partkey AS k
        FROM part)
    SELECT target_model, 'm_id' AS target_column,
           'model:m_' || CAST(k + 1 AS VARCHAR) AS source_relation,
           'id' AS source_column, 'renamed' AS transformation
    FROM r WHERE res = 0
    UNION ALL
    SELECT target_model, 'amount', 'model:m_' || CAST(k + 1 AS VARCHAR),
           'amount', 'direct' FROM r WHERE res = 0
    UNION ALL
    SELECT target_model, 'total_amount',
           'source:raw.src_' || CAST(k AS VARCHAR), 'amount', 'aggregated'
    FROM r WHERE res = 1
    UNION ALL
    SELECT target_model, 'id', 'source:raw.src_' || CAST(k AS VARCHAR),
           'id', 'direct' FROM r WHERE res = 1
    UNION ALL
    SELECT target_model, 'id', 'model:m_' || CAST(k + 1 AS VARCHAR),
           'id', 'direct' FROM r WHERE res = 2
    UNION ALL
    SELECT target_model, 'amount_x2', 'model:m_' || CAST(k + 2 AS VARCHAR),
           'amount', 'derived' FROM r WHERE res = 2
    """,
    survey="§1.1 column_lineage",
    doc="Distributed column-lineage extraction (Arrow-batched mapInPandas "
    "over per-model SQL text) vs a closed-form oracle: direct / renamed / "
    "aggregated / derived classifications and ref()/source() resolution.",
)
def column_lineage_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.column_lineage import column_lineage_df
    from ariadne_dbt_spark.session import table_path

    k = F.col("p_partkey")
    models = (
        spark.read.parquet(table_path(sf_dir, "part"))
        .select(
            F.concat(F.lit("m_"), k.cast("string")).alias("name"),
            F.when(
                k % 3 == 0,
                F.format_string(
                    "select id as m_id, amount from {{ ref('m_%d') }}", k + 1
                ),
            )
            .when(
                k % 3 == 1,
                F.format_string(
                    "select sum(amount) as total_amount, id"
                    " from {{ source('raw','src_%d') }}",
                    k,
                ),
            )
            .otherwise(
                F.format_string(
                    "select a.id, b.amount * 2 as amount_x2"
                    " from {{ ref('m_%d') }} a join {{ ref('m_%d') }} b"
                    " on a.id = b.id",
                    k + 1,
                    k + 2,
                )
            )
            .alias("raw_code"),
        )
    )
    return column_lineage_df(models)


# --------------------------------------------------------------------------
# Anti-pattern detection (reference README roadmap v1.0 — unimplemented
# in v0.1; rule set in operators/antipatterns.py). The corpus fires
# no_tests and view_mart in closed form; source_direct_to_mart and
# layer_inversion are structurally impossible there (sources feed only
# staging, chains never flow backwards), so their oracle arm is empty —
# a false positive from either rule breaks the hash.
# --------------------------------------------------------------------------
@query(
    "meta_antipatterns",
    oracle=f"""
    WITH {META_SQL}
    SELECT 'no_tests' AS rule, m.unique_id, m.name, m.layer
    FROM models m
    WHERE NOT EXISTS (SELECT 1 FROM tsts t WHERE t.model_id = m.unique_id)
    UNION ALL
    SELECT 'view_mart', unique_id, name, layer
    FROM models WHERE layer = 'marts' AND materialization = 'view'
    UNION ALL
    SELECT 'source_direct_to_mart', m.unique_id, m.name, m.layer
    FROM models m
    WHERE m.layer = 'marts'
      AND EXISTS (SELECT 1 FROM medges e
                  WHERE e.child_id = m.unique_id
                    AND e.parent_id LIKE 'source.%')
    UNION ALL
    SELECT DISTINCT 'layer_inversion', c.unique_id, c.name, c.layer
    FROM medges e
    JOIN models p ON e.parent_id = p.unique_id
    JOIN models c ON e.child_id = c.unique_id
    WHERE (CASE p.layer WHEN 'staging' THEN 0 WHEN 'intermediate' THEN 1 ELSE 2 END)
        > (CASE c.layer WHEN 'staging' THEN 0 WHEN 'intermediate' THEN 1 ELSE 2 END)
    """,
    survey="antipatterns (roadmap v1.0)",
    doc="Anti-pattern rules over the corpus index: no_tests and "
    "view_mart fire in closed form; the two structural rules must "
    "return exactly zero rows (false-positive guard).",
)
def meta_antipatterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.antipatterns import detect_antipatterns

    idx = synthetic_index(spark, sf_dir)
    return detect_antipatterns(
        idx,
        ("no_tests", "view_mart", "source_direct_to_mart", "layer_inversion"),
    )
