"""Synthetic metadata corpus: a deterministic dbt-project-shaped index
derived from the shared ``part`` table, so every index-level operator
(search, capsule, lineage, coverage — SURVEY §2 rows that previously had
pytest-only coverage) gets a driver-verified query with a DuckDB oracle.

Derivation (k = p_partkey, identical on both sides):

* model  ``model.shop.m_<k>``: layer = k%3 → staging/intermediate/marts,
  materialization = table iff k%4=0, description = p_name,
  file_path = models/<layer>/m_<k>.sql, tags = [p_brand],
  raw_code = 'select 1 as c0' (+ the macro name when k%6=0 → J6)
* columns ``c0..c<k%4+1>`` (2-5 per model), type cycles by (k+i)%3
* tests: not_null(c0) iff k%2=0; unique(c0) iff k%4=0 (⇒ PK on c0 iff
  k%4=0); relationships(c1) iff k%5=0 (⇒ FK); accepted_values(c2) iff
  k%7=0 ∧ k%4≥1
* edges: source.raw.src_<k> → m_<k> iff k%3=0;  m_<k> → m_<k+1> iff
  k%3∈{0,1} (staging→intermediate→marts chains);  m_<k> →
  exposure.shop.e_<k> iff k%9=2
* degrees/centrality/PK-FK/postings: computed by the REAL indexer
  (AriadneIndex._compute_degrees/_compute_pk_fk/_build_postings) on the
  Spark side, recomputed from first principles in the oracle CTEs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ariadne_dbt_spark.session import table_path

_LAYER = "CASE p_partkey % 3 WHEN 0 THEN 'staging' WHEN 1 THEN 'intermediate' ELSE 'marts' END"

#: oracle CTE block (no WITH keyword; compose as f"WITH {META_SQL}, ...")
META_SQL = f"""
    m0 AS MATERIALIZED (
        SELECT p_partkey AS k,
               'model.shop.m_' || CAST(p_partkey AS VARCHAR) AS unique_id,
               'm_' || CAST(p_partkey AS VARCHAR) AS name,
               {_LAYER} AS layer,
               CASE WHEN p_partkey % 4 = 0 THEN 'table' ELSE 'view' END AS materialization,
               p_name AS description,
               'models/' || ({_LAYER}) || '/m_' || CAST(p_partkey AS VARCHAR) || '.sql' AS file_path
        FROM part),
    cols AS MATERIALIZED (
        SELECT m.unique_id AS model_id, m.k, i,
               'c' || CAST(i AS VARCHAR) AS name,
               CASE (m.k + i) % 3 WHEN 0 THEN 'bigint' WHEN 1 THEN 'varchar' ELSE 'double' END AS data_type
        FROM m0 m CROSS JOIN UNNEST(range(0, (m.k % 4) + 2)) AS t(i)),
    tsts AS MATERIALIZED (
        SELECT 'test.shop.nn_' || CAST(k AS VARCHAR) AS unique_id, unique_id AS model_id,
               'c0' AS column_name, 'not_null' AS test_type
        FROM m0 WHERE k % 2 = 0
        UNION ALL
        SELECT 'test.shop.uq_' || CAST(k AS VARCHAR), unique_id, 'c0', 'unique'
        FROM m0 WHERE k % 4 = 0
        UNION ALL
        SELECT 'test.shop.rel_' || CAST(k AS VARCHAR), unique_id, 'c1', 'relationships'
        FROM m0 WHERE k % 5 = 0
        UNION ALL
        SELECT 'test.shop.av_' || CAST(k AS VARCHAR), unique_id, 'c2', 'accepted_values'
        FROM m0 WHERE k % 7 = 0 AND k % 4 >= 1),
    medges AS MATERIALIZED (
        SELECT 'source.raw.src_' || CAST(k AS VARCHAR) AS parent_id, unique_id AS child_id
        FROM m0 WHERE k % 3 = 0
        UNION ALL
        SELECT m.unique_id, q.unique_id
        FROM m0 m JOIN m0 q ON q.k = m.k + 1
        WHERE m.k % 3 IN (0, 1)
        UNION ALL
        SELECT unique_id, 'exposure.shop.e_' || CAST(k AS VARCHAR)
        FROM m0 WHERE k % 9 = 2),
    deg AS MATERIALIZED (
        SELECT m.unique_id,
               COALESCE(u.c, 0) AS upstream_count,
               COALESCE(d.c, 0) AS downstream_count,
               COALESCE(u.c, 0) + COALESCE(d.c, 0) AS degree
        FROM m0 m
        LEFT JOIN (SELECT child_id, COUNT(*) AS c FROM medges GROUP BY 1) u
               ON m.unique_id = u.child_id
        LEFT JOIN (SELECT parent_id, COUNT(*) AS c FROM medges GROUP BY 1) d
               ON m.unique_id = d.parent_id),
    models AS MATERIALIZED (
        SELECT m.*, d.upstream_count, d.downstream_count,
               CASE WHEN (SELECT MAX(degree) FROM deg) > 0
                    THEN CAST(d.degree AS DOUBLE) / (SELECT MAX(degree) FROM deg)
                    ELSE 0.0 END AS centrality
        FROM m0 m JOIN deg d ON m.unique_id = d.unique_id)
"""

_CACHE: dict = {}


def synthetic_index(spark: SparkSession, sf_dir: str):
    """Build the AriadneIndex for the derived corpus (memoized per
    (session, sf_dir) — the driver runs many queries in one process)."""
    key = (id(spark.sparkContext), sf_dir)
    if key in _CACHE:
        return _CACHE[key]

    from ariadne_dbt_spark import schemas
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex

    part = spark.read.parquet(table_path(sf_dir, "part"))
    k = F.col("p_partkey")
    ks = k.cast("string")
    layer = (
        F.when(k % 3 == 0, "staging")
        .when(k % 3 == 1, "intermediate")
        .otherwise("marts")
    )
    m0 = part.select(
        k.alias("k"),
        F.concat(F.lit("model.shop.m_"), ks).alias("unique_id"),
        F.concat(F.lit("m_"), ks).alias("name"),
        layer.alias("layer"),
        F.when(k % 4 == 0, "table").otherwise("view").alias("materialization"),
        F.col("p_name").alias("description"),
        F.concat(F.lit("models/"), layer, F.lit("/m_"), ks, F.lit(".sql")).alias("file_path"),
        F.when(k % 6 == 0, "select cents_to_dollars(1) as c0")
        .otherwise("select 1 as c0")
        .alias("raw_code"),
        F.array(F.col("p_brand")).alias("tags"),
    )

    def empty(schema):
        return spark.createDataFrame([], schema)

    models = m0.select(
        "unique_id",
        "name",
        F.array(F.lit("shop"), F.col("layer"), F.col("name")).alias("fqn"),
        F.lit("shop").alias("package_name"),
        F.lit("dev").alias("database"),
        F.lit("analytics").alias("db_schema"),
        F.col("name").alias("alias"),
        "file_path",
        "raw_code",
        F.lit("").alias("compiled_code"),
        F.lit("sql").alias("language"),
        "description",
        "layer",
        "materialization",
        "tags",
        F.create_map().cast("map<string,string>").alias("meta"),
        F.create_map().cast("map<string,string>").alias("config"),
        F.array().cast("array<string>").alias("depends_on_nodes"),
        F.array().cast("array<string>").alias("refs"),
        F.array().cast("array<string>").alias("sources"),
        F.lit(None).cast("long").alias("row_count"),
        F.lit(None).cast("long").alias("bytes"),
        F.lit(None).cast("string").alias("last_modified"),
        F.lit(0).alias("upstream_count"),
        F.lit(0).alias("downstream_count"),
        F.lit(0.0).alias("centrality"),
    )
    kk = F.col("k")
    columns = (
        m0.select(
            "unique_id",
            "k",
            F.explode(F.sequence(F.lit(0).cast("long"), (kk % 4) + 1)).alias("i"),
        )
        .select(
            F.col("unique_id").alias("model_id"),
            F.concat(F.lit("c"), F.col("i").cast("string")).alias("name"),
            F.when((F.col("k") + F.col("i")) % 3 == 0, "bigint")
            .when((F.col("k") + F.col("i")) % 3 == 1, "varchar")
            .otherwise("double")
            .alias("data_type"),
            F.lit("").alias("description"),
            F.create_map().cast("map<string,string>").alias("meta"),
            F.array().cast("array<string>").alias("tags"),
            F.lit(False).alias("is_primary_key"),
            F.lit(False).alias("is_foreign_key"),
        )
    )

    def mk_tests(cond, prefix, column, ttype):
        return m0.where(cond).select(
            F.concat(F.lit(f"test.shop.{prefix}_"), F.col("k").cast("string")).alias("unique_id"),
            F.concat(F.lit(f"{prefix}_"), F.col("name")).alias("name"),
            F.lit(ttype).alias("test_type"),
            F.col("unique_id").alias("model_id"),
            F.lit(column).alias("column_name"),
            F.array(F.col("unique_id")).alias("depends_on"),
            F.lit("ERROR").alias("severity"),
            F.lit("{}").alias("test_kwargs"),
            F.lit(None).cast("string").alias("last_status"),
            F.lit(None).cast("double").alias("last_execution_time"),
            F.lit(None).cast("int").alias("last_failures"),
        )

    tests = (
        mk_tests(kk % 2 == 0, "nn", "c0", "not_null")
        .unionByName(mk_tests(kk % 4 == 0, "uq", "c0", "unique"))
        .unionByName(mk_tests(kk % 5 == 0, "rel", "c1", "relationships"))
        .unionByName(mk_tests((kk % 7 == 0) & (kk % 4 >= 1), "av", "c2", "accepted_values"))
    )
    sources = m0.where(kk % 3 == 0).select(
        F.concat(F.lit("source.raw.src_"), F.col("k").cast("string")).alias("unique_id"),
        F.concat(F.lit("src_"), F.col("k").cast("string")).alias("name"),
        F.lit("raw").alias("source_name"),
        F.lit("raw").alias("schema_name"),
        F.lit("dev").alias("database"),
        F.concat(F.lit("src_"), F.col("k").cast("string")).alias("identifier"),
        F.lit("").alias("description"),
        F.lit("").alias("loader"),
        F.lit(None).cast("int").alias("freshness_warn_count"),
        F.lit(None).cast("string").alias("freshness_warn_period"),
        F.lit(None).cast("int").alias("freshness_error_count"),
        F.lit(None).cast("string").alias("freshness_error_period"),
        F.array().cast("array<string>").alias("tags"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    exposures = m0.where(kk % 9 == 2).select(
        F.concat(F.lit("exposure.shop.e_"), F.col("k").cast("string")).alias("unique_id"),
        F.concat(F.lit("e_"), F.col("k").cast("string")).alias("name"),
        F.lit("").alias("label"),
        F.lit("dashboard").alias("exposure_type"),
        F.lit("").alias("url"),
        F.lit("").alias("description"),
        F.lit("").alias("owner_name"),
        F.lit("").alias("owner_email"),
        F.array(F.col("unique_id")).alias("depends_on"),
        F.array().cast("array<string>").alias("tags"),
    )
    macros = spark.createDataFrame(
        [
            {
                "unique_id": "macro.shop.cents_to_dollars",
                "name": "cents_to_dollars",
                "package_name": "shop",
                "file_path": "macros/cents_to_dollars.sql",
                "description": "",
                "arguments": [],
                "macro_sql": "(x / 100.0)",
            }
        ],
        schemas.MACROS,
    )
    src_edge = m0.where(kk % 3 == 0).select(
        F.concat(F.lit("source.raw.src_"), F.col("k").cast("string")).alias("parent_id"),
        F.col("unique_id").alias("child_id"),
    )
    next_m = m0.select(F.col("k").alias("k2"), F.col("unique_id").alias("next_id"))
    chain_edge = (
        m0.where(kk % 3 < 2)
        .join(next_m, m0.k + 1 == next_m.k2)
        .select(F.col("unique_id").alias("parent_id"), F.col("next_id").alias("child_id"))
    )
    exp_edge = m0.where(kk % 9 == 2).select(
        F.col("unique_id").alias("parent_id"),
        F.concat(F.lit("exposure.shop.e_"), F.col("k").cast("string")).alias("child_id"),
    )
    edges = src_edge.unionByName(chain_edge).unionByName(exp_edge)

    idx = AriadneIndex(
        spark=spark,
        models=models,
        columns=columns,
        sources=sources,
        source_columns=empty(schemas.SOURCE_COLUMNS),
        tests=tests,
        macros=macros,
        exposures=exposures,
        edges=edges,
        index_metadata=empty(schemas.METADATA),
        postings=empty("unique_id string, field string, term string, tf long"),
        docstats=empty("unique_id string, field string, dl long"),
    )
    idx._compute_degrees()
    idx._compute_pk_fk()
    idx._build_postings()
    idx.cache()
    _CACHE[key] = idx
    return idx
