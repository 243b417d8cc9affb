"""Full-text search workloads (SURVEY §2.7) over the `documents` table,
exercising the engine's posting-list + BM25 pipeline
(ariadne_dbt_spark.operators.search) against a from-first-principles SQL
oracle that re-derives the same Okapi BM25 formula.

Float caveat: BM25 involves ln() and float sums, so scores are rounded to
4 decimals on both sides; doc identity and rank order are the real
contract (reference validates rank-order vs FTS5 too, SURVEY §7).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ariadne_dbt_spark.functions.text import STOPWORDS
from ariadne_dbt_spark.operators.search import bm25, build_postings
from ariadne_dbt_spark.session import table_path
from ariadne_dbt_spark.workloads import query

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

# tokenizer pipeline shared by every oracle here (mirror of functions.text.tokenize)
_TOKENS_CTE = f"""
    toks AS (
        SELECT doc_id,
               unnest(string_split_regex(
                   regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+')) AS term
        FROM documents
    ),
    terms AS (
        SELECT doc_id, term FROM toks
        WHERE length(term) >= 2 AND term NOT IN ({_STOP_SQL})
    )
"""


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(table_path(sf_dir, "documents"))


# -- persisted posting index --------------------------------------------------
# The engine serves BM25 from a PERSISTED index (ingest/indexer.py:230
# builds it once; local_cache.py:86 snapshots it) — queries never re-scan
# the corpus. The bench mirrors that: `bm25_index_build` pays the build
# once, `bm25_search` reads the parquet postings (term-filtered scan →
# predicate pushdown) and scores. Cache key = corpus path + mtime, so a
# regenerated testdata dir invalidates automatically.


def _bm25_index_dir(sf_dir: str) -> str:
    docs_path = table_path(sf_dir, "documents")
    mtime = int(os.path.getmtime(docs_path))
    # v3: index carries a lexicon (per-term df/ttf) beside the postings
    key = hashlib.md5(f"{docs_path}:{mtime}:v3".encode()).hexdigest()[:12]
    return os.path.join(_REPO, ".tmp", f"bm25_index_{key}")


def _parquet_num_rows(path: str) -> int:
    """Exact row count from parquet footers (single file OR directory
    dataset) — the shared driver-metadata walker in epoch_store."""
    from ariadne_dbt_spark.operators.epoch_store import _parquet_rows_total

    return _parquet_rows_total(path)


def build_bm25_index(spark: SparkSession, sf_dir: str, *, force: bool = False) -> str:
    """Build + persist the documents posting index; returns its dir.
    Postings are hash-distributed by term before the write so a query
    term's postings cluster into few files (the local stand-in for
    partition-by-term at cluster scale)."""
    out = _bm25_index_dir(sf_dir)
    done = os.path.join(out, "_BUILT")
    if not force and os.path.exists(done):
        return out
    docs = documents(spark, sf_dir)
    fields = ["text"]
    postings, _ = build_postings(
        docs, "doc_id", dict.fromkeys(fields, "text"),
        repartition_to=spark.sparkContext.defaultParallelism,
    )
    # n_docs from the parquet FOOTERS (round 10, multi-file-safe round
    # 11): documents() is a plain single-table read, so metadata
    # num_rows is exact and the old .count() paid a full corpus-scan
    # job per build for it
    n_docs = _parquet_num_rows(table_path(sf_dir, "documents"))
    # 8 term-hashed files: enough parallelism for the query-side scan at
    # this corpus scale while keeping listing/footer overhead low (at
    # cluster scale this becomes partitionBy/bucketBy on term ranges)
    postings.repartition(8, F.col("term")).write.mode("overwrite").parquet(
        os.path.join(out, "postings")
    )
    # docstats = sum(tf) over the postings JUST WRITTEN (one tiny job;
    # recomputing from the un-cached plan would tokenize the corpus a
    # second time). The per-field avgdl index metadata rides ON the same
    # write via DataFrame.observe (round 10) — the old cache + separate
    # avg().collect() action is gone. dl totals are integer sums far
    # below 2^53, so sum/count division here is bit-identical to
    # Spark's AVG over the same rows.
    from pyspark.sql import Observation

    from ariadne_dbt_spark.operators.table_store import _counts_via_observe

    obs = Observation() if _counts_via_observe(spark) else None
    written = spark.read.parquet(os.path.join(out, "postings"))
    docstats = written.groupBy("unique_id", "field").agg(F.sum("tf").alias("dl"))
    aggs = []
    for f_ in fields:
        aggs.append(F.sum(F.when(F.col("field") == f_, F.col("dl"))).alias(f"_s_{f_}"))
        aggs.append(
            F.sum(F.when(F.col("field") == f_, 1).otherwise(0)).alias(f"_c_{f_}")
        )

    def _write_docstats() -> None:
        # avgdl rides the write as CollectMetrics only when speculation
        # is off — duplicate successful attempts would skew the sums
        # (same rule as table_store's DML counts); with speculation on,
        # a dedicated aggregate job below recomputes them exactly
        d = docstats if obs is None else docstats.observe(obs, *aggs)
        d.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, "docstats")
        )

    # lexicon = per-(field, term) document frequency + total term
    # frequency (round 11): df is a corpus constant exactly like avgdl,
    # and persisting it is where an inverted index classically keeps it
    # — every query previously re-aggregated df from a second postings
    # scan (two exchanges per search). COUNT suffices for df because
    # postings are unique per (unique_id, field, term) by construction.
    lexicon = written.groupBy("field", "term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf")
    )

    def _write_lexicon() -> None:
        lexicon.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, "lexicon")
        )

    # the two stats jobs are independent reads of the written postings:
    # submit them concurrently so the second back-fills the first's
    # straggler tail (guide §2.6); job groups and descriptions are
    # thread-local, so each job is handed the caller's
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(inherit(f)) for f in (_write_docstats, _write_lexicon)]
        for fut in futs:
            fut.result()
    if obs is not None:
        m = obs.get
    else:  # speculation on: exact recompute over the written docstats
        m = (
            spark.read.parquet(os.path.join(out, "docstats")).agg(*aggs).collect()[0]
        )
    avgdl = {
        f_: (m[f"_s_{f_}"] / m[f"_c_{f_}"]) for f_ in fields if m[f"_c_{f_}"]
    }
    with open(done, "w") as f:
        json.dump({"n_docs": n_docs, "avgdl": avgdl}, f)
    return out


def read_bm25_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int, dict[str, float], DataFrame]:
    """(postings, docstats, n_docs, avgdl_by_field, lexicon) from the
    persisted index, building it first if absent. The lexicon carries
    per-(field, term) df/ttf so queries never re-derive corpus stats."""
    out = build_bm25_index(spark, sf_dir)
    with open(os.path.join(out, "_BUILT")) as f:
        meta = json.load(f)
    return (
        spark.read.parquet(os.path.join(out, "postings")),
        spark.read.parquet(os.path.join(out, "docstats")),
        int(meta["n_docs"]),
        meta["avgdl"],
        spark.read.parquet(os.path.join(out, "lexicon")),
    )


# T1/S6/A8: tokenize → posting build → global term frequencies, top-k.
@query(
    "term_frequency_topk",
    oracle=f"""
    WITH {_TOKENS_CTE}
    SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM terms GROUP BY term
    ORDER BY tf DESC, term LIMIT 15
    """,
    survey="T1,S6,A8",
)
def term_frequency_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    postings, _ = build_postings(
        docs, "doc_id", {"text": "text"},
        repartition_to=spark.sparkContext.defaultParallelism,
    )
    return (
        postings.groupBy("term")
        .agg(F.sum("tf").alias("tf"), F.countDistinct("unique_id").alias("df"))
        .orderBy(F.desc("tf"), "term")
        .limit(15)
    )


# S6: the index build itself, timed separately from querying (the engine
# persists postings at ingest; benching build+query as one number hid the
# serving-path cost — round-2 verdict item 3).
@query(
    "bm25_index_build",
    oracle=f"""
    WITH {_TOKENS_CTE},
    postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2)
    SELECT COUNT(*) AS n_postings,
           COUNT(DISTINCT term) AS n_terms,
           COUNT(DISTINCT doc_id) AS n_docs_indexed,
           CAST(SUM(tf) AS BIGINT) AS total_tf
    FROM postings
    """,
    survey="S6,T9",
    doc="Full posting-index build over documents, persisted to parquet "
    "(term-clustered); returns index-level invariants.",
)
def bm25_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    build_bm25_index(spark, sf_dir, force=True)
    postings, _, _, _, _ = read_bm25_index(spark, sf_dir)
    # invariants over the postings themselves (a lexicon/docstats-
    # marginal rewrite was A/B'd in round 11: bit-identical values but
    # 2 jobs → 4 — the two tiny sub-aggregates each pay a job, so the
    # smaller scan LOST to per-job overhead at bench scale; reverted)
    return postings.agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.countDistinct("term").alias("n_terms"),
        F.countDistinct("unique_id").alias("n_docs_indexed"),
        F.sum("tf").cast("bigint").alias("total_tf"),
    )


# T2-T3: Okapi BM25 (k1=1.2, b=0.75, Lucene idf) over the PERSISTED
# posting lists — query cost only, the way the engine serves.
@query(
    "bm25_search",
    oracle=f"""
    WITH {_TOKENS_CTE},
    postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    docstats AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
    stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                     (SELECT AVG(dl) FROM docstats) AS avgdl),
    qterms(term) AS (VALUES ('spark'), ('vector'), ('stream')),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings
              WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
    scored AS (
        SELECT p.doc_id,
               SUM( ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                    * p.tf * (1.2 + 1.0)
                    / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) ) AS raw
        FROM postings p
        JOIN dfreq f ON p.term = f.term
        JOIN docstats d ON p.doc_id = d.doc_id
        CROSS JOIN stats s
        GROUP BY p.doc_id
    )
    SELECT doc_id, ROUND(raw, 4) AS bm25_score
    FROM scored ORDER BY raw DESC, doc_id LIMIT 20
    """,
    survey="T2,T3,O1",
    doc="BM25 top-20 for query 'spark vector stream'.",
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    postings, docstats, n_docs, avgdl, lexicon = read_bm25_index(spark, sf_dir)
    # bm25() filters terms via isin → pushed to the parquet scan; the
    # persisted avgdl + lexicon stats keep the query free of
    # corpus-stats aggregation (df joins from the build-time lexicon)
    scored = bm25(
        postings, docstats, n_docs, "spark vector stream",
        field_weights={"text": 1.0}, avgdl_by_field=avgdl, dfreq=lexicon,
    )
    # cast BEFORE the top-k: the oracle tie-breaks (raw DESC, doc_id
    # BIGINT); a string unique_id orders '100' < '99' on exact ties
    return (
        scored.select(
            F.col("unique_id").cast("bigint").alias("doc_id"), "bm25_score"
        )
        .orderBy(F.desc("bm25_score"), "doc_id")
        .limit(20)
        .select("doc_id", F.round("bm25_score", 4).alias("bm25_score"))
    )


# T2: Porter stemming parity. The documents vocabulary is a fixed
# 29-token set at every SF, so the oracle carries the complete
# (token → porter stem) mapping inline; the Spark side runs the real
# stemmer (functions/porter.py). Any engine/oracle stem divergence on
# any token flips the row values; a corpus token MISSING from the map
# surfaces loudly as a '<<unmapped>>' stem row naming the token (LEFT
# JOIN sentinel, not a silent inner-join drop).
_STEM_MAP_SQL = """
    stem_map(term, stem) AS (VALUES
        ('agg','agg'), ('batch','batch'), ('big','big'), ('column','column'),
        ('customer','custom'), ('data','data'), ('dup','dup'), ('fast','fast'),
        ('filter','filter'), ('group','group'), ('hash','hash'), ('join','join'),
        ('key','kei'), ('line','line'), ('merge','merg'), ('order','order'),
        ('part','part'), ('query','queri'), ('row','row'), ('scan','scan'),
        ('slow','slow'), ('small','small'), ('sort','sort'), ('spark','spark'),
        ('stream','stream'), ('table','tabl'), ('value','valu'),
        ('vector','vector'), ('window','window'))
"""


@query(
    "porter_stem_tokens",
    oracle=f"""
    WITH {_TOKENS_CTE},
    {_STEM_MAP_SQL}
    SELECT t.term, COALESCE(m.stem, '<<unmapped>>') AS stem, COUNT(*) AS tf
    FROM terms t LEFT JOIN stem_map m ON t.term = m.term
    GROUP BY 1, 2
    ORDER BY t.term
    """,
    survey="T2",
    doc="Porter stemmer parity over the full corpus vocabulary: the "
    "engine stems with functions/porter.py (pandas UDF), the oracle "
    "joins the inline published-algorithm mapping.",
)
def porter_stem_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.functions.porter import stem_array_udf
    from ariadne_dbt_spark.functions.text import tokenize

    docs = documents(spark, sf_dir)
    tokked = docs.select(tokenize("text").alias("toks")).withColumn(
        "stems", stem_array_udf()(F.col("toks"))
    )
    pairs = tokked.select(F.explode(F.arrays_zip("toks", "stems")).alias("p")).select(
        F.col("p.toks").alias("term"), F.col("p.stems").alias("stem")
    )
    return (
        pairs.groupBy("term", "stem")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy("term")
    )


@query(
    "bm25_stemmed_search",
    oracle=f"""
    WITH {_TOKENS_CTE},
    {_STEM_MAP_SQL},
    sterms AS (SELECT t.doc_id, m.stem AS term FROM terms t
               JOIN stem_map m ON t.term = m.term),
    postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM sterms GROUP BY 1, 2),
    docstats AS (SELECT doc_id, COUNT(*) AS dl FROM sterms GROUP BY 1),
    stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                     (SELECT AVG(dl) FROM docstats) AS avgdl),
    qterms(term) AS (VALUES ('custom'), ('order'), ('stream')),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings
              WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
    scored AS (
        SELECT p.doc_id,
               SUM( ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                    * p.tf * (1.2 + 1.0)
                    / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) ) AS raw
        FROM postings p
        JOIN dfreq f ON p.term = f.term
        JOIN docstats d ON p.doc_id = d.doc_id
        CROSS JOIN stats s
        GROUP BY p.doc_id
    )
    SELECT doc_id, ROUND(raw, 4) AS bm25_score
    FROM scored ORDER BY raw DESC, doc_id LIMIT 20
    """,
    survey="T2,T3,O1",
    doc="BM25 over Porter-stemmed postings for the morphological query "
    "'customers ordering streams' — variants hit the base-form docs "
    "(the oracle stems via the inline mapping).",
)
def bm25_stemmed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    postings, docstats = build_postings(
        docs, "doc_id", {"text": "text"}, stem=True
    )
    n_docs = docs.count()
    scored = bm25(
        postings,
        docstats,
        n_docs,
        "customers ordering streams",
        field_weights={"text": 1.0},
        stem_query=True,
    )
    # cast BEFORE the top-k: the oracle tie-breaks (raw DESC, doc_id
    # BIGINT); a string unique_id orders '100' < '99' on exact ties
    return (
        scored.select(
            F.col("unique_id").cast("bigint").alias("doc_id"), "bm25_score"
        )
        .orderBy(F.desc("bm25_score"), "doc_id")
        .limit(20)
        .select("doc_id", F.round("bm25_score", 4).alias("bm25_score"))
    )


# T4/T10: LIKE fallback search — contains() filter, constant score,
# ranked by a centrality proxy, descriptions truncated.
@query(
    "like_fallback_search",
    oracle="""
    SELECT doc_id, CAST(0.5 AS DOUBLE) AS score, substring(text, 1, 80) AS snippet
    FROM documents
    WHERE text LIKE '%vector%' AND lang = 'en'
    ORDER BY n_chars DESC, doc_id LIMIT 10
    """,
    survey="T4,T10,P5",
)
def like_fallback_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    # ranked by document length as the centrality proxy (reference ranks
    # LIKE-fallback hits by centrality, search.py:140-143)
    return (
        docs.where(F.col("text").like("%vector%") & (F.col("lang") == "en"))
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            F.lit(0.5).alias("score"),
            F.substring("text", 1, 80).alias("snippet"),
        )
    )


# T9: SQL-truncation-at-2000 semantics, hash-verified per doc. Documents
# are 44-577 chars, so repeat(text, 8) spans both sides of the cap —
# truncation genuinely fires for the long tail and is a no-op for the
# short one, and both the stored length and a truncated flag become
# oracle-hashed data (the engine side runs the SAME truncate_sql the
# manifest indexer's posting build uses, functions/text.py).
@query(
    "sql_truncation_guard",
    oracle="""
    SELECT doc_id,
           CAST(length(repeat(text, 8)) AS BIGINT) AS orig_len,
           CAST(LEAST(length(repeat(text, 8)), 2000) AS BIGINT) AS stored_len,
           length(repeat(text, 8)) > 2000 AS truncated
    FROM documents
    ORDER BY doc_id
    """,
    survey="T9",
    doc="Index-side SQL truncation to 2000 chars (reference: "
    "indexer.py:475-476), exercised through the shared truncate_sql "
    "helper the real posting build uses.",
)
def sql_truncation_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.functions.text import truncate_sql

    docs = documents(spark, sf_dir)
    sql_col = F.repeat(F.col("text"), 8)
    return (
        docs.select(
            "doc_id",
            F.length(sql_col).cast("bigint").alias("orig_len"),
            F.length(truncate_sql(sql_col)).cast("bigint").alias("stored_len"),
            (F.length(sql_col) > 2000).alias("truncated"),
        )
        .orderBy("doc_id")
    )


# -- incremental index maintenance (S6/E5): upsert + delete + serve ----------
# The reference refreshes its FTS by DELETE + full re-INSERT
# (indexer.py:472-485). The versioned index (operators/search_index.py)
# applies an upsert batch and a delete set as O(batch) log appends and
# serves BM25 from the merged view; the oracle recomputes BM25 from
# scratch over the POST-CHURN corpus, so this row proves the incremental
# path is result-identical to a full rebuild — stats deltas included.
_CHURN_CORPUS_CTE = """
    corpus AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 3
                    THEN text || ' spark stream vector stream'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 11 <> 5
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, 'spark stream ' || text AS text
        FROM documents WHERE doc_id % 13 = 0
    )
"""


@query(
    "bm25_incremental_upsert",
    oracle=f"""
    WITH {_CHURN_CORPUS_CTE},
    toks AS (
        SELECT doc_id,
               unnest(string_split_regex(
                   regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+')) AS term
        FROM corpus
    ),
    terms AS (
        SELECT doc_id, term FROM toks
        WHERE length(term) >= 2 AND term NOT IN ({_STOP_SQL})
    ),
    postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    docstats AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
    stats AS (SELECT (SELECT COUNT(*) FROM corpus) AS n_docs,
                     (SELECT AVG(dl) FROM docstats) AS avgdl),
    qterms(term) AS (VALUES ('spark'), ('vector'), ('stream')),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings
              WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
    scored AS (
        SELECT p.doc_id,
               SUM( ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                    * p.tf * (1.2 + 1.0)
                    / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) ) AS raw
        FROM postings p
        JOIN dfreq f ON p.term = f.term
        JOIN docstats d ON p.doc_id = d.doc_id
        CROSS JOIN stats s
        GROUP BY p.doc_id
    )
    SELECT doc_id, ROUND(raw, 4) AS bm25_score
    FROM scored ORDER BY raw DESC, doc_id LIMIT 20
    """,
    survey="S6,E5,T3",
    doc="Incremental index maintenance: upsert a churn batch (modified + "
    "new docs) and tombstone-delete a third set against the versioned "
    "postings index, then serve BM25 top-20 from the merged view; the "
    "oracle rebuilds from scratch over the post-churn corpus, proving "
    "upsert/delete/stats deltas are rebuild-identical.",
)
def bm25_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ariadne_dbt_spark.operators.search_index import (
        build_search_index,
        delete_from_search_index,
        read_search_index,
        upsert_search_index,
    )

    docs = documents(spark, sf_dir)
    # pid-keyed so two gate processes can't rmtree each other mid-read
    idx = os.path.join(_REPO, ".tmp", f"search_index_incr_{os.getpid()}")
    shutil.rmtree(idx, ignore_errors=True)
    build_search_index(docs, "doc_id", {"text": "text"}, idx)
    did = F.col("doc_id")
    batch = docs.where(did % 7 == 3).select(
        "doc_id", F.concat("text", F.lit(" spark stream vector stream")).alias("text")
    ).unionByName(
        docs.where(did % 13 == 0).select(
            (did + 1000000).alias("doc_id"),
            F.concat(F.lit("spark stream "), F.col("text")).alias("text"),
        )
    )
    upsert_search_index(spark, idx, batch, "doc_id", {"text": "text"})
    delete_from_search_index(
        spark, idx, docs.where(did % 11 == 5).select("doc_id")
    )
    postings, docstats, n_docs, avgdl = read_search_index(spark, idx)
    scored = bm25(
        postings, docstats, n_docs, "spark vector stream",
        field_weights={"text": 1.0}, avgdl_by_field=avgdl,
    )
    return (
        scored.select(
            F.col("unique_id").cast("bigint").alias("doc_id"), "bm25_score"
        )
        .orderBy(F.desc("bm25_score"), "doc_id")
        .limit(20)
        .select("doc_id", F.round("bm25_score", 4).alias("bm25_score"))
    )


# T1/T4/O1 extension: exact phrase queries over positional postings —
# beyond the reference's OR-of-terms MATCH surface (search.py:24-35);
# FTS5 itself keeps positions for phrases, and so do we.
@query(
    "phrase_search_hits",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                   regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+'),
                   t -> length(t) >= 1) AS ts
        FROM documents
    ),
    counted AS (
        SELECT doc_id,
               CAST(COALESCE(list_sum(list_transform(
                   range(1, CASE WHEN len(ts) >= 2 THEN len(ts) ELSE 1 END),
                   i -> CASE WHEN ts[i] = 'spark' AND ts[i+1] = 'stream'
                        THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_hits
        FROM toks
    )
    SELECT doc_id, n_hits FROM counted WHERE n_hits > 0
    ORDER BY n_hits DESC, doc_id
    """,
    survey="T1,T4,O1",
    doc="Exact phrase query 'spark stream' via positional postings "
    "(token-level adjacency join; overlapping occurrences counted), "
    "verified against a full token-array rescan.",
)
def phrase_search_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.search import phrase_hits, positional_postings

    pos = positional_postings(documents(spark, sf_dir), "doc_id", "text")
    return (
        phrase_hits(pos, ["spark", "stream"])
        .select(F.col("unique_id").alias("doc_id"), "n_hits")
        .orderBy(F.desc("n_hits"), "doc_id")
    )


# T4/A3/A4 extension: faceted search — term-filtered hits with facet
# counts over (lang), (source), (lang, source) and the grand total in ONE
# grouping-sets pass (no per-facet rescans; at scale: one shuffle).
@query(
    "faceted_search_counts",
    oracle="""
    WITH hits AS (
        SELECT doc_id, lang, source FROM documents
        WHERE list_contains(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+'), 'vector')
    )
    SELECT COALESCE(lang, '<all>') AS lang,
           COALESCE(source, '<all>') AS source,
           COUNT(*) AS n_docs
    FROM hits
    GROUP BY GROUPING SETS ((lang), (source), (lang, source), ())
    ORDER BY lang, source
    """,
    survey="T4,A3,A4",
    doc="Faceted search: docs matching term 'vector', facet counts by "
    "lang / source / both / total via one GROUPING SETS aggregation.",
)
def faceted_search_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.functions.text import tokenize

    docs = documents(spark, sf_dir)
    hits = docs.where(
        F.array_contains(tokenize("text", min_len=1, stop=False), "vector")
    ).select("doc_id", "lang", "source")
    hits.createOrReplaceTempView("facet_hits")
    return spark.sql(
        """
        SELECT COALESCE(lang, '<all>') AS lang,
               COALESCE(source, '<all>') AS source,
               COUNT(*) AS n_docs
        FROM facet_hits
        GROUP BY GROUPING SETS ((lang), (source), (lang, source), ())
        ORDER BY lang, source
        """
    )


# §2.11/S6 streaming: the FTS index maintained BY A REAL STREAM (one
# upsert per micro-batch file) must serve BM25 identical to a batch
# rebuild over everything ingested — arrival-order independent because
# batch ids are disjoint and the stats deltas are exact integers.
@query(
    "stream_search_index_bm25",
    oracle=f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    toks AS (
        SELECT doc_id,
               unnest(string_split_regex(
                   regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+')) AS term
        FROM corpus
    ),
    terms AS (
        SELECT doc_id, term FROM toks
        WHERE length(term) >= 2 AND term NOT IN ({_STOP_SQL})
    ),
    postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    docstats AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
    stats AS (SELECT (SELECT COUNT(*) FROM corpus) AS n_docs,
                     (SELECT AVG(dl) FROM docstats) AS avgdl),
    qterms(term) AS (VALUES ('spark'), ('vector'), ('stream')),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings
              WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
    scored AS (
        SELECT p.doc_id,
               SUM( ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                    * p.tf * (1.2 + 1.0)
                    / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) ) AS raw
        FROM postings p
        JOIN dfreq f ON p.term = f.term
        JOIN docstats d ON p.doc_id = d.doc_id
        CROSS JOIN stats s
        GROUP BY p.doc_id
    )
    SELECT doc_id, ROUND(raw, 4) AS bm25_score
    FROM scored ORDER BY raw DESC, doc_id LIMIT 20
    """,
    survey="S6,E5,streaming-index-upsert",
    doc="Streaming FTS maintenance driven as a REAL stream (3 micro-"
    "batch files, one versioned-index upsert each): BM25 served from "
    "the streamed-built index equals a from-scratch SQL rebuild over "
    "everything ingested — O(batch) per refresh vs the reference's "
    "wholesale FTS rebuild.",
)
def stream_search_index_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    import pandas as pd

    from ariadne_dbt_spark.operators.search_index import read_search_index
    from ariadne_dbt_spark.streaming.search_stream import search_index_ingest_stream

    docs = documents(spark, sf_dir).where(F.col("doc_id") % 5 == 0).select(
        "doc_id", "text"
    )
    work = tempfile.mkdtemp(prefix="ariadne_search_stream_")
    try:
        src = os.path.join(work, "src")
        idx = os.path.join(work, "idx")
        docs.repartition(3).write.parquet(src)
        search_index_ingest_stream(spark, src, idx)
        postings, docstats, n_docs, avgdl = read_search_index(spark, idx)
        scored = bm25(
            postings, docstats, n_docs, "spark vector stream",
            field_weights={"text": 1.0}, avgdl_by_field=avgdl,
        )
        top = (
            scored.select(
                F.col("unique_id").cast("bigint").alias("doc_id"), "bm25_score"
            )
            .orderBy(F.desc("bm25_score"), "doc_id")
            .limit(20)
            .select("doc_id", F.round("bm25_score", 4).alias("bm25_score"))
        )
        # LocalRelation: the temp index is deleted below, the returned
        # frame must not re-read it
        return spark.createDataFrame(
            top.toPandas(), "doc_id bigint, bm25_score double"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


# RAG-stack serving composition: sparse (BM25) and dense (cosine)
# retrieval fused by reciprocal-rank fusion (Cormack et al. 2009,
# k=60) — the standard hybrid-retrieval recipe. Ranks are integers
# with deterministic tie-breaks, so the fused score is two exact
# reciprocals; both engines order by the identical raw double.
@query(
    "rrf_hybrid_retrieval",
    oracle=f"""
    WITH {_TOKENS_CTE},
    postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    docstats AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
    stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                     (SELECT AVG(dl) FROM docstats) AS avgdl),
    qterms(term) AS (VALUES ('spark'), ('vector'), ('stream')),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings
              WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
    bm AS (
        SELECT p.doc_id,
               SUM( ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                    * p.tf * (1.2 + 1.0)
                    / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) ) AS raw
        FROM postings p
        JOIN dfreq f ON p.term = f.term
        JOIN docstats d ON p.doc_id = d.doc_id
        CROSS JOIN stats s
        GROUP BY p.doc_id
    ),
    bm_r AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id) AS r
        FROM bm QUALIFY r <= 50
    ),
    cos AS (
        SELECT b.vec_id AS doc_id,
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cs
        FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id <> 0
    ),
    cos_r AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id) AS r
        FROM cos QUALIFY r <= 50
    ),
    fused AS (
        SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
               COALESCE(1.0 / (60 + b.r), 0.0) + COALESCE(1.0 / (60 + c.r), 0.0) AS score
        FROM bm_r b FULL OUTER JOIN cos_r c ON b.doc_id = c.doc_id
    )
    SELECT doc_id, ROUND(score, 6) AS rrf_score
    FROM fused ORDER BY score DESC, doc_id LIMIT 15
    """,
    survey="T3,T6,O1,similarity-bruteforce",
    doc="Hybrid retrieval: BM25 top-50 ('spark vector stream') fused "
    "with dense cosine top-50 (query = vec 0) by reciprocal-rank "
    "fusion k=60 — the sparse+dense RAG serving stack, rank-exact on "
    "both legs.",
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ariadne_dbt_spark.operators.similarity import brute_force_topk

    postings, docstats, n_docs, avgdl, lexicon = read_bm25_index(spark, sf_dir)
    bm = bm25(
        postings, docstats, n_docs, "spark vector stream",
        field_weights={"text": 1.0}, avgdl_by_field=avgdl, dfreq=lexicon,
    ).select(F.col("unique_id").cast("bigint").alias("doc_id"), "bm25_score")
    # top-50 pre-cut FIRST (compiles to TakeOrderedAndProject — a
    # distributed partial top-k, no shuffle-everything), THEN the rank
    # window over the ≤50 survivors. Ranking the full candidate set with
    # an unpartitioned row_number would funnel every term-matched doc
    # into one partition — millions of rows at 100× with common terms.
    bm_top = bm.orderBy(F.desc("bm25_score"), "doc_id").limit(50)
    wb = Window.orderBy(F.desc("bm25_score"), "doc_id")
    bm_r = bm_top.select("doc_id", F.row_number().over(wb).alias("r_bm"))
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    cos = brute_force_topk(emb, qvec, k=50, exclude_self=0).select(
        F.col("vec_id").alias("doc_id"), "cos_sim"
    )
    wc = Window.orderBy(F.desc("cos_sim"), "doc_id")
    cos_r = cos.select("doc_id", F.row_number().over(wc).alias("r_cos"))
    fused = bm_r.join(cos_r, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (F.lit(60) + F.col("r_bm")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(60) + F.col("r_cos")), F.lit(0.0))
        ).alias("score"),
    )
    return (
        fused.orderBy(F.desc("score"), "doc_id")
        .limit(15)
        .select("doc_id", F.round("score", 6).alias("rrf_score"))
    )


# query-side spell correction: nearest vocabulary term by edit distance
# (tie-break: higher corpus tf, then term) — did-you-mean for the search
# surface, beyond FTS5's. The candidate join is QUERY x VOCAB: vocab is
# term-bounded (not corpus-bounded), so the cross join is tiny and the
# levenshtein runs JVM-codegen on it.
@query(
    "query_term_correction",
    oracle=f"""
    WITH {_TOKENS_CTE},
    tf AS (SELECT term, COUNT(*) AS tf FROM terms GROUP BY term),
    q(query_term) AS (VALUES ('spak'), ('vectr'), ('strem'), ('tabel')),
    cand AS (
        SELECT q.query_term, t.term AS corrected, levenshtein(q.query_term, t.term) AS dist, t.tf
        FROM q CROSS JOIN tf t
        WHERE levenshtein(q.query_term, t.term) <= 2
    ),
    best AS (
        SELECT query_term, corrected, dist, tf,
               ROW_NUMBER() OVER (PARTITION BY query_term
                                  ORDER BY dist, tf DESC, corrected) AS rn
        FROM cand
    )
    SELECT query_term, corrected, CAST(dist AS INTEGER) AS dist, tf
    FROM best WHERE rn = 1 ORDER BY query_term
    """,
    survey="T4,E3",
    doc="Did-you-mean query correction: nearest corpus-vocabulary term "
    "by levenshtein <= 2, ties to the higher-tf then lexicographic "
    "term — query x vocab join (vocabulary-bounded, never corpus-"
    "bounded).",
)
def query_term_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ariadne_dbt_spark.functions.text import tokenize

    docs = documents(spark, sf_dir)
    tf = (
        docs.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    q = spark.createDataFrame(
        [("spak",), ("vectr",), ("strem",), ("tabel",)], "query_term string"
    )
    cand = (
        q.crossJoin(F.broadcast(tf))
        .withColumn("dist", F.levenshtein("query_term", "term"))
        .where(F.col("dist") <= 2)
    )
    w = Window.partitionBy("query_term").orderBy("dist", F.desc("tf"), "term")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "query_term",
            F.col("term").alias("corrected"),
            F.col("dist").cast("int").alias("dist"),
            "tf",
        )
        .orderBy("query_term")
    )


# batch serving symmetry with batch ANN: the union of all queries'
# terms drives ONE pushed-down postings scan; a literal (query_id,
# term) frame fans matches per query; per-query top-k via a
# query-partitioned window (bounded, never global).
@query(
    "bm25_batch_search",
    oracle=f"""
    WITH {_TOKENS_CTE},
    postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    docstats AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
    stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                     (SELECT AVG(dl) FROM docstats) AS avgdl),
    qterms(query_id, term) AS (VALUES
        ('q1', 'spark'), ('q1', 'vector'), ('q1', 'stream'),
        ('q2', 'customer'), ('q2', 'table'), ('q2', 'join'),
        ('q3', 'window'), ('q3', 'sort'), ('q3', 'merge')),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings
              WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1),
    scored AS (
        SELECT q.query_id, p.doc_id,
               SUM( ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                    * p.tf * (1.2 + 1.0)
                    / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) ) AS raw
        FROM postings p
        JOIN qterms q ON p.term = q.term
        JOIN dfreq f ON p.term = f.term
        JOIN docstats d ON p.doc_id = d.doc_id
        CROSS JOIN stats s
        GROUP BY q.query_id, p.doc_id
    )
    SELECT query_id, doc_id, ROUND(raw, 4) AS bm25_score, rank
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY raw DESC, doc_id) AS rank
          FROM scored)
    WHERE rank <= 10 ORDER BY query_id, rank
    """,
    survey="T3,O1,S6",
    doc="Batch BM25: three queries served from ONE term-filtered "
    "postings scan (union-of-terms pushdown, per-query fan-out, "
    "query-partitioned top-10 windows) — the batch-serving symmetry "
    "of topk_per_query on the ANN side.",
)
def bm25_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.search import bm25_batch

    postings, docstats, n_docs, avgdl, lexicon = read_bm25_index(spark, sf_dir)
    out = bm25_batch(
        postings, docstats, n_docs,
        {
            "q1": "spark vector stream",
            "q2": "customer table join",
            "q3": "window sort merge",
        },
        field_weights={"text": 1.0},
        avgdl_by_field=avgdl,
        dfreq=lexicon,
    )
    # rank AFTER casting the id: the oracle tie-breaks (raw DESC, doc_id
    # BIGINT); ranking on the string unique_id would order '100' < '99'
    # and could flip tied rows
    from pyspark.sql.window import Window

    scored = out.select(
        "query_id",
        F.col("unique_id").cast("bigint").alias("doc_id"),
        "bm25_score",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25_score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 10)
        .select(
            "query_id", "doc_id", F.round("bm25_score", 4).alias("bm25_score"), "rank"
        )
        .orderBy("query_id", "rank")
    )
