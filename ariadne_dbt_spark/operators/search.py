"""Full-text search: posting lists + field-weighted BM25 + hybrid re-rank
(SURVEY §2.7 T1-T6).

The reference delegates to SQLite FTS5 with per-field weights
name=5 description=3 column_names=2 sql=1 tags=1 and re-ranks with
``0.55·norm_bm25 + 0.20·centrality + 0.10·layer_boost + 0.15·name_bonus``
(reference: src/ariadne_dbt/schema.sql:201-210, search.py:54-128).

Spark has no inverted-index primitive, so the index IS a DataFrame of
postings ``(unique_id, field, term, tf)`` plus per-(doc, field) lengths —
the classic search-on-MPP design. Scoring a query is then:
broadcast the (tiny) query-term set, semi-join postings, join docstats,
compute Okapi BM25 per (doc, field), weight and sum. Every step is a
built-in JVM expression; at 100 TB the postings table is partitioned by
term so a query touches only matching partitions.

BM25 flavor: Okapi with the Lucene-style non-negative idf
``ln(1 + (N - df + 0.5)/(df + 0.5))``, k1=1.2, b=0.75 (FTS5's defaults
for k1/b; rank parity with FTS5 is validated by rank-order, not raw
score — see SURVEY §7 "hard parts").
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ariadne_dbt_spark.functions.text import tokenize, tokenize_query
from ariadne_dbt_spark.session import local_frame

K1 = 1.2
B = 0.75

#: reference field weights (search.py:117)
DEFAULT_FIELD_WEIGHTS = {
    "name": 5.0,
    "description": 3.0,
    "column_names": 2.0,
    "sql_text": 1.0,
    "tags": 1.0,
}


def build_postings(
    docs: DataFrame,
    id_col: str,
    field_cols: dict[str, str],
    *,
    min_len: int = 2,
    stop: bool = True,
    stem: bool = False,
    repartition_to: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build ``postings(unique_id, field, term, tf)`` and
    ``docstats(unique_id, field, dl)`` from one or more text fields.

    ``stem=True`` Porter-stems every token through an Arrow-batched
    pandas UDF (T2 — reference: FTS5 ``tokenize='porter ascii'``,
    schema.sql:209). Index-time only: queries stem their handful of
    tokens on the driver, so the UDF never sits on the query path.

    Reference analog: the FTS index build, one row per model with five
    weighted columns (indexer.py:471-485).
    """
    # ONE pass over the corpus: stack the fields into (field, text) rows,
    # tokenize/stem each row once, aggregate once. The per-field
    # union-of-pipelines shape this replaces re-scanned the docs 2×F
    # times (F fields × postings+docstats) — docstats is just
    # sum(tf) over postings, no second tokenize needed.
    stack_args: list = [F.lit(len(field_cols))]
    for field, col in field_cols.items():
        stack_args += [F.lit(field), F.col(col)]
    stacked = docs.select(
        F.col(id_col).alias("unique_id"),
        F.stack(*stack_args).alias("field", "text"),
    )
    if repartition_to:
        # corpus parquet often arrives as 1-2 partitions at test scale;
        # the tokenize+explode map side of the aggregation would run on
        # that few cores. One small shuffle of raw text spreads it.
        stacked = stacked.repartition(repartition_to)
    toks_col = tokenize("text", min_len=min_len, stop=stop)
    if stem:
        from ariadne_dbt_spark.functions.porter import stem_array_udf

        toks_col = stem_array_udf()(toks_col)
    postings = (
        stacked.select(
            "unique_id", "field", F.explode(toks_col).alias("term")
        )
        .groupBy("unique_id", "field", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("unique_id", "field", "term", "tf")
    )
    docstats = (
        postings.groupBy("unique_id", "field")
        .agg(F.sum("tf").alias("dl"))
        .select("unique_id", "field", "dl")
    )
    return postings, docstats


def bm25(
    postings: DataFrame,
    docstats: DataFrame,
    n_docs: int,
    query_text: str,
    *,
    field_weights: dict[str, float] | None = None,
    k1: float = K1,
    b: float = B,
    stem_query: bool = False,
    avgdl_by_field: dict[str, float] | None = None,
    dfreq: DataFrame | None = None,
) -> DataFrame:
    """Score every matching doc: ``(unique_id, bm25_score)`` descending.

    ``n_docs`` is the corpus size (reference: FTS5 uses the table row
    count). Per-field scores are weighted then summed per doc.
    ``stem_query=True`` Porter-stems the query tokens — required when the
    postings were built with ``stem=True`` (both sides must agree).

    ``avgdl_by_field`` short-circuits the average-doc-length aggregate —
    pass the stats persisted at index-build time (they are corpus
    constants, not query state) so the query path never scans docstats
    beyond the per-doc ``dl`` join.

    ``dfreq`` short-circuits the per-query document-frequency aggregate
    the same way: pass the lexicon persisted at index-build time
    (``(field, term, df)`` — df is a corpus constant like avgdl, the
    classic place an inverted index stores it) and the query plan drops
    a full postings re-scan plus its two aggregation exchanges. Without
    it, df is counted from the term-filtered scan — ``postings`` must be
    unique per (unique_id, field, term) (the build_postings contract;
    duplicate rows would already corrupt tf), so a plain COUNT suffices
    and no distinct expansion is paid.

    Plan shape: the query-term predicate is an ``isin`` literal, so it
    pushes into the postings scan (term-partitioned storage prunes at
    100 TB); field weights and avgdl are literal CASE expressions; with
    a persisted lexicon the only per-query work is the filtered scan,
    two broadcast joins and one aggregate.
    """
    spark = postings.sparkSession
    terms = tokenize_query(query_text, stem=stem_query)
    if not terms:
        return local_frame(spark, [], "unique_id string, bm25_score double")
    weights = field_weights or DEFAULT_FIELD_WEIGHTS

    tset = sorted(set(terms))
    matched = postings.where(F.col("term").isin(tset))
    if dfreq is not None:
        dfreq = dfreq.where(F.col("term").isin(tset)).select("field", "term", "df")
    else:
        # df per (field, term) over the corpus = over the term-filtered
        # scan; COUNT not COUNT DISTINCT — see the contract above
        dfreq = matched.groupBy("field", "term").agg(
            F.count(F.lit(1)).alias("df")
        )
    if avgdl_by_field:
        # a field scored by `weights` but missing from the persisted stats
        # would get NULL avgdl → NULL term_score → silently dropped by the
        # sum aggregate, skewing scores instead of erroring. Fail loudly
        # at plan time for declared fields, and at execution time (via
        # raise_error) for any posting field outside the stats map.
        missing = set(weights) - set(avgdl_by_field)
        if missing:
            raise ValueError(
                f"avgdl_by_field is missing scored fields {sorted(missing)}; "
                "rebuild the index stats or pass avgdl_by_field=None to "
                "recompute from docstats"
            )
        avgdl_expr = None
        for fname, val in avgdl_by_field.items():
            cond = F.col("field") == fname
            avgdl_expr = (
                F.when(cond, F.lit(float(val)))
                if avgdl_expr is None
                else avgdl_expr.when(cond, F.lit(float(val)))
            )
        avgdl_expr = avgdl_expr.otherwise(
            F.raise_error(
                F.concat(F.lit("bm25: no persisted avgdl for field "), F.col("field"))
            ).cast("double")
        )
        scored_base = matched.join(
            docstats.select("unique_id", "field", "dl"), ["unique_id", "field"]
        ).withColumn("avgdl", avgdl_expr)
    else:
        avgdl = docstats.groupBy("field").agg(F.avg("dl").alias("avgdl"))
        scored_base = (
            matched.join(docstats.select("unique_id", "field", "dl"), ["unique_id", "field"])
            .join(F.broadcast(avgdl), "field")
        )
    weight_expr = F.lit(1.0)
    for fname, wval in weights.items():
        weight_expr = F.when(F.col("field") == fname, F.lit(float(wval))).otherwise(
            weight_expr
        )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        scored_base.join(F.broadcast(dfreq), ["field", "term"])
        .withColumn("term_score", idf * tf_norm * weight_expr)
        .groupBy("unique_id")
        .agg(F.sum("term_score").alias("bm25_score"))
    )
    return scored.orderBy(F.desc(score_order_key("bm25_score")), "unique_id")


def score_order_key(col: str):
    """The BM25 score rounded to 1e-9, as ``floor(score·1e9 + 0.5)`` — the
    order key for ranking and cutting candidate lists.

    Two scoring paths sum the same terms in different orders, so an exact
    tie can come back differing in the last bits; ordering on the raw
    score would then skip the ``unique_id`` tie-break and each path would
    keep a different member of a tie straddling a cut. The Spark side and
    :meth:`LocalIndexCache.bm25_candidates` compute this key with the same
    IEEE operations (:func:`rounded_score`), so they agree bit for bit.
    Returned scores stay unrounded."""
    return F.floor(F.col(col) * F.lit(1e9) + F.lit(0.5))


def rounded_score(score: float) -> int:
    """Driver-side twin of :func:`score_order_key`."""
    return math.floor(score * 1e9 + 0.5)


def positional_postings(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Positional inverted index rows ``(unique_id, pos, term)`` — the
    phrase-query counterpart of :func:`build_postings` (FTS5 keeps
    positions for exactly this; the reference's MATCH surface is
    OR-of-terms only, reference: search.py:24-35, so phrase support here
    EXTENDS the surface rather than porting it).

    Positions index the full token stream (min_len=1, no stopword
    removal): phrase adjacency is defined over what the text actually
    says, and dropping stopwords would make "group by key" match
    "group key". One tokenize + posexplode pass; at scale the rows
    partition by term like the tf postings so phrase-term scans prune.
    """
    c = F.col(text_col)
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " "), r"\s+"),
        lambda t: F.length(t) >= 1,
    )
    return docs.select(
        F.col(id_col).alias("unique_id"), F.posexplode(toks).alias("pos", "term")
    )


def phrase_hits(pos_postings: DataFrame, phrase_terms: list[str]) -> DataFrame:
    """Exact phrase matching over positional postings: docs where
    ``phrase_terms`` appear consecutively, with occurrence counts —
    ``(unique_id, n_hits)``, n_hits ≥ 1.

    The classic positional-index phrase join: term_i's postings are
    anchored to ``start = pos - i`` and all k term sets are equi-joined
    on (unique_id, start) — each join leg is a TERM-FILTERED scan (the
    literal predicate pushes into the postings scan; with term
    partitioning only the phrase's own partitions are read), so cost is
    Σ df(term_i), never corpus size. Overlapping occurrences count
    individually (token-level semantics, unlike substring LIKE).
    """
    if not phrase_terms:
        raise ValueError("phrase_terms must be non-empty")
    legs = []
    for i, t in enumerate(phrase_terms):
        legs.append(
            pos_postings.where(F.col("term") == t).select(
                "unique_id", (F.col("pos") - F.lit(i)).alias("start")
            )
        )
    matched = legs[0]
    for leg in legs[1:]:
        matched = matched.join(leg, ["unique_id", "start"])
    return matched.groupBy("unique_id").agg(F.count(F.lit(1)).alias("n_hits"))


def minmax_normalize(df: DataFrame, col: str, out_col: str) -> DataFrame:
    """Min-max normalize over the candidate set; all-equal → 1.0
    (reference: search.py:38-45)."""
    bounds = df.agg(F.min(col).alias("_mn"), F.max(col).alias("_mx"))
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            out_col,
            F.when(F.col("_mx") == F.col("_mn"), F.lit(1.0)).otherwise(
                (F.col(col) - F.col("_mn")) / (F.col("_mx") - F.col("_mn"))
            ),
        )
        .drop("_mn", "_mx")
    )


def hybrid_rerank(
    candidates: DataFrame,
    query_text: str,
    *,
    layer_weights: dict[str, float] | None = None,
    w_bm25: float = 0.55,
    w_centrality: float = 0.20,
    w_layer: float = 0.10,
    w_name: float = 0.15,
) -> DataFrame:
    """Composite re-rank (reference: search.py:79-104).

    ``candidates`` must carry ``unique_id, name, layer, centrality,
    bm25_score``. ``layer_weights`` is the intent→layer boost row
    (reference: search.py:13-20). Name bonus: whole query is a substring
    of the name (reference: search.py:82).
    """
    spark = candidates.sparkSession
    out = minmax_normalize(candidates, "bm25_score", "norm_bm25")
    if layer_weights:
        lw = local_frame(
            spark,
            [(k, float(v)) for k, v in layer_weights.items()],
            "layer string, layer_boost double",
        )
        out = out.join(F.broadcast(lw), "layer", "left").withColumn(
            "layer_boost", F.coalesce("layer_boost", F.lit(0.0))
        )
    else:
        out = out.withColumn("layer_boost", F.lit(0.0))
    q = query_text.lower().strip()
    # bonus VALUE is 0.15 and is then scaled by w_name (reference:
    # search.py:82-90 sets name_bonus=0.15 and multiplies by 0.15 — the
    # net name contribution is 0.0225, not 0.15)
    out = out.withColumn(
        "name_bonus",
        F.when(F.lower(F.col("name")).contains(F.lit(q)), F.lit(0.15)).otherwise(F.lit(0.0)),
    )
    score = (
        F.col("norm_bm25") * w_bm25
        + F.coalesce(F.col("centrality"), F.lit(0.0)) * w_centrality
        + F.col("layer_boost") * w_layer
        + F.col("name_bonus") * w_name
    )
    return out.withColumn("score", score).orderBy(F.desc("score"), "unique_id")


def bm25_batch(
    postings: DataFrame,
    docstats: DataFrame,
    n_docs: int,
    queries: dict[str, str],
    *,
    field_weights: dict[str, float] | None = None,
    k1: float = K1,
    b: float = B,
    stem_query: bool = False,
    avgdl_by_field: dict[str, float] | None = None,
    k: int | None = None,
    dfreq: DataFrame | None = None,
) -> DataFrame:
    """Score a BATCH of queries in ONE pass over the postings:
    ``(query_id, unique_id, bm25_score[, rank])``.

    The serving symmetry of batch ANN (`topk_per_query`): instead of one
    term-filtered scan per query, the union of all queries' terms drives
    a single pushed-down scan, a literal (query_id, term) frame fans
    matches out per query, and scoring aggregates by (query_id, doc).
    df per (field, term) is corpus-global: pass the build-time lexicon
    as ``dfreq`` (see :func:`bm25`) or it is counted once for the batch.
    With ``k`` set, a per-query window keeps the top-k (partitioned by
    query_id — bounded, never a global sort).
    """
    spark = postings.sparkSession
    weights = field_weights or DEFAULT_FIELD_WEIGHTS
    qt_rows = []
    for qid, text in queries.items():
        for t in tokenize_query(text, stem=stem_query):
            qt_rows.append((str(qid), t))
    if not qt_rows:
        return local_frame(
            spark, [], "query_id string, unique_id string, bm25_score double"
        )
    qterms = local_frame(spark, sorted(set(qt_rows)), "query_id string, term string")
    all_terms = sorted({t for _, t in qt_rows})
    matched = postings.where(F.col("term").isin(all_terms))
    if dfreq is not None:
        dfreq = dfreq.where(F.col("term").isin(all_terms)).select(
            "field", "term", "df"
        )
    else:
        # COUNT not COUNT DISTINCT: postings are unique per
        # (unique_id, field, term) — the build_postings contract
        dfreq = matched.groupBy("field", "term").agg(
            F.count(F.lit(1)).alias("df")
        )
    if avgdl_by_field:
        missing = set(weights) - set(avgdl_by_field)
        if missing:
            raise ValueError(
                f"avgdl_by_field is missing scored fields {sorted(missing)}"
            )
        avgdl_expr = None
        for fname, val in avgdl_by_field.items():
            cond = F.col("field") == fname
            avgdl_expr = (
                F.when(cond, F.lit(float(val)))
                if avgdl_expr is None
                else avgdl_expr.when(cond, F.lit(float(val)))
            )
        avgdl_expr = avgdl_expr.otherwise(
            F.raise_error(
                F.concat(F.lit("bm25: no persisted avgdl for field "), F.col("field"))
            ).cast("double")
        )
        base = matched.join(
            docstats.select("unique_id", "field", "dl"), ["unique_id", "field"]
        ).withColumn("avgdl", avgdl_expr)
    else:
        avgdl = docstats.groupBy("field").agg(F.avg("dl").alias("avgdl"))
        base = matched.join(
            docstats.select("unique_id", "field", "dl"), ["unique_id", "field"]
        ).join(F.broadcast(avgdl), "field")
    weight_expr = F.lit(1.0)
    for fname, wval in weights.items():
        weight_expr = F.when(F.col("field") == fname, F.lit(float(wval))).otherwise(
            weight_expr
        )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        base.join(F.broadcast(dfreq), ["field", "term"])
        .join(F.broadcast(qterms), "term")
        .withColumn("term_score", idf * tf_norm * weight_expr)
        .groupBy("query_id", "unique_id")
        .agg(F.sum("term_score").alias("bm25_score"))
    )
    order = (F.desc(score_order_key("bm25_score")), "unique_id")
    if k is None:
        return scored.orderBy("query_id", *order)
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= int(k))
        .orderBy("query_id", "rank")
    )
