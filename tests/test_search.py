"""Hybrid search contracts (SURVEY §5 / reference tests/test_search.py):
relevance, limits, exclusion, path/column resolution, and the detail
lookups the served tools make on the driver-local snapshot."""

from __future__ import annotations

from ariadne_dbt_spark.operators.model_search import find_by_column, search_models

FCT = "model.webshop.fct_orders"


def test_search_relevance_customer(index):
    hits = search_models(index, "customer lifetime value", limit=5).collect()
    names = [h.name for h in hits]
    assert "dim_customers" in names[:2]


def test_search_relevance_orders(index):
    hits = search_models(index, "orders amount", limit=5).collect()
    assert any("orders" in h.name for h in hits[:2])


def test_search_limit_and_exclude(index):
    hits = search_models(index, "orders", limit=2).collect()
    assert len(hits) <= 2
    all_hits = {h.unique_id for h in search_models(index, "orders", limit=10).collect()}
    assert FCT in all_hits
    excl = {
        h.unique_id
        for h in search_models(index, "orders", limit=10, exclude_ids=[FCT]).collect()
    }
    assert FCT not in excl


def test_search_layer_filter(index):
    hits = search_models(index, "orders", limit=10, layer="staging").collect()
    assert hits and all(h.layer == "staging" for h in hits)


def test_like_fallback(index):
    # gibberish tokens → no postings hits → LIKE fallback on name
    hits = search_models(index, "zzz qqq customers", limit=5).collect()
    assert hits == [] or all(h.bm25_score is not None for h in hits)


def test_point_lookup_case_insensitive(index):
    assert index.local().by_name("FCT_ORDERS") == [FCT]


def test_resolve_paths(index):
    uids = index.local().resolve_paths(
        ["models/marts/fct_orders.sql", "models/schema.yml", "stg_orders"],
    )
    assert uids == [FCT, "model.webshop.stg_orders"]


def test_find_by_column(index):
    hits = find_by_column(index, "order_id").collect()
    models = {h.name for h in hits}
    assert {"fct_orders", "stg_orders", "stg_payments"} <= models


def test_columns_with_tests(index):
    cols = {c["name"]: c["test_types"] for c in index.local().columns_with_tests(FCT)}
    assert sorted(cols["order_id"]) == ["not_null", "unique"]
    assert cols["status"] == ["accepted_values"]
    assert cols["paid_amount"] == []


def test_macro_containment_join(index, spark):
    # no model uses the macro in the fixture → empty
    assert index.local().macros_used(FCT) == []


def test_direct_sources(index):
    src = {s["source_name"] for s in index.local().direct_sources("model.webshop.stg_orders")}
    assert src == {"raw"}


def test_coverage_ratio(index):
    cov = index.local().coverage(FCT)
    assert cov["total_columns"] == 6
    assert cov["tested_columns"] == 3  # order_id, status, customer_id
    assert cov["coverage_pct"] == 50.0


def test_porter_stem_published_examples():
    """Pin the stemmer to the published Porter algorithm examples."""
    from ariadne_dbt_spark.functions.porter import porter_stem

    cases = {
        "caresses": "caress", "ponies": "poni", "feed": "feed",
        "agreed": "agre", "motoring": "motor", "hopping": "hop",
        "relational": "relat", "conditional": "condit",
        "vietnamization": "vietnam", "triplicate": "triplic",
        "hopeful": "hope", "goodness": "good", "adjustable": "adjust",
        "replacement": "replac", "adoption": "adopt", "probate": "probat",
        "rate": "rate", "controll": "control", "roll": "roll",
    }
    assert {w: porter_stem(w) for w in cases} == cases


def test_stemmed_search_morphological_parity(spark):
    """'customers' (stemmed) must hit the same docs as 'customer':
    both stem to 'custom' — the T2 recall contract."""
    from ariadne_dbt_spark.operators.search import bm25, build_postings

    docs = spark.createDataFrame(
        [
            (1, "customer orders shipped fast"),
            (2, "customers ordering daily"),
            (3, "vector scans and hash joins"),
        ],
        "doc_id long, text string",
    )
    postings, stats = build_postings(docs, "doc_id", {"text": "text"}, stem=True)
    hits_plural = {
        r.unique_id
        for r in bm25(postings, stats, 3, "customers", field_weights={"text": 1.0},
                      stem_query=True).collect()
    }
    hits_singular = {
        r.unique_id
        for r in bm25(postings, stats, 3, "customer", field_weights={"text": 1.0},
                      stem_query=True).collect()
    }
    assert hits_plural == hits_singular == {1, 2}


def test_bm25_batch_matches_per_query(spark):
    """bm25_batch (one scan for N queries) must score identically to N
    independent bm25() calls — including the per-query top-k cut."""
    from ariadne_dbt_spark.operators.search import bm25, bm25_batch, build_postings

    docs = spark.createDataFrame(
        [
            (1, "spark stream join table scan"),
            (2, "table scan filter group merge"),
            (3, "spark spark vector window sort"),
            (4, "stream stream merge join window"),
            (5, "vector spark stream filter"),
        ],
        "doc_id long, text string",
    )
    postings, stats = build_postings(docs, "doc_id", {"text": "text"})
    queries = {"a": "spark stream", "b": "table merge", "c": "vector window sort"}
    batch = bm25_batch(
        postings, stats, 5, queries, field_weights={"text": 1.0}, k=3
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["unique_id"], round(r["bm25_score"], 9))
        )
    for qid, text in queries.items():
        solo = [
            (r["unique_id"], round(r["bm25_score"], 9))
            for r in bm25(
                postings, stats, 5, text, field_weights={"text": 1.0}
            ).collect()[:3]
        ]
        assert got[qid] == solo, qid


def test_bm25_batch_empty_and_unmatched_queries(spark):
    from ariadne_dbt_spark.operators.search import bm25_batch, build_postings

    docs = spark.createDataFrame(
        [(1, "spark stream")], "doc_id long, text string"
    )
    postings, stats = build_postings(docs, "doc_id", {"text": "text"})
    # stopword-only query contributes no terms; unmatched term -> no rows
    out = bm25_batch(
        postings, stats, 1, {"e": "the a of", "z": "zzzznotaterm"},
        field_weights={"text": 1.0},
    ).collect()
    assert out == []
