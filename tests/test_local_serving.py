"""The driver-local serving path (LocalIndexCache) must reproduce the
DataFrame operators' results exactly — it is the latency mitigation for
the reference's interactive P95 targets (BASELINE.md), so its semantics
are pinned here against the Spark path on the fixture index."""

from __future__ import annotations

import pytest

from ariadne_dbt_spark.operators.capsule import CapsuleBuilder
from ariadne_dbt_spark.operators.lineage import get_lineage
from ariadne_dbt_spark.operators.model_search import search_models
from ariadne_dbt_spark.operators.patterns import extract_patterns


@pytest.fixture(scope="module")
def cache(index):
    return index.local()


def test_local_search_matches_spark(index, cache):
    for query, intent in (("customer orders", "explore"), ("payment", "debug")):
        spark_hits = [
            (r.unique_id, round(r.score, 9))
            for r in search_models(index, query, intent=intent, limit=10).collect()
        ]
        local_hits = [
            (h["unique_id"], round(h["score"], 9))
            for h in cache.search(query, intent=intent, limit=10)
        ]
        assert spark_hits == local_hits


def test_local_lineage_matches_spark(index, cache):
    mid = "model.webshop.stg_orders"
    spark_rows = [
        (r.unique_id, r.distance, r.relationship)
        for r in get_lineage(index, mid, depth=3).collect()
    ]
    local_rows = [
        (r["unique_id"], r["distance"], r["relationship"])
        for r in cache.lineage(mid, depth=3)
    ]
    assert spark_rows == local_rows


def test_local_patterns_match_spark(index, cache):
    sp = extract_patterns(index)
    lo = cache.patterns()
    for key in (
        "models_per_layer", "materializations", "examples", "naming",
        "coverage", "top_tags", "best_tested",
    ):
        assert lo[key] == sp[key], key
    assert lo["stats"] == {
        k: sp["stats"][k]
        for k in ("models", "sources", "tests", "macros", "exposures", "columns")
    }


def test_local_capsule_matches_spark(index, cache):
    task = "debug failing test on orders"
    sp = CapsuleBuilder(index).build(task, token_budget=8000).to_dict()
    lo = cache.capsule(task, token_budget=8000)
    assert lo["intent"] == sp["intent"]
    assert lo["confidence"] == sp["confidence"]
    for section in ("pivots", "upstream", "downstream"):
        assert [x["unique_id"] for x in lo[section]] == [
            x["unique_id"] for x in sp[section]
        ], section
    assert [t["unique_id"] for t in lo["tests"]] == [t["unique_id"] for t in sp["tests"]]
    assert lo["similar_models"] == sp["similar_models"]
    assert [s["unique_id"] for s in lo["sources"]] == [
        s["unique_id"] for s in sp["sources"]
    ]


def test_local_capsule_respects_budget(cache):
    cap = cache.capsule("add a new revenue metric", token_budget=2000)
    assert cap["token_estimate"] <= 1.2 * 2000  # reference invariant


def test_local_discover_matches_spark(index, cache):
    for kwargs in (
        {"task": "debug revenue order totals"},
        {"task": "add a column", "focus_model": "fct_orders"},
        {"task": "explore payments", "entry_models": ["stg_payments"], "limit": 10},
    ):
        task = kwargs.pop("task")
        spark_rows = CapsuleBuilder(index).discover(task, **kwargs)
        local_rows = cache.discover(task, **kwargs)
        assert local_rows == spark_rows


def _tie_manifest(n_tied: int = 60, n_strong: int = 5) -> dict:
    """Models whose search docs are identical up to their name's number,
    so their BM25 scores tie exactly, plus a few stronger hits ahead of
    them: at limit 10 the 40-candidate cut falls inside the tie."""
    text = "ledger revenue invoice amount customer ledger refunds revenue"

    def node(name: str, description: str) -> dict:
        return {
            "resource_type": "model",
            "name": name,
            "fqn": ["shop", "marts", name],
            "description": description,
            "raw_code": f"select invoice, amount, customer from ledger -- {text}",
            "tags": ["revenue", "ledger"],
            "columns": {c: {"name": c} for c in ("invoice_id", "amount", "customer_id")},
        }

    nodes = {}
    for i in range(n_tied):
        nodes[f"model.shop.tie_{i:03d}"] = node(f"tie_{i:03d}", text)
    for i in range(n_strong):
        name = f"ledger_revenue_{i}"
        nodes[f"model.shop.{name}"] = node(name, text + " ledger revenue")
    return {"metadata": {"project_name": "shop"}, "nodes": nodes, "parent_map": {}}


def test_bm25_tie_at_the_cut_keeps_the_same_members(spark, tmp_path):
    """Both paths cut the BM25 hits on the score rounded to 1e-9 and then
    unique_id. Ordered on the raw score, a tie whose sums differ in the
    last bits (the two paths add terms in different orders) kept
    different members on each side of the cut."""
    import json

    from ariadne_dbt_spark.ingest.indexer import AriadneIndex
    from ariadne_dbt_spark.operators.search import bm25, rounded_score

    path = tmp_path / "manifest.json"
    path.write_text(json.dumps(_tie_manifest()))
    idx = AriadneIndex.build(spark, str(path))
    cache = idx.local()
    query, cut = "ledger revenue invoice amount customer refunds", 40

    ranked = cache.bm25_candidates(query, 1000)
    assert len(ranked) == 65
    assert rounded_score(ranked[cut - 1][1]) == rounded_score(ranked[cut][1])
    spark_ids = [
        r.unique_id
        for r in bm25(
            idx.postings, idx.docstats, idx.model_count(), query,
            stem_query=idx.config.stem_tokens,
        ).limit(cut).collect()
    ]
    local_ids = [u for u, _ in cache.bm25_candidates(query, cut)]
    assert spark_ids == local_ids
    assert local_ids[5:] == [f"model.shop.tie_{i:03d}" for i in range(cut - 5)]


def test_score_order_key_matches_its_driver_twin(spark):
    import random

    from ariadne_dbt_spark.operators.search import rounded_score, score_order_key
    from ariadne_dbt_spark.session import local_frame

    assert 0.1 + 0.2 != 0.3 and rounded_score(0.1 + 0.2) == rounded_score(0.3)
    rng = random.Random(7)
    vals = [0.1 + 0.2, 0.3, 1 / 3, 2.5e-10, 5e-10, 12.3456789015, 0.0]
    vals += [rng.uniform(0, 60) for _ in range(200)]
    got = local_frame(spark, [(v,) for v in vals], "s double").select(
        score_order_key("s").alias("k")
    )
    assert [r.k for r in got.collect()] == [rounded_score(v) for v in vals]
