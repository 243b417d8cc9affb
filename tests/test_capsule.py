"""Capsule invariants (reference: tests/test_capsule.py): intent table,
pivot disjointness, budget adherence, explicit anchors become pivots,
confidence levels, discover contracts — on the index's driver-local
snapshot, which builds every served capsule and discover list."""

from __future__ import annotations

import pytest

from ariadne_dbt_spark.operators.capsule import detect_intent, estimate_tokens


@pytest.fixture(scope="module")
def builder(index):
    """What builds capsules: the index's driver-local snapshot."""
    return index.local()


@pytest.mark.parametrize(
    "task,intent",
    [
        ("add monthly revenue metric", "add_feature"),
        ("debug failing test on fct_orders", "debug"),
        ("refactor staging models and rename columns", "refactor"),
        ("write tests for dim_customers", "test"),
        ("document the orders models", "document"),
        ("xyzzy plugh", "explore"),
    ],
)
def test_intent_detection(task, intent):
    assert detect_intent(task) == intent


def test_capsule_basic(builder):
    cap = builder.capsule("debug failing test on fct_orders")
    assert cap["intent"] == "debug"
    assert cap["pivots"], "search should find pivots"
    pivot_ids = {p["unique_id"] for p in cap["pivots"]}
    assert "model.webshop.fct_orders" in pivot_ids


def test_pivot_traversal_disjoint(builder):
    cap = builder.capsule("debug failing test on fct_orders")
    pivot_ids = {p["unique_id"] for p in cap["pivots"]}
    up_ids = {u["unique_id"] for u in cap["upstream"]}
    down_ids = {d["unique_id"] for d in cap["downstream"]}
    assert not pivot_ids & up_ids
    assert not pivot_ids & down_ids


def test_budget_adherence(builder):
    cap = builder.capsule("explore the revenue models", token_budget=5000)
    assert cap["token_estimate"] <= 1.2 * 5000


def test_small_budget_shrinks_capsule(builder):
    small = builder.capsule("debug failing test on fct_orders", token_budget=600)
    big = builder.capsule("debug failing test on fct_orders", token_budget=12000)
    assert small["token_estimate"] <= big["token_estimate"]
    assert (
        len(small["pivots"]) <= len(big["pivots"])
        or small["token_estimate"] < big["token_estimate"]
    )


def test_focus_model_becomes_pivot(builder):
    cap = builder.capsule("anything at all", focus_model="dim_customers")
    assert cap["pivots"][0]["unique_id"] == "model.webshop.dim_customers"
    assert cap["confidence"] == "high"


def test_entry_models_become_pivots(builder):
    cap = builder.capsule("whatever", entry_models=["stg_orders", "fct_orders"])
    ids = [p["unique_id"] for p in cap["pivots"]]
    assert "model.webshop.stg_orders" in ids
    assert "model.webshop.fct_orders" in ids


def test_entry_paths_resolve(builder):
    cap = builder.capsule("whatever", entry_paths=["models/marts/fct_orders.sql"])
    assert cap["pivots"][0]["unique_id"] == "model.webshop.fct_orders"


def test_confidence_levels(builder):
    assert builder.capsule("task", focus_model="fct_orders")["confidence"] == "high"
    assert builder.capsule("xyzzy plugh qwerty")["confidence"] in ("low", "medium", "high")


def test_token_estimator():
    assert estimate_tokens({}) >= 1
    assert estimate_tokens({"a": "x" * 400}) >= 100


def test_discover_contract(builder):
    rows = builder.discover("customer revenue", limit=10)
    assert 0 < len(rows) <= 10
    assert all({"unique_id", "name", "relationship", "distance"} <= set(r) for r in rows)
    # no duplicates
    ids = [r["unique_id"] for r in rows]
    assert len(ids) == len(set(ids))
    # pivots come first
    assert rows[0]["relationship"] == "pivot"


def test_capsule_serializable(builder):
    import json

    cap = builder.capsule("document the orders models")
    js = json.dumps(cap)
    assert len(js) > 100


def test_token_reduction_vs_naive_dump(index, builder):
    """Capsule beats the naive all-models dump (reference:
    tests/test_integration.py:133-147 — same chars/4 estimator)."""
    cap = builder.capsule("explore the project", token_budget=10000)
    naive_chars = sum(
        len(f"{r['name']} {r['description'] or ''} {r['raw_code'] or ''}")
        for r in (m.asDict() for m in index.models.collect())
    )
    assert cap["token_estimate"] < max(1, naive_chars // 4)
