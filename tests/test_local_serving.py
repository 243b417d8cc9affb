"""The driver-local snapshot (LocalIndexCache) is the one serving
implementation: the ToolServer and the CLI answer search, capsule,
discover, lineage, impact and model details from it. Pinned here on the
fixture index: search, lineage and patterns equal their DataFrame twins
(kept as the batch path and as these references), and every served
answer equals the
recorded ``ToolServer.handle`` results in fixtures/serving_golden.json
(recorded while the DataFrame implementations served those tools)."""

from __future__ import annotations

import json
import os

import pytest

from ariadne_dbt_spark.config import EngineConfig
from ariadne_dbt_spark.operators.lineage import get_lineage
from ariadne_dbt_spark.operators.model_search import search_models
from ariadne_dbt_spark.operators.patterns import extract_patterns
from ariadne_dbt_spark.server import ToolServer

from conftest import FIXTURES, MANIFEST

with open(os.path.join(FIXTURES, "serving_golden.json")) as _f:
    #: case name → {tool, args, status, result} of one ToolServer.handle call
    GOLDEN = json.load(_f)


@pytest.fixture(scope="module")
def cache(index):
    return index.local()


def _golden(tool: str) -> list[dict]:
    return [c for c in GOLDEN.values() if c["tool"] == tool]


def _plain(obj):
    """``obj`` as the JSON the server writes (tuples become lists)."""
    return json.loads(json.dumps(obj, default=str))


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
    """All six columns; the start reaches the exposure at distance 2,
    which is named and layered like the DataFrame enrichment does."""
    mid = "model.webshop.stg_orders"
    for direction in ("both", "upstream", "downstream"):
        lin = get_lineage(index, mid, depth=3, direction=direction)
        spark_rows = [r.asDict() for r in lin.collect()]
        local_rows = cache.lineage(mid, depth=3, direction=direction)
        assert spark_rows == local_rows, direction
    (exposure,) = [r for r in local_rows if r["kind"] == "exposure"]
    assert (exposure["name"], exposure["layer"]) == ("orders_dashboard", "exposure")


def test_local_patterns_match_spark(index, cache):
    assert cache.patterns() == extract_patterns(index)


def test_local_capsule_matches_spark(cache):
    cases = _golden("get_context_capsule")
    assert len(cases) >= 4
    for case in cases:
        assert _plain(cache.capsule(**case["args"])) == case["result"], case["args"]


def test_local_capsule_respects_budget(cache):
    cap = cache.capsule("add a new revenue metric", token_budget=2000)
    assert cap["token_estimate"] <= 1.2 * 2000  # reference invariant


def test_local_discover_matches_spark(cache):
    cases = _golden("discover_models")
    assert len(cases) >= 4
    for case in cases:
        assert cache.discover(**case["args"]) == case["result"]["models"], case["args"]


def test_served_tools_match_golden(index):
    """Every recorded case returns exactly its recorded result through
    ``ToolServer.handle``. An unknown lineage direction is still an
    error; its text now names the bad direction."""
    srv = ToolServer(index)
    for name, case in GOLDEN.items():
        resp = srv.handle({"tool": case["tool"], "args": case["args"]})
        assert resp["status"] == case["status"], name
        if case["status"] == "ok":
            assert _plain(resp["result"]) == case["result"], name
    bad = srv.handle({"tool": "get_lineage", "args": GOLDEN["lineage_bad_direction"]["args"]})
    assert "sideways" in bad["result"]["error"]


def test_local_capsule_follows_the_index_config(spark):
    """The snapshot's capsule and discover take the pivot cap, the token
    budget, the intent depths and the discover cap from the index
    config, as the DataFrame capsule did."""
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex

    cfg = EngineConfig(max_pivots=1, token_budget=3000, discover_limit=3,
                       intent_depths={"debug": (0, 0)})
    snap = AriadneIndex.build(spark, MANIFEST, config=cfg).local()
    cap = snap.capsule("debug failing test on orders")
    assert len(cap["pivots"]) == 1 and cap["token_budget"] == 3000
    assert cap["upstream"] == [] and cap["downstream"] == []
    assert snap.capsule("debug orders", token_budget=500)["token_budget"] == 500
    assert len(snap.discover("debug revenue order totals", limit=40)) == 3


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
