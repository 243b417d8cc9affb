"""The served path: ``ToolServer`` answers search, capsule, discover,
lineage, impact and model details from the index's driver-local
snapshot, and ``AriadneIndex.refresh`` builds that snapshot from its rows
instead of collecting the refreshed tables back from the JVM.
Pinned here: none of these calls runs a Spark job, the refreshed snapshot equals
a collected one table by table, and the served hits equal the DataFrame
``search_models`` (the batch path) on the refreshed index."""

from __future__ import annotations

import json
import os
import time

import pytest

from ariadne_dbt_spark.config import EngineConfig
from ariadne_dbt_spark.ingest.indexer import AriadneIndex
from ariadne_dbt_spark.operators.local_cache import LocalIndexCache
from ariadne_dbt_spark.operators.model_search import search_models
from ariadne_dbt_spark.server import ToolServer

from conftest import FIXTURES, MANIFEST
from test_local_serving import _tie_manifest

CATALOG = os.path.join(FIXTURES, "catalog.json")
SNAPSHOT_ATTRS = (
    "models", "columns", "tests", "macros", "sources", "exposures",
    "children", "parents", "postings", "docstats",
)


def _count_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran. A last job in the same
    group is waited for, so every earlier job has reached the status
    tracker (listener events arrive in order)."""
    sc = spark.sparkContext
    group = f"served-snapshot-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        jobs = tracker.getJobIdsForGroup(group)
        if jobs:
            break
        time.sleep(0.05)
    assert jobs, "the closing job never reached the status tracker"
    return out, len(jobs) - 1


def _write(tmp_path, man: dict, name: str = "manifest.json") -> str:
    p = tmp_path / name
    p.write_text(json.dumps(man))
    return str(p)


def _fixture() -> dict:
    with open(MANIFEST) as f:
        return json.load(f)


def _model_key(man: dict, name: str) -> str:
    (key,) = [k for k, n in man["nodes"].items() if n.get("name") == name]
    return key


def _modified(man: dict) -> dict:
    man["nodes"][_model_key(man, "fct_orders")]["description"] = "order facts with NEW grain"
    return man


def _removed(man: dict) -> dict:
    key = _model_key(man, "dim_customers")
    del man["nodes"][key]
    man["parent_map"].pop(key, None)
    for k in list(man["parent_map"]):
        man["parent_map"][k] = [p for p in man["parent_map"][k] if p != key]
    return man


def _added(man: dict) -> dict:
    added = dict(man["nodes"][_model_key(man, "fct_orders")])
    added.update(name="fct_refunds", unique_id="model.webshop.fct_refunds",
                 description="refund facts")
    man["nodes"]["model.webshop.fct_refunds"] = added
    man["parent_map"]["model.webshop.fct_refunds"] = [_model_key(man, "stg_payments")]
    return man


def _assert_same_snapshot(got: LocalIndexCache, want: LocalIndexCache) -> None:
    for attr in SNAPSHOT_ATTRS:
        assert getattr(got, attr) == getattr(want, attr), attr
    assert got.config == want.config


def _view(hits: list[dict]) -> list[tuple]:
    return [(h["unique_id"], round(h["score"], 9)) for h in hits]


def _same_hits(served: list[dict], frame: list[dict]) -> None:
    """Equal hit lists. The two paths add BM25 terms in different orders,
    so an exact tie can differ in the last bit and come back in either
    order: scores are compared rounded to 1e-9, tied hits as sets, and
    at the cut-off only the tie's count must agree."""
    a, b = _view(served), _view(frame)
    assert [s for _, s in a] == [s for _, s in b]
    last = a[-1][1] if a else None
    assert sorted(x for x in a if x[1] != last) == sorted(x for x in b if x[1] != last)
    by_id = {r["unique_id"]: r for r in frame}
    for h in served:
        if h["unique_id"] in by_id:
            r = by_id[h["unique_id"]]
            for k in ("name", "layer", "description", "centrality"):
                assert h[k] == r[k], (h["unique_id"], k)
            assert round(h["bm25_score"], 9) == round(r["bm25_score"], 9)


def _frame_hits(index, query: str, **kw) -> list[dict]:
    return [r.asDict() for r in search_models(index, query, **kw).collect()]


# -- (a) no Spark job on the served path -------------------------------------
def test_served_search_and_refresh_run_no_spark_job(spark, tmp_path):
    path = _write(tmp_path, _modified(_fixture()))
    srv = ToolServer(AriadneIndex.build(spark, MANIFEST))
    for req in (
        {"tool": "search_models", "args": {"query": "customer orders"}},
        {"tool": "refresh_index", "args": {"manifest_path": path}},
        {"tool": "search_models", "args": {"query": "order grain", "layer": "marts"}},
        {"tool": "refresh_index", "args": {"manifest_path": MANIFEST}},
        {"tool": "search_models", "args": {"query": "customer orders"}},
    ):
        resp, jobs = _count_jobs(spark, lambda req=req: srv.handle(req))
        assert resp["status"] == "ok", resp
        assert jobs == 0, req
    assert resp["result"]["results"]
    task = "debug failing test on orders"
    for tool, args in (
        ("get_context_capsule", {"task": task}),
        ("get_context_capsule", {"task": task, "focus_model": "fct_orders"}),
        ("discover_models", {"task": task, "entry_paths": ["models/marts/fct_orders.sql"]}),
        ("get_lineage", {"model_name": "stg_orders", "depth": 3}),
        ("get_impact_analysis", {"model_name": "stg_orders"}),
        ("get_model_details", {"model_name": "fct_orders"}),
        ("get_model_details", {"model_name": "no_such_model"}),
    ):
        req = {"tool": tool, "args": args}
        resp, jobs = _count_jobs(spark, lambda req=req: srv.handle(req))
        assert resp["status"] == "ok", resp
        assert jobs == 0, req
    assert "error" in resp["result"]


def test_project_patterns_are_computed_once_per_index(spark):
    srv = ToolServer(AriadneIndex.build(spark, MANIFEST))
    first = srv.handle({"tool": "get_project_patterns"})
    second, jobs = _count_jobs(spark, lambda: srv.handle({"tool": "get_project_patterns"}))
    assert jobs == 0
    assert second["result"] == first["result"]


# -- (b) the refreshed snapshot equals a collected one -----------------------
@pytest.mark.parametrize("edit", [_modified, _added, _removed, lambda m: m],
                         ids=["modified", "added", "removed", "noop"])
def test_refreshed_snapshot_equals_collected(spark, index, tmp_path, edit):
    path = _write(tmp_path, edit(_fixture()))
    new = index.refresh(path)
    assert new._local is not None  # handed over by the refresh, not collected
    _assert_same_snapshot(new.local(), LocalIndexCache.from_index(new))
    # a second refresh builds on the refreshed rows
    back = new.refresh(MANIFEST)
    _assert_same_snapshot(back.local(), LocalIndexCache.from_index(back))
    _assert_same_snapshot(back.local(), index.local())


def test_enriched_refresh_snapshot_equals_collected(spark, index, tmp_path):
    path = _write(tmp_path, _modified(_fixture()))
    new = index.refresh(path, catalog_path=CATALOG)
    snap = new.local()
    _assert_same_snapshot(snap, LocalIndexCache.from_index(new))
    assert any(m["row_count"] is not None for m in snap.models.values())
    # and the refresh after it, back to an unenriched index, builds on a collect
    back = new.refresh(MANIFEST)
    _assert_same_snapshot(back.local(), LocalIndexCache.from_index(back))


def test_build_snapshot_equals_collected(spark, index):
    fresh = AriadneIndex.build(spark, MANIFEST)
    assert fresh._local is None and fresh._rows is not None
    _assert_same_snapshot(fresh.local(), LocalIndexCache.from_index(fresh))


def test_signatures_from_snapshot_equal_collected(spark, tmp_path):
    fresh = AriadneIndex.build(spark, MANIFEST)
    from_snapshot = fresh.doc_signatures()
    fresh._drop_rows()  # frames only: the signatures come from a collect
    assert from_snapshot == fresh.doc_signatures()
    path = _write(tmp_path, _modified(_fixture()))
    assert AriadneIndex.build(spark, MANIFEST).manifest_delta(path)["changed"] == [
        "model.webshop.fct_orders"
    ]


# -- (c) served hits equal the DataFrame search ------------------------------
def test_served_hits_after_refresh_equal_dataframe_search(spark, tmp_path):
    base = _tie_manifest()
    edited = json.loads(json.dumps(base))
    # one strong hit loses its lead, one tied model leaves, one joins
    edited["nodes"]["model.shop.ledger_revenue_0"]["description"] = "archived"
    del edited["nodes"]["model.shop.tie_007"]
    edited["nodes"]["model.shop.tie_900"] = dict(
        edited["nodes"]["model.shop.tie_001"], name="tie_900"
    )
    srv = ToolServer(AriadneIndex.build(spark, _write(tmp_path, base, "a.json")))
    srv.handle({"tool": "refresh_index",
                "args": {"manifest_path": _write(tmp_path, edited, "b.json")}})
    assert srv.index.last_refresh_stats == {"changed": 2, "reused": 63, "removed": 1}
    for query, kw in (
        ("ledger revenue invoice amount customer refunds", {}),
        ("ledger revenue", {"limit": 20}),
        ("archived invoice", {"intent": "debug"}),
        ("edger", {}),  # no token matches: the LIKE fallback, 65 matches
    ):
        served = srv.handle({"tool": "search_models", "args": {"query": query, **kw}})
        _same_hits(served["result"]["results"], _frame_hits(srv.index, query, **kw))


def test_like_fallback_ranks_every_match(spark, tmp_path):
    """The LIKE fallback re-ranks all matching models, like the DataFrame
    path: a low-centrality model whose name matches outranks the
    description matches, however many of them there are."""
    nodes = {
        f"model.shop.hub_{i:02d}": {
            "resource_type": "model", "name": f"hub_{i:02d}", "description": "zabcdz",
        }
        for i in range(45)
    }
    nodes["model.shop.root"] = {"resource_type": "model", "name": "root"}
    nodes["model.shop.leaf_xabcdx"] = {"resource_type": "model", "name": "leaf_xabcdx"}
    man = {
        "metadata": {"project_name": "shop"}, "nodes": nodes,
        "parent_map": {u: ["model.shop.root"] for u in nodes if "hub_" in u},
    }
    idx = AriadneIndex.build(spark, _write(tmp_path, man))
    served = ToolServer(idx).search_models("abcd")["results"]
    assert served[0]["unique_id"] == "model.shop.leaf_xabcdx"
    _same_hits(served, _frame_hits(idx, "abcd"))


def test_snapshot_follows_the_index_config(spark):
    cfg = EngineConfig(description_truncate=20, search_limit_cap=4)
    idx = AriadneIndex.build(spark, MANIFEST, config=cfg)
    for query in ("customer orders", "payment"):
        served = ToolServer(idx).search_models(query, limit=10)["results"]
        assert len(served) <= 4
        assert all(len(h["description"]) <= 20 for h in served)
        assert any(len(h["description"]) == 20 for h in served)
        _same_hits(served, _frame_hits(idx, query, limit=10))
