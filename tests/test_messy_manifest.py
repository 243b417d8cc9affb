"""Integration: ingest a 300-model production-style MESSY manifest —
versioned unique_ids, refs as dict/list/str, legacy raw_sql, stringified
configs, null/missing fields, exposures and seeds mixed into parent_map —
then run the full serving surface over it (reference analog:
tests/test_integration.py:56-147 drives a real >50-model manifest; this
synthesizes the messiness classes the reference tolerates)."""

from __future__ import annotations

import json

import pytest


def make_messy_manifest(n_models: int = 300) -> dict:
    nodes, parent_map = {}, {}
    # versioned + unversioned ids; rotating messiness classes
    for i in range(n_models):
        name = f"m_{i:03d}"
        versioned = i % 7 == 0
        uid = f"model.proj.{name}.v2" if versioned else f"model.proj.{name}"
        parent_idx = [(i * 3 + 1) % i] if i else []
        parent_uids = [
            f"model.proj.m_{p:03d}.v2" if p % 7 == 0 else f"model.proj.m_{p:03d}"
            for p in parent_idx
        ]
        # refs in all three accepted shapes
        shape = i % 3
        refs = [
            {"name": f"m_{p:03d}"} if shape == 0 else
            (["proj", f"m_{p:03d}"] if shape == 1 else f"m_{p:03d}")
            for p in parent_idx
        ]
        node = {
            "resource_type": "model",
            "name": name,
            "package_name": "proj",
            "path": f"models/{name}.sql",
            "fqn": ["proj", "staging" if i % 4 == 0 else "marts", name],
            "tags": None if i % 5 == 0 else [f"t{i % 3}"],
            "description": None if i % 2 == 0 else f"model {i}",
            "config": {
                "materialized": ["view", "table", "incremental", None][i % 4],
                "unique_key": f"id_{i}" if i % 4 == 2 else None,
                "meta": {"owner": ["a", None, 3][i % 3]},
            },
            "depends_on": {"nodes": parent_uids} if parent_uids else None,
            "refs": refs,
            "columns": {} if i % 3 == 0 else {
                "id": {"name": "id", "data_type": None},
                "val": {"description": "v"},
            },
        }
        if versioned:
            node["version"] = 2
            node["latest_version"] = 2
        if i % 2 == 0:
            node["raw_sql"] = f"select * from {{{{ ref('m_{(i - 1) % n_models:03d}') }}}}"
        else:
            node["raw_code"] = f"select {i} as id"
            node["compiled_code"] = "" if i % 3 else f"select {i} as id"
        nodes[uid] = node
        parent_map[uid] = parent_uids + (
            ["seed.proj.lookup", "test.proj.bogus"] if i % 9 == 0 else []
        )
    # a couple of non-model residents in nodes (must be skipped)
    nodes["seed.proj.lookup"] = {"resource_type": "seed", "name": "lookup"}
    nodes["test.proj.not_null_m_001_id"] = {
        "resource_type": "test",
        "name": "not_null_m_001_id",
        "test_metadata": {"name": "not_null", "kwargs": {"column_name": "id"}},
        "attached_node": "model.proj.m_001",
        "depends_on": {"nodes": ["model.proj.m_001"]},
        "column_name": "id",
    }
    sources = {
        "source.proj.raw.orders": {
            "name": "orders", "source_name": "raw",
            "freshness": None, "columns": None, "meta": {"x": [1, 2]},
        }
    }
    exposures = {
        "exposure.proj.dash": {
            "name": "dash", "type": "dashboard",
            "depends_on": {"nodes": [f"model.proj.m_{n_models - 1:03d}"]},
        }
    }
    parent_map["exposure.proj.dash"] = [f"model.proj.m_{n_models - 1:03d}"]
    parent_map["model.proj.m_000"] = ["source.proj.raw.orders"]
    return {
        "metadata": {"project_name": "proj", "dbt_version": "1.8.0",
                     "adapter_type": "spark", "generated_at": "2026-01-01"},
        "nodes": nodes,
        "sources": sources,
        "exposures": exposures,
        "parent_map": parent_map,
    }


@pytest.fixture(scope="module")
def messy_index(spark, tmp_path_factory):
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex

    path = tmp_path_factory.mktemp("messy") / "manifest.json"
    path.write_text(json.dumps(make_messy_manifest()))
    return AriadneIndex.build(spark, str(path))


def test_messy_ingest_counts(messy_index):
    models = messy_index.models
    assert models.count() == 300  # seeds/tests in `nodes` skipped
    # versioned ids survive intact
    uids = {r.unique_id for r in models.select("unique_id").collect()}
    assert "model.proj.m_000.v2" in uids and "model.proj.m_001" in uids
    # legacy raw_sql landed in raw_code
    m2 = models.where(models.name == "m_002").first()
    assert "ref(" in m2.raw_code


def test_messy_edges_all_ref_shapes(messy_index):
    from pyspark.sql import functions as F

    edges = messy_index.edges
    # every model except m_000 has exactly one model-parent; seeds/tests
    # in parent_map are filtered out, source edge for m_000 kept
    model_to_model = edges.where(
        F.col("parent_id").startswith("model.") & F.col("child_id").startswith("model.")
    ).count()
    assert model_to_model == 299  # every model but the root has one parent
    assert edges.where(F.col("child_id").startswith("exposure.")).count() == 1
    assert edges.where(F.col("parent_id").startswith("source.")).count() == 1
    assert edges.where(
        (F.col("parent_id").startswith("seed.")) | (F.col("parent_id").startswith("test."))
    ).count() == 0


def test_messy_serving_surface(messy_index):
    """search → lineage → capsule all run over the messy index."""
    from ariadne_dbt_spark.operators.lineage import get_lineage
    from ariadne_dbt_spark.operators.model_search import search_models

    hits = search_models(messy_index, "m_100", limit=5).collect()
    assert hits and hits[0].name == "m_100"
    lin = get_lineage(
        messy_index, "model.proj.m_299", direction="upstream", depth=5
    ).collect()
    assert lin  # chain resolves through mixed ref shapes
    cap = messy_index.local().capsule("debug m_100", token_budget=4000)
    assert cap["pivots"] and cap["token_estimate"] <= 4000


def test_messy_refresh_noop_delta(messy_index, spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("messy2") / "manifest.json"
    path.write_text(json.dumps(make_messy_manifest()))
    idx2 = messy_index.refresh(str(path))
    assert idx2.last_refresh_stats["changed"] == 0
    assert idx2.last_refresh_stats["reused"] == 300
