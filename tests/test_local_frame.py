"""``session.local_frame``: driver rows become a JVM LocalRelation.

Pinned here: the frames hold the same rows ``createDataFrame(list,
schema)`` gives (every index schema, on the fixture and the messy
manifest), bad rows still raise, the index tables and a served search
plan over LocalRelations with no LogicalRDD (a LogicalRDD over a
PythonRDD forks Python workers on every scan), and no module but the
helper calls ``createDataFrame`` directly.
"""

from __future__ import annotations

import ast
import datetime
import json
import os

import pytest
from pyspark.sql import types as T

from ariadne_dbt_spark import schemas
from ariadne_dbt_spark.config import EngineConfig
from ariadne_dbt_spark.ingest import manifest as mf
from ariadne_dbt_spark.ingest.indexer import (
    DOCSTATS_DDL,
    POSTINGS_DDL,
    TABLES,
    AriadneIndex,
    _build_postings_local,
)
from ariadne_dbt_spark.session import local_frame

from conftest import FIXTURES, MANIFEST, REPO
from test_messy_manifest import make_messy_manifest

CATALOG = os.path.join(FIXTURES, "catalog.json")
RUN_RESULTS = os.path.join(FIXTURES, "run_results.json")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _assert_local(df, what: str) -> None:
    plan = _plan(df)
    assert "LocalRelation" in plan, f"{what}: no LocalRelation in\n{plan}"
    assert "LogicalRDD" not in plan, f"{what}: LogicalRDD in\n{plan}"


def _messy_manifest() -> dict:
    man = make_messy_manifest(60)
    # non-ASCII text in strings, arrays and map values
    node = man["nodes"]["model.proj.m_001"]
    node["description"] = "Umsätze je Kunde — 顧客 ✓"
    node["tags"] = ["straße", "données"]
    node["meta"] = {"owner": "José", "n": 3, "none": None}
    man["sources"]["source.proj.raw.orders"]["columns"] = {
        "id": {"name": "id", "description": "clé primaire"},
        "note": {"name": "note", "data_type": None},
    }
    man["macros"] = {
        "macro.proj.cents": {
            "name": "cents", "macro_sql": "{{ x }} / 100 -- €",
            "arguments": [{"name": "x", "type": None}, "y"],
        }
    }
    return man


def _rows_by_schema(man: dict) -> list[tuple[str, list, object]]:
    models = mf.parse_models(man)
    columns = mf.parse_columns(man)
    src_rows, src_col_rows = mf.parse_sources(man)
    postings, docstats = _build_postings_local(models, columns, EngineConfig())
    usage = [
        (1, datetime.datetime(2026, 1, 2, 3, 4, 5, 678901), "search_models",
         "wo sind die Umsätze", "explore", None, 2, 120, 35),
        (2, None, None, None, None, None, None, None, None),
    ]
    return [
        ("models", models, schemas.MODELS),
        ("columns", columns, schemas.COLUMNS),
        ("sources", src_rows, schemas.SOURCES),
        ("source_columns", src_col_rows, schemas.SOURCE_COLUMNS),
        ("tests", mf.parse_tests(man), schemas.TESTS),
        ("macros", mf.parse_macros(man), schemas.MACROS),
        ("exposures", mf.parse_exposures(man), schemas.EXPOSURES),
        ("edges", mf.parse_edges(man), schemas.EDGES),
        ("index_metadata", mf.parse_metadata(man), schemas.METADATA),
        ("usage_log", usage, schemas.USAGE_LOG),
        ("postings", postings, POSTINGS_DDL),
        ("docstats", docstats, DOCSTATS_DDL),
    ]


@pytest.mark.parametrize("which", ["fixture", "messy"])
def test_parity_with_create_dataframe(spark, which):
    man = mf.load_manifest(MANIFEST) if which == "fixture" else _messy_manifest()
    for name, rows, schema in _rows_by_schema(man):
        assert rows, name
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema, name
        assert got.collect() == want.collect(), name
        _assert_local(got, name)


def test_empty_frames_keep_their_schema(spark):
    for schema in (schemas.MODELS, schemas.USAGE_LOG, POSTINGS_DDL):
        got = local_frame(spark, [], schema)
        assert got.schema == spark.createDataFrame([], schema).schema
        assert got.collect() == []
        _assert_local(got, str(schema))


@pytest.mark.parametrize(
    "rows, schema",
    [
        # a float in an integral column: Arrow alone would truncate 1.5 to 1
        ([("a", 1.5)], "k string, n long"),
        # a wrong Python type
        ([("a", "7")], "k string, n long"),
        # None in a non-nullable field
        ([(None, 1)], T.StructType([
            T.StructField("k", T.StringType(), False),
            T.StructField("n", T.LongType()),
        ])),
    ],
    ids=["float-in-long", "str-in-long", "null-in-not-null"],
)
def test_bad_rows_raise_like_create_dataframe(spark, rows, schema):
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame(rows, schema)
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, schema)


def test_index_tables_are_local_relations(spark, tmp_path):
    idx = AriadneIndex.build(
        spark, MANIFEST, catalog_path=CATALOG, run_results_path=RUN_RESULTS
    )
    for t in TABLES:
        _assert_local(getattr(idx, t), f"build.{t}")

    man = mf.load_manifest(MANIFEST)
    node = man["nodes"]["model.webshop.fct_orders"]
    node["description"] = node["description"] + " refreshed with revenue"
    path = tmp_path / "manifest_changed.json"
    path.write_text(json.dumps(man))
    new = idx.refresh(str(path), catalog_path=CATALOG, run_results_path=RUN_RESULTS)
    assert new.last_refresh_stats["changed"] == 1
    for t in TABLES:
        _assert_local(getattr(new, t), f"refresh.{t}")

    from ariadne_dbt_spark.operators.model_search import search_models

    hits = search_models(new, "customer orders revenue", intent="debug",
                         exclude_ids=["model.webshop.stg_payments"])
    _assert_local(hits, "search_models")
    assert hits.count() > 0


def test_model_count_is_kept_on_the_index(spark, index, tmp_path):
    assert index.n_models == index.models.count() == 5
    index.save(str(tmp_path / "idx"))
    loaded = AriadneIndex.load(spark, str(tmp_path / "idx"))
    assert loaded.n_models == 5
    bare = AriadneIndex(**{t: getattr(index, t) for t in TABLES}, spark=spark)
    assert bare.n_models is None and bare.model_count() == 5


def test_no_create_dataframe_outside_the_helper():
    """Every driver-side frame goes through ``local_frame``: a direct
    ``createDataFrame(list, ...)`` builds a LogicalRDD over a PythonRDD,
    which forks Python workers on every job that scans it.
    ``workloads/`` builds bench rows and is exempt."""
    pkg = os.path.join(REPO, "ariadne_dbt_spark")
    offenders = []
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = [d for d in dirnames if d not in ("workloads", "__pycache__")]
        for fn in filenames:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            allowed: set[int] = set()
            if os.path.relpath(path, pkg) == "session.py":
                for node in ast.walk(tree):
                    if isinstance(node, ast.FunctionDef) and node.name in (
                        "local_frame", "verified_frame",  # its conversion step
                    ):
                        allowed |= {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in allowed
                ):
                    offenders.append(f"{os.path.relpath(path, REPO)}:{node.lineno}")
    assert offenders == [], "use session.local_frame instead: " + ", ".join(offenders)
