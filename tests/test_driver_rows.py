"""A driver-side index holds its tables as driver rows.

``AriadneIndex.build`` and ``refresh`` on a metadata-scale manifest keep
each table's rows; a table's JVM ``LocalRelation`` is made when a
DataFrame consumer first reads it. Pinned here: repeated refreshes keep
every search table one flat ``LocalRelation`` and drop the old index; a
warm build, refresh and served search send no py4j command; every table
read lazily holds the rows of an eagerly built index (also across
``save``/``load`` and ``cache``); a malformed row still fails the
build or refresh call itself, and a table's first read verifies no row
again.
"""

from __future__ import annotations

import gc
import threading
import weakref

import pytest

from ariadne_dbt_spark.config import EngineConfig
from ariadne_dbt_spark.ingest import manifest as mf
from ariadne_dbt_spark.ingest.indexer import TABLES, AriadneIndex
from ariadne_dbt_spark.operators.local_cache import LocalIndexCache
from ariadne_dbt_spark.server import ToolServer

from conftest import MANIFEST
from test_served_snapshot import _assert_same_snapshot, _fixture, _modified, _write


def _plain(v):
    """A collected value in a comparable form: maps as sorted items."""
    if isinstance(v, dict):
        return tuple(sorted((k, _plain(x)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(_plain(x) for x in v)
    return v


def _rows(df) -> list:
    """The frame's rows by column name, in a fixed order."""
    return sorted(
        (tuple(sorted((k, _plain(v)) for k, v in r.asDict().items())) for r in df.collect()),
        key=repr,
    )


def test_refreshes_keep_flat_search_tables(spark, tmp_path):
    edited = _write(tmp_path, _modified(_fixture()))
    first = AriadneIndex.build(spark, MANIFEST)
    old = weakref.ref(first)
    idx = first
    del first
    for i in range(20):
        idx = idx.refresh(edited if i % 2 == 0 else MANIFEST)
    assert idx.last_refresh_stats["changed"] == 1
    fresh = AriadneIndex.build(spark, MANIFEST)
    for t in ("postings", "docstats"):
        plan = getattr(idx, t)._jdf.queryExecution().analyzed()
        assert plan.nodeName() == "LocalRelation", plan.toString()
        assert plan.children().isEmpty(), plan.toString()
        assert _rows(getattr(idx, t)) == _rows(getattr(fresh, t)), t
    gc.collect()
    assert old() is None, "a refreshed index still holds the first one"


def test_warm_build_refresh_and_search_send_no_py4j_command(spark, tmp_path, monkeypatch):
    edited = _write(tmp_path, _modified(_fixture()))

    def serve():
        srv = ToolServer(AriadneIndex.build(spark, MANIFEST))
        for req in (
            {"tool": "refresh_index", "args": {"manifest_path": edited}},
            {"tool": "search_models", "args": {"query": "customer orders"}},
        ):
            resp = srv.handle(req)
            assert resp["status"] == "ok", resp
        return srv

    serve()  # warm: imports and first-use caches
    client = spark.sparkContext._gateway._gateway_client
    real, sent, caller = client.send_command, [], threading.current_thread()

    def spy(command, *args, **kwargs):
        # the calls run on this thread; another thread may release
        # proxies of earlier tests meanwhile
        if threading.current_thread() is caller:
            sent.append(command)
        return real(command, *args, **kwargs)

    # release earlier proxies now: their finalizers send py4j commands too
    gc.collect()
    monkeypatch.setattr(client, "send_command", spy)
    gc.disable()
    try:
        srv = serve()
    finally:
        gc.enable()
        monkeypatch.undo()
    assert sent == []
    assert srv.index.last_refresh_stats["changed"] == 1


def test_every_table_reads_the_rows_of_an_eager_build(spark, tmp_path):
    eager = AriadneIndex.build(spark, MANIFEST, config=EngineConfig(local_build_max_models=0))
    want = {t: _rows(getattr(eager, t)) for t in TABLES}
    built = AriadneIndex.build(spark, MANIFEST)
    twice = built.refresh(_write(tmp_path, _modified(_fixture()))).refresh(MANIFEST)
    assert twice.last_refresh_stats["changed"] == 1
    built.save(str(tmp_path / "saved"))
    loaded = AriadneIndex.load(spark, str(tmp_path / "saved"))
    for name, idx in (("built", built), ("twice", twice), ("loaded", loaded)):
        for t in TABLES:
            assert _rows(getattr(idx, t)) == want[t], (name, t)
        _assert_same_snapshot(idx.local(), LocalIndexCache.from_index(idx))
    twice.cache()
    for t in TABLES:
        assert _rows(getattr(twice, t)) == want[t], ("cached", t)
    _assert_same_snapshot(twice.local(), LocalIndexCache.from_index(twice))


def test_first_frame_reads_verify_no_row_again(spark, tmp_path, monkeypatch):
    """``build`` and ``refresh`` verify their rows; a table's first
    DataFrame read only converts the rows it holds."""
    from ariadne_dbt_spark import session
    from ariadne_dbt_spark.ingest import indexer

    built = AriadneIndex.build(spark, MANIFEST)
    refreshed = built.refresh(_write(tmp_path, _modified(_fixture())))
    real, calls = session.verify_rows, []

    def spy(rows, schema):
        calls.append(schema)
        return real(rows, schema)

    monkeypatch.setattr(session, "verify_rows", spy)
    monkeypatch.setattr(indexer, "verify_rows", spy)
    for idx in (built, refreshed):
        for t in TABLES:
            getattr(idx, t)
    assert calls == []


@pytest.mark.parametrize("call", ["build", "refresh"])
def test_a_malformed_row_fails_the_call(spark, index, monkeypatch, call):
    parse = mf.parse_exposures

    def bad(man):
        rows = parse(man)
        rows[0]["tags"] = "not a list"  # an array column
        return rows

    monkeypatch.setattr(mf, "parse_exposures", bad)
    with pytest.raises(TypeError):
        if call == "build":
            AriadneIndex.build(spark, MANIFEST)
        else:
            index.refresh(MANIFEST)
