"""CLI surface: commands parse, run against the fixture manifest, and
print the JSON shapes the reference's typer commands expose
(reference: src/ariadne_dbt/cli.py — init/search/capsule/discover)."""

from __future__ import annotations

import json
import os

import pytest

from ariadne_dbt_spark.cli import main

MANIFEST = os.path.join(os.path.dirname(__file__), "fixtures", "manifest.json")


def _run(capsys, *argv) -> dict:
    assert main(list(argv)) == 0
    return json.loads(capsys.readouterr().out)


@pytest.mark.usefixtures("spark")
def test_cli_init_generates_context(tmp_path, capsys):
    out = _run(
        capsys,
        "init",
        "--manifest", MANIFEST,
        "--project-root", str(tmp_path),
        "--target", "claude_code",
        "--target", "cursor",
    )
    assert out["indexed"]["models"] == 5
    gen = {os.path.relpath(p, tmp_path) for p in out["generated"]}
    assert ".claude/CLAUDE.md" in gen
    assert ".cursor/rules/ariadne.mdc" in gen
    assert (tmp_path / ".claude" / "CLAUDE.md").exists()


@pytest.mark.usefixtures("spark")
def test_cli_init_skip_generate(tmp_path, capsys):
    out = _run(
        capsys,
        "init",
        "--manifest", MANIFEST,
        "--project-root", str(tmp_path),
        "--skip-generate",
    )
    assert out["generated"] == []
    assert not (tmp_path / ".claude").exists()


@pytest.mark.usefixtures("spark")
def test_cli_search_and_discover(capsys):
    out = _run(capsys, "search", "--manifest", MANIFEST, "orders revenue")
    assert out["results"] and all("unique_id" in h for h in out["results"])
    rows = _run(capsys, "discover", "--manifest", MANIFEST, "orders revenue")
    names = {m["name"] for m in rows}
    assert "fct_orders" in names


@pytest.mark.usefixtures("spark")
def test_cli_capsule_lineage_impact_answer_like_the_server(capsys):
    """The CLI answers from the same snapshot as the tool server: its
    capsule, lineage and impact equal the recorded server answers."""
    with open(os.path.join(os.path.dirname(MANIFEST), "serving_golden.json")) as f:
        golden = {k: v["result"] for k, v in json.load(f).items()}
    cap = _run(capsys, "capsule", "--manifest", MANIFEST, "debug failing test on orders")
    assert cap == golden["capsule_search"]
    lin = _run(capsys, "lineage", "--manifest", MANIFEST, "stg_orders", "--depth", "3")
    assert lin == golden["lineage_both"]["lineage"]
    imp = _run(capsys, "impact", "--manifest", MANIFEST, "stg_orders")
    assert imp == golden["impact_stg_orders"]
    assert main(["impact", "--manifest", MANIFEST, "no_such_model"]) == 1
    assert "model not found" in json.loads(capsys.readouterr().out)["error"]


@pytest.mark.usefixtures("spark")
def test_cli_stats_project_shape(capsys):
    out = _run(capsys, "stats", "--manifest", MANIFEST)
    assert out["models"] == 5 and out["sources"] == 3 and out["tests"] == 5
    assert out["project_name"] == "webshop" and out["adapter"] == "spark"
    assert set(out["models_per_layer"]) >= {"staging", "marts"}
    assert 0.0 <= out["column_coverage_pct"] <= 100.0


@pytest.mark.usefixtures("spark")
def test_cli_serve_transport_sse_dispatches_builtin(monkeypatch):
    # sse now has a standalone fallback (the built-in stdlib SSE MCP
    # server). The real serve loop blocks forever, so stub it and assert
    # the CLI routes there; the live server itself is driven end-to-end
    # by the parameterized handshake test in test_server_tools_mcp.py.
    from ariadne_dbt_spark import mcp_adapter
    from ariadne_dbt_spark.mcp_adapter import mcp_available
    from ariadne_dbt_spark.server import ToolServer

    if mcp_available():  # pragma: no cover - not in this image
        pytest.skip("fastmcp installed")
    served = {}
    monkeypatch.setattr(
        mcp_adapter, "serve_mcp_sse",
        lambda server, *a, **k: served.setdefault("server", server),
    )
    main(["serve", "--manifest", MANIFEST, "--transport", "sse"])
    assert isinstance(served["server"], ToolServer)


def test_cli_serve_transport_stdio_speaks_mcp(capsys, monkeypatch):
    # stdio works WITHOUT fastmcp via the built-in minimal MCP server:
    # a real initialize + tools/list session through the CLI entrypoint
    import io
    import json as _json

    frames = [
        {"jsonrpc": "2.0", "id": 1, "method": "initialize",
         "params": {"protocolVersion": "2024-11-05", "capabilities": {},
                    "clientInfo": {"name": "cli-test", "version": "0"}}},
        {"jsonrpc": "2.0", "method": "notifications/initialized"},
        {"jsonrpc": "2.0", "id": 2, "method": "tools/list"},
    ]
    monkeypatch.setattr(
        "sys.stdin", io.StringIO("".join(_json.dumps(f) + "\n" for f in frames))
    )
    main(["serve", "--manifest", MANIFEST, "--transport", "stdio"])
    out = [
        _json.loads(line)
        for line in capsys.readouterr().out.splitlines()
        if line.startswith("{") and '"jsonrpc"' in line
    ]
    resps = {r["id"]: r for r in out}
    assert resps[1]["result"]["serverInfo"]["name"] == "ariadne-dbt-spark"
    assert {t["name"] for t in resps[2]["result"]["tools"]} >= {
        "search_models", "get_context_capsule",
    }


def test_cli_maintain_reports_index_health(tmp_path, capsys, spark):
    """Round 8: `maintain` prints the metadata-only compaction-cadence
    report for a persisted index without needing a manifest or (for the
    report itself) a Spark job."""
    from ariadne_dbt_spark.operators.similarity import ivf_build_index, ivf_delete

    idx = str(tmp_path / "ivf")
    emb = spark.createDataFrame(
        [(i, [float(((i * 7 + j * 3) % 10)) for j in range(8)]) for i in range(30)],
        "vec_id bigint, embedding array<float>",
    )
    ivf_build_index(emb, idx, n_centroids=4, iters=2)
    ivf_delete(spark, idx, [1, 2, 3])
    out = _run(capsys, "maintain", "--index", idx, "--kind", "ivf")
    assert out["kind"] == "ivf" and out["total_rows"] == 30
    assert out["tombstone_rows"] == 3
    assert "should_compact" in out and "reasons" in out


def test_cli_maintain_compact_folds_when_signal_fires(tmp_path, capsys, spark):
    """`maintain --compact` folds the log only when should_compact, and
    --retention-sec keeps the retired epoch dir for cross-process
    readers; the post-fold report is re-emitted with compacted=true.
    Runs for both IVF kinds (raw vectors and PQ codes)."""
    import os

    from ariadne_dbt_spark.operators import epoch_store
    from ariadne_dbt_spark.operators.similarity import (
        ivf_build_index,
        ivf_delete,
        ivf_pq_build_index,
    )

    emb = spark.createDataFrame(
        [(i, [float(((i * 7 + j * 3) % 10)) for j in range(8)]) for i in range(30)],
        "vec_id bigint, embedding array<float>",
    )
    for kind, data in (("ivf", "vectors"), ("ivf-pq", "codes")):
        idx = str(tmp_path / kind)
        if kind == "ivf":
            ivf_build_index(emb, idx, n_centroids=4, iters=2)
        else:
            ivf_pq_build_index(emb, idx, n_centroids=4, iters=2, m=4, k_sub=4)
        ivf_delete(spark, idx, list(range(10)))  # 33% tombstoned -> fires
        old_data = epoch_store.data_dir(idx, data, epoch_store.read_epoch(idx))
        out = _run(
            capsys, "maintain", "--index", idx, "--kind", kind,
            "--compact", "--retention-sec", "3600",
        )
        assert out["kind"] == kind and out["compacted"] is True
        assert out["tombstone_rows"] == 0 and out["should_compact"] is False
        assert out["total_rows"] == 20  # the fold dropped the tombstoned rows
        assert os.path.isdir(old_data)  # retention kept the retired epoch
        # signal clear -> a second --compact run is a no-op
        out2 = _run(
            capsys, "maintain", "--index", idx, "--kind", kind, "--compact",
        )
        assert out2["compacted"] is False


def test_cli_maintain_shingle_sees_bloom_health(tmp_path, capsys, spark):
    """`maintain --kind shingle` prints the shingle report, bloom
    prefilter health included: with a committed gen's bloom partial
    gone, the prefilter is inactive and the report asks for the
    compaction that refolds it, which `--compact` then runs."""
    from ariadne_dbt_spark.operators.dedup import (
        append_to_shingle_index,
        build_shingle_index,
    )

    idx = str(tmp_path / "shingle")
    docs = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}") for i in range(6)],
        "doc_id bigint, text string",
    )
    build_shingle_index(docs, idx, "doc_id", "text", n=3)
    batch = spark.createDataFrame(
        [(10, "one two three four five six")], "doc_id bigint, text string"
    )
    append_to_shingle_index(batch, idx, "doc_id", "text")
    os.remove(os.path.join(idx, "_bloom_gen1.bin"))

    out = _run(capsys, "maintain", "--index", idx, "--kind", "shingle")
    assert out["bloom"]["prefilter_active"] is False
    assert out["should_compact"] is True and out["compacted"] is False

    out = _run(capsys, "maintain", "--index", idx, "--kind", "shingle", "--compact")
    assert out["compacted"] is True and out["epoch"] == 1
    assert out["bloom"]["prefilter_active"] is True


def test_cli_maintain_table_kind_reports_and_optimizes(tmp_path, capsys, spark):
    """Round 9: `maintain --kind table` prints the managed-table
    OPTIMIZE signal and `--compact` runs the epoch-flip rewrite."""
    from ariadne_dbt_spark.operators.epoch_store import read_epoch
    from ariadne_dbt_spark.operators.table_store import read_table, write_table

    tdir = str(tmp_path / "tbl")
    write_table(spark, spark.range(2000).repartition(12), tdir)
    out = _run(capsys, "maintain", "--index", tdir, "--kind", "table",
               "--max-files", "4")
    assert out["kind"] == "table" and out["n_files"] == 12
    assert out["should_optimize"] and not out["compacted"]

    out = _run(capsys, "maintain", "--index", tdir, "--kind", "table",
               "--max-files", "4", "--compact")
    assert out["compacted"] and out["epoch"] == 1 and out["n_files"] <= 4
    assert read_epoch(tdir) == 1
    assert read_table(spark, tdir).count() == 2000


def test_cli_table_dml_roundtrip(tmp_path, capsys, spark):
    """Round 9: `table` runs the managed-table DML surface end to end —
    merge a parquet source batch, update-where, delete-where, then read
    the history and the change feed — each printing its JSON report."""
    from pyspark.sql import functions as F

    from ariadne_dbt_spark.operators.table_store import read_table, write_table

    tdir = str(tmp_path / "tbl")
    write_table(
        spark,
        spark.range(100).select(
            F.col("id"), (F.col("id") % 5).alias("grp"), F.lit(10).alias("v")
        ),
        tdir,
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(5, 0, 99), (200, 0, 99)], "id bigint, grp bigint, v int"
    ).write.parquet(src)

    out = _run(
        capsys, "table", "merge", "--dir", tdir, "--source", src,
        "--keys", "id", "--retention-sec", "3600",
    )
    assert out["rows_updated"] == 1 and out["rows_inserted"] == 1

    out = _run(
        capsys, "table", "update-where", "--dir", tdir,
        "--predicate", "id = 7", "--set", "v=v + 5", "--retention-sec", "3600",
    )
    assert out["rows_updated"] == 1

    out = _run(
        capsys, "table", "delete-where", "--dir", tdir,
        "--predicate", "id = 9", "--retention-sec", "3600",
    )
    assert out["rows_deleted"] == 1

    got = {r["id"]: r["v"] for r in read_table(spark, tdir).collect()}
    assert got[5] == 99 and got[7] == 15 and got[200] == 99 and 9 not in got

    out = _run(capsys, "table", "history", "--dir", tdir)
    assert [h["epoch"] for h in out["history"]] == [0, 1, 2, 3]

    out = _run(
        capsys, "table", "changes", "--dir", tdir,
        "--keys", "id", "--from-epoch", "0",
    )
    ch = {(c["id"], c["_change_type"]) for c in out["changes"]}
    assert ch == {
        (5, "update_postimage"),
        (7, "update_postimage"),
        (200, "insert"),
        (9, "delete"),
    }


def test_cli_table_restore_and_vacuum(tmp_path, capsys, spark):
    from pyspark.sql import functions as F

    from ariadne_dbt_spark.operators.table_store import read_table, write_table

    tdir = str(tmp_path / "rtbl")
    write_table(spark, spark.range(5).select(F.col("id"), F.lit(1).alias("v")), tdir)
    src = str(tmp_path / "rsrc")
    spark.createDataFrame([(0, 99)], "id bigint, v int").write.parquet(src)
    _run(
        capsys, "table", "merge", "--dir", tdir, "--source", src,
        "--keys", "id", "--retention-sec", "3600",
    )

    out = _run(capsys, "table", "restore", "--dir", tdir, "--epoch", "0",
               "--retention-sec", "3600")
    assert out["new_epoch"] == 2
    assert read_table(spark, tdir).where(F.col("v") == 99).count() == 0

    # bare vacuum is guarded by the 7-day default retention: recently
    # retired epochs survive (round-9 advice — a bare `table vacuum`
    # must not destroy restore/time-travel history)
    out = _run(capsys, "table", "vacuum", "--dir", tdir)
    assert {h["epoch"] for h in out["history"]} == {0, 1, 2}
    # sub-default retention without --force refuses
    with pytest.raises(SystemExit):
        _run(capsys, "table", "vacuum", "--dir", tdir, "--retention-sec", "0")
    capsys.readouterr()
    out = _run(capsys, "table", "vacuum", "--dir", tdir,
               "--retention-sec", "0", "--force")
    assert [h["epoch"] for h in out["history"]] == [2]


def test_cli_view_build_refresh_status(tmp_path, capsys, spark):
    from decimal import Decimal

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from ariadne_dbt_spark.operators.table_store import merge_table, write_table

    tdir = str(tmp_path / "vbase")
    write_table(
        spark,
        spark.range(100).select(
            F.col("id"),
            (F.col("id") % 3).cast("int").alias("g"),
            F.lit(Decimal("2.50")).cast("decimal(10,2)").alias("amt"),
        ),
        tdir,
    )
    _run(capsys, "table", "enable-cdf", "--dir", tdir)
    vdir = str(tmp_path / "v")
    out = _run(
        capsys, "view", "build", "--dir", vdir, "--table", tdir,
        "--row-keys", "id", "--group-by", "g",
        "--measure", "total=sum:amt", "--measure", "n=count",
    )
    assert out["n_groups"] == 3

    merge_table(
        spark, tdir,
        spark.createDataFrame([Row(id=500, g=9, amt=Decimal("1.00"))],
                              "id long, g int, amt decimal(10,2)"),
        ["id"], retention_sec=3600,
    )
    st = _run(capsys, "view", "status", "--dir", vdir)
    assert st["stale"] is True
    out = _run(capsys, "view", "refresh", "--dir", vdir)
    assert out["refreshed"] and out["mode"] == "log"
    st = _run(capsys, "view", "status", "--dir", vdir)
    assert st["stale"] is False

    # the log-backed CLI changes reader sees the merge's insert row
    ch = _run(capsys, "table", "changes", "--dir", tdir,
              "--from-epoch", "0", "--log")
    assert [c["_change_type"] for c in ch["changes"]] == ["insert"]


def test_cli_delta_roundtrip(tmp_path, capsys, spark):
    from pyspark.sql import functions as F

    from ariadne_dbt_spark.operators.table_store import read_table, write_table

    tdir = str(tmp_path / "dsrc")
    write_table(spark, spark.range(20).select(F.col("id")), tdir)
    dpath = str(tmp_path / "dl")
    out = _run(capsys, "delta", "export", "--table", tdir, "--path", dpath)
    assert out["n_files_linked"] >= 1

    out = _run(capsys, "delta", "snapshot", "--path", dpath)
    assert out["version"] == 0 and out["n_files"] >= 1
    out = _run(capsys, "delta", "count", "--path", dpath)
    assert out["n_rows"] == 20

    _run(capsys, "delta", "checkpoint", "--path", dpath)
    out = _run(capsys, "delta", "cleanup", "--path", dpath)
    assert out["removed_versions"] == [0]
    assert _run(capsys, "delta", "count", "--path", dpath)["n_rows"] == 20

    tdir2 = str(tmp_path / "dimp")
    _run(capsys, "delta", "import", "--path", dpath, "--table", tdir2)
    assert read_table(spark, tdir2).count() == 20
