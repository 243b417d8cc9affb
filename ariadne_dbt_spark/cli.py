"""CLI serving layer (reference: src/ariadne_dbt/cli.py — typer there,
argparse here to stay inside the baked-in dependency set).

Commands mirror the reference's tool surface:

    init      one-shot onboarding: index + generate agent context files
    index     build the index from a manifest (+ optional catalog/run_results)
    refresh   incremental hash-delta reindex of a saved index
    diff      changed/added/removed models + downstream blast radius
    search    hybrid model search
    capsule   token-budgeted context capsule
    discover  names-only orientation list
    lineage   BFS up/down from a model
    impact    blast-radius analysis
    patterns  project pattern bundle
    docs      render markdown docs
    sync      re-index after dbt compile + regenerate context files
    run       execute the dbt project on Spark SQL
    test      run the project's data-quality tests
    stats     index/project statistics
    usage     usage-log analytics over a trailing window
    maintain  compaction-cadence report / fold for persisted indexes + tables
    table     managed-table DML: merge / delete-where / update-where /
              restore / vacuum / history / changes / enable-cdf (COW
              epoch flips, change feed, time-travel undo)
    view      aggregate materialized views: build / refresh / status
              (refresh folds the change-feed log — O(churn))
    delta     Delta Lake interop without the jars: snapshot / history /
              count / checkpoint / cleanup / zero-copy export + import
    serve     JSON-lines tool server (MCP via fastmcp when installed)

Every command loads (or builds) the index and prints JSON — the same
request/response shapes an MCP server would expose; serving transport is
intentionally thin. ``search``, ``capsule``, ``discover``, ``lineage`` and
``impact`` answer from the index's driver-local snapshot
(``AriadneIndex.local()``), like the tool server; the other commands run
DataFrame queries.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark():
    from ariadne_dbt_spark.session import get_spark

    return get_spark("ariadne-cli")


def _resolve_args(args) -> None:
    """Fill manifest/catalog/run_results/index_dir from project discovery
    (ariadne_spark.toml / dbt_project.yml walk-up, project_config.py)
    when not given explicitly — the reference's init/sync auto-discovery
    (reference: cli.py:48, config.py:88-159)."""
    if getattr(args, "manifest", None) or getattr(args, "index_dir", None):
        return
    from ariadne_dbt_spark.project_config import discover

    cfg = discover()
    if not cfg.manifest_path:
        raise SystemExit(
            "no --manifest given and no ariadne_spark.toml / dbt_project.yml "
            "found walking up from the current directory"
        )
    args.manifest = cfg.manifest_path
    for attr, val in (
        ("catalog", cfg.catalog_path),
        ("run_results", cfg.run_results_path),
        ("index_dir", cfg.index_dir),
    ):
        if not getattr(args, attr, None) and val:
            setattr(args, attr, val)


def _index(args):
    from ariadne_dbt_spark.config import EngineConfig
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex

    spark = _spark()
    _resolve_args(args)
    if getattr(args, "index_dir", None) and not getattr(args, "manifest", None):
        return AriadneIndex.load(spark, args.index_dir, EngineConfig())
    return AriadneIndex.build(
        spark,
        args.manifest,
        catalog_path=getattr(args, "catalog", None),
        run_results_path=getattr(args, "run_results", None),
    )


def _emit(obj) -> None:
    print(json.dumps(obj, indent=2, default=str))


def cmd_index(args):
    idx = _index(args)
    if args.out:
        idx.save(args.out)
    from ariadne_dbt_spark.operators.patterns import project_stats

    _emit({"indexed": project_stats(idx), "saved_to": args.out})


def cmd_init(args):
    """One-shot onboarding (reference: cli.py:26-129 `init`): index the
    dbt artifacts (catalog/run_results when present), optionally save the
    index, generate agent context files for the requested targets, and
    print an index summary."""
    from ariadne_dbt_spark.operators.generator import DocsGenerator
    from ariadne_dbt_spark.operators.patterns import project_stats

    idx = _index(args)
    if getattr(args, "index_dir", None):
        idx.save(args.index_dir)
    written = (
        []
        if args.skip_generate
        else DocsGenerator(idx).generate_all(args.project_root, targets=args.targets)
    )
    _emit(
        {
            "indexed": project_stats(idx),
            "catalog": bool(getattr(args, "catalog", None)),
            "run_results": bool(getattr(args, "run_results", None)),
            "saved_to": getattr(args, "index_dir", None),
            "generated": written,
            "next_steps": [
                "serve the tools: ariadne-spark serve",
                "after dbt compile: ariadne-spark sync",
            ],
        }
    )


def cmd_refresh(args):
    """Incremental hash-delta reindex: load the saved index, refresh it
    from the new manifest (only changed docs re-tokenize), save back."""
    from ariadne_dbt_spark.config import EngineConfig
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex

    _resolve_args(args)
    if not getattr(args, "index_dir", None):
        raise SystemExit("refresh requires --index-dir (a saved index to refresh)")
    spark = _spark()
    prev = AriadneIndex.load(spark, args.index_dir, EngineConfig())
    idx = prev.refresh(
        args.manifest,
        catalog_path=getattr(args, "catalog", None),
        run_results_path=getattr(args, "run_results", None),
    )
    idx.save(args.out or args.index_dir)
    _emit({"refreshed": idx.last_refresh_stats, "saved_to": args.out or args.index_dir})


def cmd_diff(args):
    """What changed between the saved index and a new manifest, with
    blast radius: the changed/added/removed model sets plus everything
    downstream of the changed+removed set (the "what changed since the
    last compile" view — reference roadmap's git-aware context, derived
    here from manifest deltas instead of git)."""
    from ariadne_dbt_spark.config import EngineConfig
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex
    from ariadne_dbt_spark.operators.graph import DOWNSTREAM, bfs

    _resolve_args(args)
    if not getattr(args, "index_dir", None):
        raise SystemExit("diff requires --index-dir (a saved index to diff against)")
    spark = _spark()
    prev = AriadneIndex.load(spark, args.index_dir, EngineConfig())
    delta = prev.manifest_delta(args.manifest)
    starts = delta["changed"] + delta["removed"]
    impacted: dict[str, list] = {"models": [], "exposures": [], "other": []}
    if starts:
        for r in bfs(prev.edges, starts, DOWNSTREAM, max_depth=10).collect():
            kind = r["unique_id"].split(".", 1)[0]
            bucket = {"model": "models", "exposure": "exposures"}.get(kind, "other")
            impacted[bucket].append({"unique_id": r["unique_id"], "distance": r["distance"]})
    _emit({**delta, "downstream_impact": impacted})


def cmd_search(args):
    snap = _index(args).local()
    t0 = time.perf_counter()
    hits = snap.search(args.query, intent=args.intent, limit=args.limit, layer=args.layer)
    _emit(
        {
            "query": args.query,
            "took_ms": round((time.perf_counter() - t0) * 1000, 1),
            "results": hits,
        }
    )


def cmd_capsule(args):
    _emit(
        _index(args).local().capsule(
            args.task,
            focus_model=args.focus_model,
            entry_models=args.entry_models,
            token_budget=args.token_budget,
        )
    )


def cmd_discover(args):
    _emit(
        _index(args).local().discover(
            args.task,
            focus_model=args.focus_model,
            entry_models=args.entry_models,
            limit=args.limit,
        )
    )


def _model_id(snap, name: str) -> str | None:
    """The first model named ``name``; emits the not-found error."""
    ids = snap.by_name(name)
    if not ids:
        _emit({"error": f"model not found: {name}"})
        return None
    return ids[0]


def cmd_lineage(args):
    snap = _index(args).local()
    uid = _model_id(snap, args.model)
    if uid is None:
        return 1
    _emit(snap.lineage(uid, depth=args.depth, direction=args.direction))


def cmd_impact(args):
    snap = _index(args).local()
    uid = _model_id(snap, args.model)
    if uid is None:
        return 1
    _emit(snap.impact(uid, depth=args.depth))


def cmd_patterns(args):
    from ariadne_dbt_spark.operators.patterns import extract_patterns

    _emit(extract_patterns(_index(args)))


def cmd_docs(args):
    from ariadne_dbt_spark.operators.generator import DocsGenerator

    written = DocsGenerator(_index(args)).write_docs(args.out)
    _emit({"written": written})


def cmd_sync(args):
    """Re-index after `dbt compile` and regenerate context files
    (reference: cli.py:164-207 `sync`). Incremental when a saved index
    exists at --index-dir, full build otherwise."""
    from ariadne_dbt_spark.config import EngineConfig
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex
    from ariadne_dbt_spark.operators.generator import DocsGenerator

    _resolve_args(args)
    spark = _spark()
    idx_dir = getattr(args, "index_dir", None)
    refreshed = None
    if idx_dir and os.path.isdir(idx_dir):
        prev = AriadneIndex.load(spark, idx_dir, EngineConfig())
        idx = prev.refresh(
            args.manifest,
            catalog_path=getattr(args, "catalog", None),
            run_results_path=getattr(args, "run_results", None),
        )
        refreshed = idx.last_refresh_stats
    else:
        idx = AriadneIndex.build(
            spark,
            args.manifest,
            catalog_path=getattr(args, "catalog", None),
            run_results_path=getattr(args, "run_results", None),
        )
    if idx_dir:
        idx.save(idx_dir)
    written = [] if args.skip_generate else DocsGenerator(idx).write_docs(args.out)
    _emit({"refreshed": refreshed, "saved_to": idx_dir, "written": written})


def cmd_usage(args):
    """Usage-log analytics (reference: cli.py:248-364 `usage`): call
    counts by tool/intent, daily trend, top focus models — or the 20
    most recent queries with --recent."""
    from ariadne_dbt_spark.operators.usage import UsageLog

    log = UsageLog(_spark(), args.log_dir)
    if args.recent:
        _emit(log.recent(limit=20))
    else:
        _emit(log.stats(days=args.days))


def _source_map(args) -> dict:
    out = {}
    for spec in args.source or []:
        key, path = spec.split("=", 1)
        src, tbl = key.split(".", 1)
        out[(src, tbl)] = path
    return out


def cmd_run(args):
    from ariadne_dbt_spark.ingest.manifest import load_manifest
    from ariadne_dbt_spark.plans.dbt_executor import DbtSparkExecutor

    _resolve_args(args)

    ex = DbtSparkExecutor(
        spark=_spark(),
        manifest=load_manifest(args.manifest),
        source_map=_source_map(args),
        target_dir=args.target,
    )
    rels = ex.run(args.models or None)
    _emit({name: df.count() for name, df in rels.items()})


def cmd_test(args):
    from ariadne_dbt_spark.ingest.manifest import load_manifest, parse_tests
    from ariadne_dbt_spark.plans.dbt_executor import DbtSparkExecutor
    from ariadne_dbt_spark.plans.quality import run_tests

    _resolve_args(args)
    spark = _spark()
    man = load_manifest(args.manifest)
    ex = DbtSparkExecutor(
        spark=spark, manifest=man, source_map=_source_map(args), target_dir=args.target
    )
    ex.run()
    results = run_tests(parse_tests(man), ex.relation, spark=spark)
    _emit([r.__dict__ for r in results])
    return 1 if any(r.status != "pass" for r in results) else 0


def cmd_stats(args):
    """Index/project statistics (reference: cli.py:210-246 `stats` —
    project name, adapter, totals, per-layer model counts, column test
    coverage). Usage analytics live under `usage`."""
    from ariadne_dbt_spark.operators.patterns import models_per_layer, project_stats

    idx = _index(args)
    meta = {r["key"]: r["value"] for r in idx.index_metadata.collect()}
    st = project_stats(idx)
    layers = {r["layer"]: r["n"] for r in models_per_layer(idx).collect()}
    coverage = (
        round(100.0 * st["tested_columns"] / st["columns"], 1) if st["columns"] else 0.0
    )
    _emit(
        {
            "project_name": meta.get("project_name"),
            "adapter": meta.get("adapter_type"),
            **st,
            "models_per_layer": layers,
            "column_coverage_pct": coverage,
        }
    )


def cmd_maintain(args):
    """Compaction-cadence report for a persisted serving index (round 8):
    metadata-only — parquet footers + the index meta, no Spark session —
    so it runs in milliseconds on any index dir. Prints the
    maintenance_report JSON (live files, dead/tombstone rows,
    should_compact + reasons); pass --kind to pick the index layout.
    ``--kind table`` targets a managed parquet table
    (operators/table_store.py): the report is the small-file OPTIMIZE
    signal and ``--compact`` runs the epoch-flip rewrite."""
    if args.kind == "table":
        from ariadne_dbt_spark.operators import table_store

        kw = {}
        if args.max_files is not None:
            kw["max_files"] = args.max_files
        report = table_store.table_report(args.index, **kw)
        compacted = False
        # an explicit layout request (--cluster-by/--zorder-by) is a
        # re-layout command, not a small-file question — run it even
        # when the fragmentation heuristic says the table is healthy
        explicit_layout = bool(args.cluster_by or args.zorder_by)
        if args.compact and (report["should_optimize"] or explicit_layout):
            from ariadne_dbt_spark.session import get_spark

            spark = get_spark("ariadne-maintain")
            table_store.optimize_table(
                spark,
                args.index,
                retention_sec=args.retention_sec,
                cluster_by=args.cluster_by.split(",") if args.cluster_by else None,
                zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
            )
            compacted = True
            report = table_store.table_report(args.index, **kw)
        _emit(
            {
                "index_dir": args.index,
                "kind": "table",
                "compacted": compacted,
                # retained versions: what read_table(epoch=) can still
                # pin, and the retirement stamps vacuum ages by
                "history": table_store.table_history(args.index),
                **report,
            }
        )
        return

    kw = {}
    if args.max_files is not None:
        kw["max_files"] = args.max_files
    if args.dead_frac is not None:
        kw["dead_frac_threshold"] = args.dead_frac
    if args.kind in ("ivf", "ivf-pq"):
        # one lifecycle serves both IVF codecs: the index dir names its own
        from ariadne_dbt_spark.operators.similarity import (
            ivf_compact as fold,
            ivf_maintenance_report as report_of,
        )
    elif args.kind == "shingle":
        # the shingle report adds the bloom-prefilter health signals
        from ariadne_dbt_spark.operators.dedup import (
            compact_shingle_index as fold,
            shingle_maintenance_report as report_of,
        )
    else:
        from ariadne_dbt_spark.operators.search_index import (
            compact_search_index as fold,
            search_maintenance_report as report_of,
        )
    report = report_of(args.index, **kw)
    compacted = False
    if args.compact and report["should_compact"]:
        # the one path here that needs Spark; retention keeps the
        # retired epoch scannable for readers in OTHER processes
        from ariadne_dbt_spark.session import get_spark

        spark = get_spark("ariadne-maintain")
        fold(spark, args.index, retention_sec=args.retention_sec)
        compacted = True
        report = report_of(args.index, **kw)
    _emit(
        {
            "index_dir": args.index,
            "kind": args.kind,
            "compacted": compacted,
            **report,
        }
    )


def cmd_table(args):
    """Ad-hoc DML + inspection for a managed parquet table
    (operators/table_store.py): ``history`` is metadata-only;
    ``changes`` prints the change feed between two retained epochs;
    ``merge`` / ``delete-where`` / ``update-where`` run the COW epoch
    flips and print their reports. The maintenance face (report /
    OPTIMIZE) lives under ``maintain --kind table``."""
    from ariadne_dbt_spark.operators import table_store
    from ariadne_dbt_spark.operators.table_store import DEFAULT_VACUUM_RETENTION_SEC

    # DML keeps the library default (0: single-process immediate GC);
    # only vacuum gets the guarded 7-day default below
    dml_retention = args.retention_sec if args.retention_sec is not None else 0.0
    if args.action == "history":
        _emit({"table_dir": args.dir, "history": table_store.table_history(args.dir)})
        return
    if args.action == "enable-cdf":
        table_store.enable_change_feed(args.dir)
        _emit({"table_dir": args.dir, "properties": table_store.get_table_properties(args.dir)})
        return
    if args.action == "restore":
        if args.epoch is None:
            raise SystemExit("restore needs --epoch")
        report = table_store.restore_table(
            args.dir, args.epoch, retention_sec=dml_retention
        )
        _emit({"table_dir": args.dir, **report})
        return
    if args.action == "vacuum":
        # Delta's retentionDurationCheck: vacuum destroys restore /
        # time-travel / change-feed history, so a bare `table vacuum`
        # must not default to retention 0. No --retention-sec -> the
        # 7-day default; an explicit sub-default value needs --force.
        retention = args.retention_sec
        if retention is None:
            retention = DEFAULT_VACUUM_RETENTION_SEC
        if args.dry_run:
            _emit(table_store.vacuum_table(args.dir, retention_sec=retention, dry_run=True))
            return
        if retention < DEFAULT_VACUUM_RETENTION_SEC and not args.force:
            raise SystemExit(
                f"table vacuum --retention-sec {retention:g} is below the "
                f"{DEFAULT_VACUUM_RETENTION_SEC:g}s default and would "
                f"irreversibly delete retained epochs (restore/time-travel/"
                f"changes history); pass --force to confirm"
            )
        _emit(table_store.vacuum_table(args.dir, retention_sec=retention))
        return

    from ariadne_dbt_spark.session import get_spark

    spark = get_spark("ariadne-table")
    if args.action == "changes":
        if args.from_epoch is None:
            raise SystemExit("changes needs --from-epoch")
        if args.log:
            # log-backed CDF: O(churn), needs enable-cdf before the
            # mutations and retention covering the range
            df = table_store.table_changes_log(
                spark, args.dir, from_epoch=args.from_epoch, to_epoch=args.to_epoch
            )
        else:
            if not args.keys:
                raise SystemExit("diff-based changes needs --keys")
            df = table_store.table_changes(
                spark,
                args.dir,
                [k.strip() for k in args.keys.split(",")],
                from_epoch=args.from_epoch,
                to_epoch=args.to_epoch,
                with_preimages=args.preimages,
            )
        _emit({"table_dir": args.dir, "changes": [r.asDict() for r in df.collect()]})
    elif args.action == "merge":
        if not args.source or not args.keys:
            raise SystemExit("merge needs --source and --keys")
        none_if = lambda v: None if v == "none" else v  # noqa: E731
        report = table_store.merge_table(
            spark,
            args.dir,
            spark.read.option("mergeSchema", "true").parquet(args.source),
            [k.strip() for k in args.keys.split(",")],
            when_matched=none_if(args.when_matched),
            when_not_matched=none_if(args.when_not_matched),
            when_matched_condition=args.condition,
            merge_schema=args.merge_schema,
            retention_sec=dml_retention,
        )
        _emit({"table_dir": args.dir, **report})
    elif args.action == "delete-where":
        if not args.predicate:
            raise SystemExit("delete-where needs --predicate")
        report = table_store.delete_where(
            spark, args.dir, args.predicate, retention_sec=dml_retention
        )
        _emit({"table_dir": args.dir, **report})
    else:  # update-where
        if not args.predicate or not args.set:
            raise SystemExit("update-where needs --predicate and --set col=expr")
        set_exprs = {}
        for item in args.set:
            col, _, expr = item.partition("=")
            if not expr:
                raise SystemExit(f"--set wants col=expr, got {item!r}")
            set_exprs[col.strip()] = expr
        report = table_store.update_where(
            spark, args.dir, set_exprs, args.predicate, retention_sec=dml_retention
        )
        _emit({"table_dir": args.dir, **report})


def cmd_delta(args):
    """Delta Lake interop (ingest/delta_reader.py — no delta-spark
    runtime): inspect a table's log, maintain it (checkpoint + JSON
    retention cleanup), and bridge zero-copy to/from managed tables."""
    from ariadne_dbt_spark.ingest import delta_reader as dr

    if args.action == "snapshot":
        snap = dr.delta_snapshot(args.path, version=args.version)
        snap["n_files"] = len(snap.pop("files"))
        _emit(snap)
        return
    if args.action == "history":
        _emit({"path": args.path, "history": dr.delta_history(args.path)})
        return
    if args.action == "checkpoint":
        _emit(dr.delta_checkpoint(args.path))
        return
    if args.action == "cleanup":
        _emit(dr.delta_log_cleanup(args.path, keep_versions=args.keep_versions))
        return

    from ariadne_dbt_spark.session import get_spark

    spark = get_spark("ariadne-delta")
    if args.action == "export":
        if not args.table:
            raise SystemExit("delta export needs --table (managed-table dir)")
        _emit(dr.export_table_to_delta(spark, args.table, args.path))
    elif args.action == "import":
        if not args.table:
            raise SystemExit("delta import needs --table (destination dir)")
        _emit(dr.import_delta_as_table(spark, args.path, args.table, version=args.version))
    else:  # count
        df = dr.read_delta(spark, args.path, version=args.version)
        _emit({"path": args.path, "n_rows": df.count(), "columns": df.columns})


def cmd_view(args):
    """Aggregate materialized views maintained from the change feed
    (operators/incremental_view.py): ``build`` materializes and writes
    the sync cursor, ``refresh`` folds the changes since the cursor
    (log-backed when the base table has enable-cdf; O(churn)),
    ``status`` is metadata-only."""
    from ariadne_dbt_spark.operators import incremental_view as iv

    if args.action == "status":
        _emit(iv.view_status(args.dir))
        return

    from ariadne_dbt_spark.session import get_spark

    spark = get_spark("ariadne-view")
    if args.action == "build":
        if not (args.table and args.row_keys and args.group_by and args.measure):
            raise SystemExit(
                "view build needs --table --row-keys --group-by and >=1 --measure"
            )
        measures = {}
        for item in args.measure:
            name, _, spec = item.partition("=")
            op, _, col = spec.partition(":")
            if (
                not name
                or op not in ("sum", "count", "avg")
                or (op in ("sum", "avg") and not col)
            ):
                raise SystemExit(
                    f"--measure wants name=sum:col | name=avg:col | "
                    f"name=count[:col], got {item!r}"
                )
            measures[name.strip()] = (op, col or None)
        _emit(
            iv.build_agg_view(
                spark,
                args.table,
                args.dir,
                row_keys=[k.strip() for k in args.row_keys.split(",")],
                group_by=[k.strip() for k in args.group_by.split(",")],
                measures=measures,
            )
        )
    else:
        _emit(iv.refresh_agg_view(spark, args.dir, retention_sec=args.retention_sec))


def cmd_serve(args):
    """Serve the tool surface: MCP when --transport is given (reference:
    cli.py:131-161) — fastmcp for any transport when installed, the
    built-in minimal MCP stdio/SSE servers otherwise — or the
    JSON-lines protocol on stdio without --transport."""
    from ariadne_dbt_spark.server import ToolServer

    server = ToolServer(_index(args), usage_dir=args.usage_dir)
    transport = getattr(args, "transport", None)
    if transport:
        from ariadne_dbt_spark.mcp_adapter import serve_mcp

        try:
            serve_mcp(server, transport=transport)
        except ImportError as e:
            raise SystemExit(str(e)) from e
    else:
        server.serve()


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ariadne-spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, manifest_required=False):
        # manifest is optional everywhere: _resolve_args discovers it from
        # ariadne_spark.toml / dbt_project.yml when omitted
        sp.add_argument("--manifest", required=manifest_required)
        sp.add_argument("--catalog")
        sp.add_argument("--run-results", dest="run_results")
        sp.add_argument("--index-dir", dest="index_dir")

    sp = sub.add_parser("index")
    common(sp)
    sp.add_argument("--out", default=None)
    sp.set_defaults(fn=cmd_index)

    sp = sub.add_parser("init")
    common(sp)
    sp.add_argument("--project-root", dest="project_root", default=".")
    sp.add_argument(
        "--target",
        dest="targets",
        action="append",
        default=None,
        help="agent targets (claude_code, cursor, windsurf); repeatable",
    )
    sp.add_argument("--skip-generate", action="store_true", dest="skip_generate")
    sp.set_defaults(fn=cmd_init)

    sp = sub.add_parser("refresh")
    common(sp)
    sp.add_argument("--out", default=None)
    sp.set_defaults(fn=cmd_refresh)

    sp = sub.add_parser("diff")
    common(sp)
    sp.set_defaults(fn=cmd_diff)

    sp = sub.add_parser("search")
    common(sp, manifest_required=False)
    sp.add_argument("query")
    sp.add_argument("--intent", default="explore")
    sp.add_argument("--limit", type=int, default=10)
    sp.add_argument("--layer")
    sp.set_defaults(fn=cmd_search)

    sp = sub.add_parser("capsule")
    common(sp, manifest_required=False)
    sp.add_argument("task")
    sp.add_argument("--focus-model", dest="focus_model")
    sp.add_argument("--entry-models", dest="entry_models", nargs="*")
    sp.add_argument("--token-budget", dest="token_budget", type=int, default=None)
    sp.set_defaults(fn=cmd_capsule)

    sp = sub.add_parser("discover")
    common(sp, manifest_required=False)
    sp.add_argument("task")
    sp.add_argument("--focus-model", dest="focus_model")
    sp.add_argument("--entry-models", dest="entry_models", nargs="*")
    sp.add_argument("--limit", type=int, default=40)
    sp.set_defaults(fn=cmd_discover)

    sp = sub.add_parser("lineage")
    common(sp, manifest_required=False)
    sp.add_argument("model")
    sp.add_argument("--depth", type=int, default=3)
    sp.add_argument("--direction", choices=["both", "upstream", "downstream"], default="both")
    sp.set_defaults(fn=cmd_lineage)

    sp = sub.add_parser("impact")
    common(sp, manifest_required=False)
    sp.add_argument("model")
    sp.add_argument("--depth", type=int, default=5)
    sp.set_defaults(fn=cmd_impact)

    sp = sub.add_parser("patterns")
    common(sp, manifest_required=False)
    sp.set_defaults(fn=cmd_patterns)

    sp = sub.add_parser("docs")
    common(sp, manifest_required=False)
    sp.add_argument("--out", required=True)
    sp.set_defaults(fn=cmd_docs)

    sp = sub.add_parser("sync")
    common(sp)
    sp.add_argument("--out", default=".claude")
    sp.add_argument("--skip-generate", action="store_true", dest="skip_generate")
    sp.set_defaults(fn=cmd_sync)

    sp = sub.add_parser("usage")
    sp.add_argument("--log-dir", dest="log_dir", required=True)
    sp.add_argument("--days", type=int, default=30)
    sp.add_argument("--recent", action="store_true")
    sp.set_defaults(fn=cmd_usage)

    sp = sub.add_parser("run")
    sp.add_argument("--manifest", required=True)
    sp.add_argument("--source", action="append", help="src.table=/path.parquet")
    sp.add_argument("--target")
    sp.add_argument("--models", nargs="*")
    sp.set_defaults(fn=cmd_run)

    sp = sub.add_parser("test")
    sp.add_argument("--manifest", required=True)
    sp.add_argument("--source", action="append")
    sp.add_argument("--target")
    sp.set_defaults(fn=cmd_test)

    sp = sub.add_parser("stats")
    common(sp, manifest_required=False)
    sp.set_defaults(fn=cmd_stats)

    sp = sub.add_parser(
        "maintain",
        help="compaction-cadence report for a persisted serving index (metadata-only)",
    )
    sp.add_argument("--index", required=True, help="index directory")
    sp.add_argument(
        "--kind",
        choices=("ivf", "ivf-pq", "shingle", "search", "table"),
        required=True,
    )
    sp.add_argument("--max-files", dest="max_files", type=int, default=None)
    sp.add_argument("--dead-frac", dest="dead_frac", type=float, default=None)
    sp.add_argument(
        "--compact",
        action="store_true",
        help="fold the log when the report says should_compact",
    )
    sp.add_argument(
        "--retention-sec",
        dest="retention_sec",
        type=float,
        default=0.0,
        help="keep retired epoch dirs younger than this (cross-process readers)",
    )
    sp.add_argument(
        "--cluster-by",
        dest="cluster_by",
        default=None,
        help="(--kind table) comma-separated keys to range-cluster the rewrite on",
    )
    sp.add_argument(
        "--zorder-by",
        dest="zorder_by",
        default=None,
        help="(--kind table) comma-separated NUMERIC keys to Z-order the rewrite on",
    )
    sp.set_defaults(fn=cmd_maintain)

    sp = sub.add_parser(
        "table",
        help="managed-table DML: merge / delete-where / update-where / history / changes",
    )
    sp.add_argument(
        "action",
        choices=(
            "history", "changes", "merge", "delete-where", "update-where",
            "restore", "vacuum", "enable-cdf",
        ),
    )
    sp.add_argument("--dir", required=True, help="managed table directory")
    sp.add_argument("--keys", default=None, help="comma-separated merge/diff key columns")
    sp.add_argument("--source", default=None, help="(merge) parquet path of the source batch")
    sp.add_argument(
        "--when-matched", dest="when_matched", default="update",
        choices=("update", "delete", "none"),
    )
    sp.add_argument(
        "--when-not-matched", dest="when_not_matched", default="insert",
        choices=("insert", "none"),
    )
    sp.add_argument(
        "--condition", default=None,
        help="(merge) guarded matched clause over aliases s/t, e.g. 's.ts >= t.ts'",
    )
    sp.add_argument(
        "--merge-schema", dest="merge_schema", action="store_true",
        help="(merge) allow the source to add columns (metadata-only evolution)",
    )
    sp.add_argument("--predicate", default=None, help="(delete-/update-where) SQL predicate")
    sp.add_argument(
        "--set", action="append", default=None,
        help="(update-where) col=expr, repeatable",
    )
    sp.add_argument("--epoch", type=int, default=None, help="(restore) epoch to restore")
    sp.add_argument("--from-epoch", dest="from_epoch", type=int, default=None)
    sp.add_argument("--to-epoch", dest="to_epoch", type=int, default=None)
    sp.add_argument(
        "--log", action="store_true",
        help="(changes) read the per-commit change logs (O(churn); needs "
        "enable-cdf) instead of diffing two versions",
    )
    sp.add_argument(
        "--preimages", action="store_true",
        help="(changes, diff mode) emit update_preimage rows too (Delta's "
        "full CDF contract)",
    )
    sp.add_argument(
        "--retention-sec", dest="retention_sec", type=float, default=None,
        help="keep retired epoch dirs younger than this (cross-process "
        "readers; DML default 0, vacuum default 7 days)",
    )
    sp.add_argument(
        "--force", action="store_true",
        help="(vacuum) allow --retention-sec below the 7-day default",
    )
    sp.add_argument(
        "--dry-run", dest="dry_run", action="store_true",
        help="(vacuum) report what this retention would delete; remove nothing",
    )
    sp.set_defaults(fn=cmd_table)

    sp = sub.add_parser(
        "view",
        help="incrementally maintained aggregate views: build / refresh / status",
    )
    sp.add_argument("action", choices=("build", "refresh", "status"))
    sp.add_argument("--dir", required=True, help="view directory")
    sp.add_argument("--table", default=None, help="(build) base managed-table dir")
    sp.add_argument("--row-keys", dest="row_keys", default=None,
                    help="(build) comma-separated base-row identity columns")
    sp.add_argument("--group-by", dest="group_by", default=None,
                    help="(build) comma-separated group columns")
    sp.add_argument(
        "--measure", action="append", default=None,
        help="(build) name=sum:col | name=avg:col | name=count[:col], repeatable",
    )
    sp.add_argument("--retention-sec", dest="retention_sec", type=float, default=0.0)
    sp.set_defaults(fn=cmd_view)

    sp = sub.add_parser(
        "delta",
        help="Delta Lake interop (no jars): snapshot / history / count / "
        "checkpoint / cleanup / export / import",
    )
    sp.add_argument(
        "action",
        choices=("snapshot", "history", "count", "checkpoint", "cleanup",
                 "export", "import"),
    )
    sp.add_argument("--path", required=True, help="Delta table path")
    sp.add_argument("--table", default=None,
                    help="(export: source / import: destination) managed-table dir")
    sp.add_argument("--version", type=int, default=None)
    sp.add_argument("--keep-versions", dest="keep_versions", type=int, default=0,
                    help="(cleanup) keep this many pre-checkpoint JSON commits")
    sp.set_defaults(fn=cmd_delta)

    sp = sub.add_parser(
        "serve", help="tool server: JSON-lines on stdio, or MCP via --transport"
    )
    common(sp, manifest_required=False)
    sp.add_argument("--usage-dir", dest="usage_dir")
    sp.add_argument(
        "--transport",
        choices=("stdio", "sse"),
        default=None,
        help="MCP transport: both work standalone (built-in minimal MCP servers; fastmcp preferred when installed); default: JSON-lines stdio",
    )
    sp.set_defaults(fn=cmd_serve)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args) or 0


if __name__ == "__main__":
    sys.exit(main())
