"""Tool server: the reference's MCP tool surface as a transport-thin
JSON-lines server (SURVEY §3.2-3.3; reference: src/ariadne_dbt/server.py
serves the same tools over fastmcp — fastmcp isn't in this image, and
the tool *semantics* are the parity target, so requests ride
one-JSON-object-per-line over stdio or any file pair).

Tools (names mirror the reference):
    search_models, get_model_details, get_lineage, get_impact_analysis,
    discover_models, get_context_capsule, get_project_patterns,
    refresh_index, usage_stats, find_models_by_column,
    find_models_by_path, rate_capsule, detect_antipatterns

``search_models``, ``get_model_details``, ``get_lineage``,
``get_impact_analysis``, ``discover_models`` and ``get_context_capsule``
answer from the index's driver-local snapshot (``AriadneIndex.local()``,
operators/local_cache.py) and run no Spark job. On a driver-side index
``refresh_index`` keeps the refreshed tables as driver rows and builds
the snapshot from them, so neither it nor the calls after it make a
py4j call; the tables' JVM frames are made when a DataFrame tool first
reads them. ``get_project_patterns`` is computed once per index
(``AriadneIndex.patterns()``). ``find_models_by_column``,
``find_models_by_path`` and ``detect_antipatterns`` run the DataFrame
operators, which also serve the oracle-gated workloads.

Every call is usage-logged (S8) with duration, like the reference.
"""

from __future__ import annotations

import json
import sys
import time

from ariadne_dbt_spark.config import BUDGET_FRACTIONS
from ariadne_dbt_spark.ingest.indexer import AriadneIndex
from ariadne_dbt_spark.operators.capsule import detect_intent, estimate_tokens, greedy_fill
from ariadne_dbt_spark.operators.model_search import find_by_column, find_by_path
from ariadne_dbt_spark.operators.usage import SessionEventLog, UsageLog

#: the column fields of a ``get_model_details`` answer
DETAIL_COLUMNS = (
    "model_id", "name", "data_type", "description", "is_primary_key",
    "is_foreign_key", "test_types",
)


class ToolServer:
    def __init__(self, index: AriadneIndex, *, usage_dir: str | None = None):
        self.index = index
        self.usage = UsageLog(index.spark, usage_dir) if usage_dir else None
        self.events = (
            SessionEventLog(index.spark, usage_dir + "_session_events")
            if usage_dir
            else None
        )
        #: log id of the most recent get_context_capsule call — the target
        #: of rate_capsule (reference: server.py:21,111,513)
        self._last_capsule_log_id: int | None = None
        #: one server process = one session in the events log
        self._session_id = "server"

    # -- tools ---------------------------------------------------------------
    def search_models(self, query: str, limit: int = 10, layer: str | None = None,
                      intent: str = "explore") -> dict:
        limit = max(1, min(int(limit), 50))  # O7 clamp (reference: server.py:363)
        hits = self.index.local().search(query, intent=intent, limit=limit, layer=layer)
        return {"results": hits}

    def _model_id(self, model_name: str) -> str | None:
        """The first model named ``model_name`` (case-insensitive)."""
        ids = self.index.local().by_name(model_name)
        return ids[0] if ids else None

    def get_model_details(self, model_name: str) -> dict:
        # name OR unique_id lookup (reference: server.py:196); error text
        # points at search_models like the reference's hint
        snap = self.index.local()
        uid = self._model_id(model_name) or (model_name if model_name in snap.models else None)
        if uid is None:
            return {
                "error": f"model not found: {model_name}. "
                "Use search_models to find similar names."
            }
        m = snap.models[uid]
        upstream, downstream = snap.neighbor_names(uid)
        return {
            "model": {k: m[k] for k in (
                "unique_id", "name", "layer", "materialization", "description",
                "file_path", "upstream_count", "downstream_count", "centrality")},
            # reference returns the executable definition too (server.py:226)
            "compiled_sql": m["compiled_code"] or m["raw_code"] or "",
            "columns": [{k: c[k] for k in DETAIL_COLUMNS} for c in snap.columns_with_tests(uid)],
            "tests": [
                {k: t[k] for k in ("unique_id", "name", "test_type", "column_name")}
                for t in snap.tests.get(uid, ())
            ],
            "upstream": upstream,
            "downstream": downstream,
            "coverage": snap.coverage(uid),
            "macros": snap.macros_used(uid),
            "sources": snap.direct_sources(uid),
        }

    def get_lineage(self, model_name: str, depth: int = 3, direction: str = "both") -> dict:
        depth = max(1, min(int(depth), 10))  # O7 clamp
        uid = self._model_id(model_name)
        if uid is None:
            return {"error": f"model not found: {model_name}"}
        return {"lineage": self.index.local().lineage(uid, depth=depth, direction=direction)}

    def get_impact_analysis(self, model_name: str, depth: int = 5) -> dict:
        uid = self._model_id(model_name)
        if uid is None:
            return {"error": f"model not found: {model_name}"}
        return self.index.local().impact(uid, depth=min(int(depth), 10))

    def discover_models(
        self,
        task: str,
        focus_model: str | None = None,
        entry_models: list[str] | None = None,
        entry_paths: list[str] | None = None,
        limit: int = 40,
    ) -> dict:
        # reference: server.py:117-146 — discover accepts the same
        # focus/entry anchors as get_context_capsule
        return {
            "models": self.index.local().discover(
                task,
                focus_model=focus_model,
                entry_models=entry_models,
                entry_paths=entry_paths,
                limit=limit,
            )
        }

    def get_context_capsule(self, task: str, focus_model: str | None = None,
                            entry_models: list[str] | None = None,
                            entry_paths: list[str] | None = None,
                            token_budget: int | None = None) -> dict:
        out = self.index.local().capsule(
            task, focus_model=focus_model, entry_models=entry_models,
            entry_paths=entry_paths, token_budget=token_budget,
        )
        # session memory (reference reserves session_context and its 5%
        # budget fraction but always emits {}; roadmap v1.0 "session
        # memory"): prior events of THIS server session, newest first,
        # greedy-filled into the session allocation
        if self.events is not None:
            alloc = int(out["token_budget"] * BUDGET_FRACTIONS["session"])
            recent = self.events.for_session(self._session_id)[-10:]
            items = [
                {
                    "event_type": e["event_type"],
                    "tool_name": e["tool_name"],
                    "ts": str(e["created_at"]),
                    "payload": e["payload"],
                }
                for e in reversed(recent)
            ]
            out["session_context"] = {
                "recent_events": greedy_fill(items, alloc, break_on_overflow=False)
            }
            out["token_estimate"] = estimate_tokens(out)
            self.events.record(
                self._session_id, "capsule", tool_name="get_context_capsule",
                payload={"task": task[:200], "intent": out["intent"]},
            )
        return out

    def find_models_by_column(self, column_name: str, limit: int = 20) -> dict:
        """Reference: server.py:399-420 — partial column-name match."""
        limit = max(1, min(int(limit), 50))
        results = [r.asDict() for r in find_by_column(self.index, column_name, limit=limit).collect()]
        return {"column_name": column_name, "count": len(results), "results": results}

    def find_models_by_path(self, path_pattern: str, limit: int = 20) -> dict:
        """Reference: server.py:425-445 — LIKE pattern over file_path."""
        limit = max(1, min(int(limit), 50))
        results = [r.asDict() for r in find_by_path(self.index, path_pattern, limit=limit).collect()]
        return {"path_pattern": path_pattern, "count": len(results), "results": results}

    def rate_capsule(self, rating: int, notes: str | None = None) -> dict:
        """Rate the most recent get_context_capsule call 1-5 (reference:
        server.py:497-527). Ratings append to the usage store and land in
        the session_events feedback log."""
        if self.usage is None:
            return {"error": "usage logging disabled"}
        log_id = self._last_capsule_log_id
        if log_id is None:
            return {"success": False, "error": "No capsule call found in this session yet."}
        rating = max(1, min(5, int(rating)))
        self.usage.rate(log_id, rating, notes or "")
        if self.events is not None:
            self.events.record(
                self._session_id, "validation", tool_name="rate_capsule",
                payload={"log_id": log_id, "rating": rating, "notes": notes or ""},
            )
        return {"success": True, "log_id": log_id, "rating": rating}

    def get_project_patterns(self) -> dict:
        return self.index.patterns()

    def detect_antipatterns(self, rules: list[str] | None = None) -> dict:
        """Project anti-pattern report (reference README roadmap v1.0;
        rule set in operators/antipatterns.py)."""
        from ariadne_dbt_spark.operators.antipatterns import RULES, detect_antipatterns

        wanted = tuple(r for r in (rules or RULES) if r in RULES)
        rows = [r.asDict() for r in detect_antipatterns(self.index, wanted).collect()]
        by_rule: dict[str, int] = {}
        for r in rows:
            by_rule[r["rule"]] = by_rule.get(r["rule"], 0) + 1
        return {"rules": list(wanted), "counts": by_rule, "violations": rows}

    def refresh_index(self, manifest_path: str, catalog_path: str | None = None,
                      run_results_path: str | None = None) -> dict:
        # incremental hash-delta refresh: only changed docs re-tokenize
        # (the reference rebuilds fully — server.py:449-492; its roadmap
        # defers the delta path to v1.0)
        self.index = self.index.refresh(
            manifest_path,
            catalog_path=catalog_path, run_results_path=run_results_path,
        )
        return {
            "status": "ok",
            "models": self.index.model_count(),
            "delta": self.index.last_refresh_stats,
        }

    def usage_stats(self, days: int = 30) -> dict:
        if self.usage is None:
            return {"error": "usage logging disabled"}
        return self.usage.stats(days=days)

    # -- dispatch ------------------------------------------------------------
    TOOLS = (
        "search_models", "get_model_details", "get_lineage", "get_impact_analysis",
        "discover_models", "get_context_capsule", "get_project_patterns",
        "refresh_index", "usage_stats", "find_models_by_column",
        "find_models_by_path", "rate_capsule", "detect_antipatterns",
    )

    def handle(self, request: dict) -> dict:
        tool = request.get("tool")
        args = request.get("args") or {}
        rid = request.get("id")
        if tool not in self.TOOLS:
            return {"id": rid, "error": f"unknown tool: {tool}", "tools": list(self.TOOLS)}
        t0 = time.perf_counter()
        try:
            result = getattr(self, tool)(**args)
            status = "ok"
        except TypeError as e:
            return {"id": rid, "error": f"bad arguments: {e}"}
        except Exception as e:  # surface, don't crash the loop
            result, status = {"error": f"{type(e).__name__}: {e}"}, "error"
        dur_ms = int((time.perf_counter() - t0) * 1000)
        if self.usage is not None:
            task = str(args.get("task") or args.get("query") or "")
            log_id = self.usage.record(
                tool, task_text=task,
                intent=detect_intent(task) if task else "",
                focus_model=str(args.get("focus_model") or ""),
                token_estimate=len(json.dumps(result, default=str)) // 4,
                duration_ms=dur_ms,
            )
            if tool == "get_context_capsule" and status == "ok":
                self._last_capsule_log_id = log_id
        return {"id": rid, "status": status, "took_ms": dur_ms, "result": result}

    def serve(self, infile=None, outfile=None) -> None:
        """One JSON request per line in, one JSON response per line out."""
        infile = infile or sys.stdin
        outfile = outfile or sys.stdout
        for line in infile:
            line = line.strip()
            if not line:
                continue
            try:
                req = json.loads(line)
            except json.JSONDecodeError as e:
                resp = {"error": f"bad json: {e}"}
            else:
                resp = self.handle(req)
            print(json.dumps(resp, default=str), file=outfile, flush=True)
