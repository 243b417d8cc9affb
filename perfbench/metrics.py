"""End-to-end and per-layer metric sets.

Every run prints the whole set for its mode, whatever the workload, so a
per-layer metric of a span the workload never enters reads 0. Per-span
times are therefore given as shares (of the span's own wall, or of the
workload's program time); absolute per-span seconds are in the trace
file. Run-level times are in seconds and are never 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import span_work

END_TO_END_UNITS = {"setup_s": "s", "pass_cost": "ref"}

#: the spans each benchmarked workload records around calls into the program
SPANS = {
    "serve": (
        "indexer.build",
        "indexer.refresh",
        "server.search_models_after_refresh",
    ),
    "store_churn": (
        "table_store.merge_table",
        "table_store.update_where",
        "table_store.delete_keys",
        "table_store.optimize_table",
        "incremental_view.refresh_agg_view",
        "incremental_view.read_view",
        "similarity.ivf_append",
        "similarity.ivf_delete",
        "similarity.ivf_query_index",
        "similarity.ivf_compact",
    ),
}
#: spans that also report the bytes their commit landed on disk
WRITE_SPANS = tuple(s for s in SPANS["store_churn"]
                    if s not in ("incremental_view.read_view", "similarity.ivf_query_index"))

RUN_METRICS = {
    "session.start_s": "s",
    "run.setup_s": "s",
    "run.pass_s": "s",
    "run.pass_cpu_s": "s",
    "run.jit_cpu_s": "s",
    "run.ref_cpu_s": "s",
    "run.warmup_s": "s",
    "run.driver_s": "s",
    "run.job_s": "s",
    "run.executor_cpu_s": "s",
    "run.pyworker_cpu_s": "s",
    "run.jobs": "count",
    "run.tasks": "count",
    "run.shuffle_write_bytes": "B",
    "run.spill_bytes": "B",
    "run.unattributed_jobs": "count",
    "run.peak_rss_mb": "MB",
}
SPAN_METRICS = {
    "jobs": "count",
    "tasks": "count",
    "share_pct": "%",
    "driver_pct": "%",
    "pyworker_pct": "%",
}
RATIO_METRICS = {
    "table_store.merge_table.files_touched_share": "ratio",
    "store_churn.write_amp": "ratio",
}


def per_layer_catalogue() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    out = dict(RUN_METRICS)
    for names in SPANS.values():
        for s in names:
            out.update({f"{s}.{k}": unit for k, unit in SPAN_METRICS.items()})
            if s in WRITE_SPANS:
                out[f"{s}.bytes_written"] = "B"
    out.update(RATIO_METRICS)
    return out


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def ops_in(spans, outer) -> list:
    """The program's calls (op spans) inside ``outer``'s interval."""
    return [s for s in spans if s.attrs.get("op")
            and outer.start <= s.start and (s.end or s.start) <= outer.end]


def end_to_end(setup_s: float, pass_cost: list[float]) -> dict:
    """``setup_s`` as the run measured it; ``pass_cost``: the median over
    passes of a pass's CPU (JIT compiler threads left out) in units of the
    speed gauge's reading over that pass."""
    values = {"setup_s": setup_s, "pass_cost": statistics.median(pass_cost)}
    return {name: _m(values[name], unit) for name, unit in END_TO_END_UNITS.items()}


def per_layer(workload, spans, jobs, outside, pass_spans, passes, pass_cpu, *, session_s,
              setup_s, warmup_s, pass_ref, pass_jit, peak_rss_mb, wl) -> dict:
    """Per-layer metrics of a traced run. Span counts are per call (median);
    ``share_pct`` is the span's share of all program time in the run,
    ``driver_pct`` the share of its own wall outside Spark jobs, and
    ``pyworker_pct`` the Python-worker CPU it used per second of its wall."""
    cat = per_layer_catalogue()
    vals = {name: 0 for name in cat}
    ops = [s for s in spans if s.attrs.get("op")]
    work = {s.idx: span_work(s, spans, jobs) for s in ops}

    # per pass: the program's ops inside it, the benchmark's checks left out
    keys = ("wall_s", "job_s", "driver_s", "jobs", "tasks", "executor_cpu_s",
            "shuffle_write_bytes", "spill_bytes")
    per_pass = []
    for ps in pass_spans:
        mine = ops_in(spans, ps)
        tot = {k: sum(work[s.idx][k] for s in mine) for k in keys}
        tot["pyworker_cpu_s"] = sum(s.attrs.get("pyworker_cpu_s", 0.0) for s in mine)
        per_pass.append(tot)

    def med(key):
        return statistics.median(p[key] for p in per_pass)

    vals.update({
        "session.start_s": session_s,
        "run.setup_s": setup_s,
        "run.pass_s": statistics.median(passes),
        "run.pass_cpu_s": statistics.median(pass_cpu),
        "run.jit_cpu_s": statistics.median(pass_jit),
        "run.ref_cpu_s": statistics.median(pass_ref),
        "run.warmup_s": warmup_s,
        "run.driver_s": med("driver_s"),
        "run.job_s": med("job_s"),
        "run.executor_cpu_s": med("executor_cpu_s"),
        "run.pyworker_cpu_s": med("pyworker_cpu_s"),
        "run.jobs": med("jobs"),
        "run.tasks": med("tasks"),
        "run.shuffle_write_bytes": med("shuffle_write_bytes"),
        "run.spill_bytes": med("spill_bytes"),
        "run.unattributed_jobs": len(outside),
        "run.peak_rss_mb": peak_rss_mb,
    })

    total_wall = sum(work[s.idx]["wall_s"] for s in ops) or 1.0
    for name in SPANS.get(workload, ()):
        mine = [s for s in ops if s.name == name]
        if not mine:
            continue
        w = [work[s.idx] for s in mine]
        wall = max(sum(x["wall_s"] for x in w), 1e-9)
        vals[f"{name}.jobs"] = statistics.median(x["jobs"] for x in w)
        vals[f"{name}.tasks"] = statistics.median(x["tasks"] for x in w)
        vals[f"{name}.share_pct"] = 100.0 * wall / total_wall
        vals[f"{name}.driver_pct"] = 100.0 * sum(x["driver_s"] for x in w) / wall
        vals[f"{name}.pyworker_pct"] = 100.0 * sum(
            s.attrs.get("pyworker_cpu_s", 0.0) for s in mine) / wall
        if name in WRITE_SPANS:
            vals[f"{name}.bytes_written"] = statistics.median(
                s.attrs.get("bytes_written", 0) for s in mine)

    if workload == "store_churn":
        vals["table_store.merge_table.files_touched_share"] = (
            statistics.mean(wl.touched) if wl.touched else 0.0)
        vals["store_churn.write_amp"] = wl.written_bytes / max(1, wl.submitted_bytes)
    return {name: _m(vals[name], unit) for name, unit in cat.items()}
