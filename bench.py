"""Benchmark harness: runs the headline workloads at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <sf>}

Per-query time = build the DataFrame + execute to completion (count()),
cold plans, shared SparkSession (session startup excluded — the
reference's latency targets also exclude process startup; BASELINE.md).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: headline set: one per operator family (SURVEY §2 + scale extensions)
HEADLINE = [
    "pricing_summary",
    "topk_customers_by_revenue",
    "revenue_by_region",
    "customer_lifetime_value",
    "budget_fill_orders",
    "bm25_index_build",
    "bm25_search",
    "term_frequency_topk",
    "bfs_downstream",
    "impact_by_kind",
    "daily_event_stats",
    "user_sessions",
    "exact_dedup_groups",
    "ngram_jaccard_near_dups",
    # round 9: the Bloom-pruned decontamination path — tracked because
    # its scale claim (map-only prefilter, candidate-sized verify
    # shuffle) is a PERFORMANCE contract; the oracle row only proves
    # semantics
    "bloom_decontamination_check",
    # round 9: the persisted-artifact twin — its warm number is the
    # per-batch serving cost (bitmap load + map-only probe + verify),
    # with the benchmark-side build inside the row like the one-shot
    "decontamination_index_check",
    # round 9: row-level MERGE on the managed table store — tracked
    # because its contract is a COST shape (O(source + touched files)
    # via footer pruning + hard-link carry), and the row includes the
    # full lifecycle (write, cluster, merge, delete, read back)
    "table_merge_upsert",
    # round 10: incremental view maintenance folded from the per-commit
    # change-feed LOG — tracked because its contract is a COST shape
    # (refresh O(churn), never a base-table rescan); the row runs the
    # whole lifecycle (build view, mutate base thrice, log-fold refresh)
    "incremental_agg_view",
    "exact_substring_excision",
    "minhash_lsh_candidates",
    "simhash_fingerprints",
    "ann_brute_force_topk",
    "ann_pq_lossless_topk",
    "doc_quality_scores",
    "lang_detect_confusion",
    # round 8: train/infer split (the bm25_index_build/bm25_search
    # pattern) — lang_detect_confusion trains the LR per invocation (the
    # gate fold), so an inference-path regression would hide inside its
    # training noise; langid_infer's WARM number is pure map-only
    # inference under the train-once cache
    "langid_train",
    "langid_infer",
    "doc_lm_cross_entropy",
    "semantic_dedup_flags",
    "shared_span_pairs",
    "containment_snippet_pairs",
    "scd2_user_state_history",
    "triangle_clustering",
    "weighted_sample_docs",
    "phrase_search_hits",
    "block_pack_chunks",
    "corpus_drift_psi",
    "rrf_hybrid_retrieval",
    # the composed end-to-end pipeline (quality filter → exact dedup →
    # near-dup → deterministic shuffle → shards) gets its own tracked
    # number: individual stage numbers above don't expose regressions in
    # the composition (extra shuffles between stages, lost co-partition)
    "corpus_build_pipeline",
    # bm25_incremental_upsert is gate-covered but excluded: its wall
    # clock is ~80% the from-scratch index build it starts from, which
    # bm25_index_build already measures — the upsert delta itself is
    # O(batch) (see SCALE.md search section).
    # pagerank_hierarchy / stream_click_attribution are gate-covered but
    # excluded here: at bench scale they measure the per-iteration stage
    # floor and streaming-query startup (both ~7s constants), not
    # operator throughput — including them would swamp the suite total
    # with fixed overheads that vanish at real data sizes.
]


#: reference interactive targets (BASELINE.md; P95, milliseconds)
LATENCY_TARGETS_MS = {"search": 100, "capsule": 500, "lineage": 50, "patterns": 200}
LATENCY_ROUNDS = 10


def _pctl(xs: list[float], pct: float) -> float:
    xs = sorted(xs)
    k = (len(xs) - 1) * pct / 100
    lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def latency_section(spark) -> dict:
    """P50/P95 of the interactive serving path on a 500-model synthetic
    manifest — mirrors the reference harness (reference:
    benchmarks/run.py:200-240: 10 rounds per op, search/capsule/lineage/
    patterns + index build). Every op goes through ``ToolServer.handle``,
    the path the CLI and the MCP adapter serve."""
    import importlib.util

    repo = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "make_big_manifest", os.path.join(repo, "tests", "fixtures", "make_big_manifest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    man_path = os.path.join(repo, ".tmp", "big_manifest.json")
    os.makedirs(os.path.dirname(man_path), exist_ok=True)
    with open(man_path, "w") as f:
        json.dump(mod.make_manifest(500), f)

    from ariadne_dbt_spark.ingest.indexer import AriadneIndex
    from ariadne_dbt_spark.server import ToolServer

    # warm the Arrow/pandas-UDF worker pool once so the timed build
    # measures steady-state rebuild cost, not first-ever Python worker
    # startup (the JVM side is warmed by main()'s first query the same
    # way; the reference's <5s target is likewise a warm-process number)
    from ariadne_dbt_spark.functions.porter import stem_array_udf
    from pyspark.sql import functions as _F

    spark.range(1).select(
        stem_array_udf()(_F.array(_F.lit("warming"))).alias("w")
    ).count()

    t0 = time.perf_counter()
    idx = AriadneIndex.build(spark, man_path)
    build_sec = round(time.perf_counter() - t0, 3)
    cache = idx.local()
    server = ToolServer(idx)

    central = max(
        cache.models.values(),
        key=lambda m: (m["centrality"] or 0.0, m["unique_id"]),
    )["name"]
    requests = {
        "search": ("search_models", {"query": "revenue customer order", "limit": 10}),
        "capsule": (
            "get_context_capsule",
            {"task": "debug failing test on revenue model", "token_budget": 8000},
        ),
        "lineage": ("get_lineage", {"model_name": central, "depth": 3}),
        "patterns": ("get_project_patterns", {}),
    }
    ops = {
        name: (lambda tool=tool, args=args: server.handle({"tool": tool, "args": args}))
        for name, (tool, args) in requests.items()
    }
    out = {}
    for name, fn in ops.items():
        warm = fn()
        if warm["status"] != "ok":
            raise RuntimeError(f"latency op {name} failed: {warm['result']}")
        times = []
        for _ in range(LATENCY_ROUNDS):
            t0 = time.perf_counter()
            fn()
            times.append((time.perf_counter() - t0) * 1000)
        out[name] = {
            "p50": round(_pctl(times, 50), 2),
            "p95": round(_pctl(times, 95), 2),
            "target_p95": LATENCY_TARGETS_MS[name],
            "meets_target": _pctl(times, 95) <= LATENCY_TARGETS_MS[name],
        }
    misses = [k for k, v in out.items() if not v["meets_target"]]
    if build_sec > 5.0:
        misses.append("index_build")

    # token reduction vs naive all-models dump (BASELINE.md: reported %,
    # required capsule < naive; reference: benchmarks/run.py:155-196 —
    # same chars/4 estimator on both sides)
    naive_parts = []
    for uid, m in cache.models.items():
        cols = cache.columns.get(uid, [])
        col_text = ", ".join(
            f"{c['name']} {c.get('data_type') or ''}".strip() for c in cols
        )
        naive_parts.append(
            f"{m['name']} [{m['layer']}/{m['materialization']}] "
            f"{m['description'] or ''}\ncolumns: {col_text}\n{m['raw_code'] or ''}"
        )
    for tests in cache.tests.values():
        for t in tests:
            naive_parts.append(
                f"test: {t['name']} ({t['test_type']}) on {t['model_id']} {t['column_name']}"
            )
    for s in cache.sources.values():
        naive_parts.append(f"source: {s['source_name']}.{s['name']} {s['description'] or ''}")
    naive_tokens = max(1, len("\n\n".join(naive_parts)) // 4)
    cap = cache.capsule("explore the project", token_budget=10000)
    capsule_tokens = cap["token_estimate"]
    if capsule_tokens >= naive_tokens:
        misses.append("token_reduction")
    return {
        "index_build_sec": build_sec,
        "index_build_target_sec": 5.0,
        "ops": out,
        "token_reduction": {
            "capsule_tokens": capsule_tokens,
            "naive_tokens": naive_tokens,
            "reduction_pct": round((1 - capsule_tokens / naive_tokens) * 100, 1),
        },
        # explicit miss list so target regressions are visible at a glance
        # (round-2 ADVICE: nothing flagged the 2.7x build overshoot)
        "target_misses": misses,
    }


def behavioral_main() -> None:
    """Session-replay benchmark (reference: benchmarks/session_analysis.py):
    replay the committed synthetic transcripts against capsules built from
    each session's task; print ONE JSON line with overlap/savings."""
    from ariadne_dbt_spark.benchmarks.session_replay import (
        ab_discover,
        ab_entry_models,
        diagnose_misses,
        replay_sessions,
    )
    from ariadne_dbt_spark.ingest.indexer import AriadneIndex
    from ariadne_dbt_spark.session import get_spark

    repo = os.path.dirname(os.path.abspath(__file__))
    spark = get_spark("ariadne-behavioral")
    idx = AriadneIndex.build(spark, os.path.join(repo, "tests", "fixtures", "manifest.json"))
    sessions_dir = os.path.join(repo, "tests", "fixtures", "sessions")
    out = replay_sessions(idx, sessions_dir)
    ab = ab_entry_models(idx, sessions_dir)
    abd = ab_discover(idx, sessions_dir)
    misses = diagnose_misses(idx, sessions_dir)

    # 60-model replay set: large enough that capsules genuinely miss
    # models, so overlap/uplift/miss metrics are non-degenerate
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "make_big_manifest", os.path.join(repo, "tests", "fixtures", "make_big_manifest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    big_path = os.path.join(repo, ".tmp", "manifest_behavioral.json")
    os.makedirs(os.path.dirname(big_path), exist_ok=True)
    with open(big_path, "w") as f:
        json.dump(mod.make_manifest(60), f)
    big_idx = AriadneIndex.build(spark, big_path)
    big_dir = os.path.join(repo, "tests", "fixtures", "sessions_big")
    big = replay_sessions(big_idx, big_dir)
    big_abd = ab_discover(big_idx, big_dir)
    big_misses = diagnose_misses(big_idx, big_dir)
    print(
        json.dumps(
            {
                "metric": "capsule_overlap_pct",
                "value": out["avg_overlap_pct"],
                "unit": "pct",
                "sessions": out["sessions"],
                "total_potential_savings": out["total_potential_savings"],
                "total_context_calls": out["total_context_calls"],
                "per_session": [
                    {k: r[k] for k in ("session_id", "overlap_pct", "potential_savings", "focus_model")}
                    for r in out["per_session"]
                ],
                "ab_entry_models": {
                    k: ab[k] for k in ("avg_overlap_a", "avg_overlap_b", "early_calls")
                },
                "ab_discover": {
                    k: abd[k] for k in ("avg_overlap_a", "avg_overlap_b", "sessions")
                },
                "miss_diagnosis": {
                    k: misses[k] for k in ("misses", "reachable_misses")
                },
                "big_manifest": {
                    "models": 60,
                    "avg_overlap_pct": big["avg_overlap_pct"],
                    "ab_discover": {
                        k: big_abd[k] for k in ("avg_overlap_a", "avg_overlap_b")
                    },
                    "miss_diagnosis": {
                        k: big_misses[k] for k in ("misses", "reachable_misses")
                    },
                },
            }
        )
    )


def main() -> None:
    if "--behavioral" in sys.argv:
        behavioral_main()
        return
    if "--scale-sweep" in sys.argv:
        # growth-curve evidence for the flagship scale ops: structure-
        # consistent synthetic corpora at 3 sizes, log-log slope per op
        # (1.0 = linear, 2.0 = quadratic; see tools/scale_sweep.py)
        from ariadne_dbt_spark.session import get_spark
        from tools.scale_sweep import run_sweep

        repo = os.path.dirname(os.path.abspath(__file__))
        base = os.path.join(repo, ".tmp")
        os.makedirs(base, exist_ok=True)
        print(json.dumps(run_sweep(get_spark("ariadne-scale-sweep"), base)))
        return
    # host contention at START (before this process generates load):
    # identical code has measured 27-60 s suite totals on this sandbox —
    # a pre-existing load average near the core count means the numbers
    # below are contended; plan-shape audits (tests/test_plan_audit.py)
    # are the stable perf contract
    try:
        load_1m = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - non-unix
        load_1m = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from ariadne_dbt_spark.session import get_spark
    from ariadne_dbt_spark.workloads import load_all

    registry = load_all()
    spark = get_spark("ariadne-bench")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    # warm the JVM + parquet footers once with the cheapest query so the
    # first measured number isn't dominated by one-time session costs
    registry["point_lookup_and_like"].fn(spark, sf_dir).count()

    # measured runs per query: COLD (first execution — includes plan
    # compilation, shuffle-file creation, JIT) and WARM = min of two
    # steady-state executions. This sandbox shows ±25%+ variance PLUS
    # intermittent 10-20x multi-second stalls that strike one random
    # query per session (round 8's A/B pinned them as environmental:
    # same commit, 1.4-6x spread; round 9 GC-logged a full run — max
    # pause 118 ms, so the stalls are host-level, not JVM-level). A
    # single warm sample makes the suite total hostage to whichever
    # query catches the stall; min-of-2 is the same de-noising the
    # scale sweep has always used. The cold number stays single-sample
    # for continuity with BENCH_r01-r08.
    #
    # Round 11 (VERDICT r10 item 2 — make contention visible): a FIXED
    # reference probe (tiny all-core shuffle-free job, identical every
    # time) runs before each query and per-query host load is recorded.
    # A probe run that drifts >3x above the session's probe MEDIAN and
    # past an absolute 0.5 s floor marks that query's window contended
    # (median not min — normal JIT/GC jitter spans 3x of the session's
    # best probe even on an idle host, and round 10's real stalls were
    # multi-second, far past both gates); any contended window flips
    # the one-line JSON's `contended` flag, so a stalled session can be
    # attributed in one read instead of vetoing the round (round 10's
    # geomean 0.816 came from exactly such a window). Additions-only:
    # the timed action, run count and warm=min-of-2 are unchanged.
    probe_df = spark.range(1 << 22)  # fixed-size, scan+sum only

    def _probe_sec() -> float:
        t0 = time.perf_counter()
        probe_df.selectExpr("sum(id * 3 + 1)").collect()
        return time.perf_counter() - t0

    _probe_sec(), _probe_sec()  # JIT/codegen warm, twice: probe 1 of
    # the loop should measure the host, not leftover compilation
    times: dict[str, dict[str, float]] = {}
    probes: dict[str, float] = {}
    loads: dict[str, float] = {}
    for name in HEADLINE:
        spec = registry[name]
        probes[name] = round(_probe_sec(), 4)
        try:
            loads[name] = round(os.getloadavg()[0], 2)
        except OSError:  # pragma: no cover - non-unix
            loads[name] = None
        per_run = []
        for _ in range(3):
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            df.count()
            per_run.append(round(time.perf_counter() - t0, 3))
        times[name] = {"cold": per_run[0], "warm": min(per_run[1:])}
    _sorted_probes = sorted(probes.values())
    probe_median = _sorted_probes[len(_sorted_probes) // 2]
    probe_floor = min(_sorted_probes)
    contended_cut = max(3.0 * probe_median, 0.5)
    contended_queries = sorted(
        n for n, p in probes.items() if p > contended_cut
    )

    latency = latency_section(spark)

    # behavioral summary (committed session fixtures, round 8): the
    # replay's headline numbers ride along in the main bench line so
    # the per-round gate records them — `--behavioral` remains the
    # full-detail report
    behavioral = None
    try:
        from ariadne_dbt_spark.benchmarks.session_replay import replay_sessions
        from ariadne_dbt_spark.ingest.indexer import AriadneIndex

        repo = os.path.dirname(os.path.abspath(__file__))
        idx = AriadneIndex.build(
            spark, os.path.join(repo, "tests", "fixtures", "manifest.json")
        )
        out = replay_sessions(idx, os.path.join(repo, "tests", "fixtures", "sessions"))
        behavioral = {
            "sessions": out["sessions"],
            "avg_overlap_pct": out["avg_overlap_pct"],
            "total_potential_savings": out["total_potential_savings"],
            "total_context_calls": out["total_context_calls"],
        }
    except Exception as exc:  # never fail the bench line on the add-on
        behavioral = {"error": str(exc)[:200]}

    total = round(sum(t["cold"] for t in times.values()), 3)
    total_warm = round(sum(t["warm"] for t in times.values()), 3)
    # full per-query cold/warm + latency + behavioral detail goes to a
    # sidecar file; stdout carries ONE COMPACT line. The driver records
    # only a bounded tail of stdout (BENCH_r07/r08 show ~2 KB), so the
    # old rich line was always truncated past parseability ("parsed":
    # null every round) — the compact line must stay under that bound.
    detail = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "total_warm": total_warm,
        "sf": sf,
        "host_load_1m": load_1m,
        "probe_sec": probes,
        "probe_floor": round(probe_floor, 4),
        "probe_median": round(probe_median, 4),
        "contended_cut": round(contended_cut, 4),
        "load_1m_per_query": loads,
        "contended_queries": contended_queries,
        "interactive_latency": latency,
        "behavioral": behavioral,
    }
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": {n: t["warm"] for n, t in times.items()},
                "total_warm": total_warm,
                "sf": sf,
                "host_load_1m": load_1m,
                "contended": bool(contended_queries),
                "n_contended": len(contended_queries),
                "target_misses": latency.get("target_misses"),
                "detail": "BENCH_DETAIL.json",
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
