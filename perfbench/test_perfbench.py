"""Tests for the benchmark's own helpers: seeded generators, span
arithmetic, the event-log parser and job attribution, the /proc sampler's
JIT accounting, and the metric catalogue against BENCHMARK.json.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import ctypes
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import gen
from perfbench.metrics import END_TO_END_UNITS, end_to_end, per_layer_catalogue
from perfbench.trace import (
    ProcSampler,
    Span,
    SpeedGauge,
    Tracer,
    attribute,
    parse_event_log,
    self_time,
    span_work,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- generators ---------------------------------------------------------------
@pytest.mark.parametrize("make", [
    lambda s: gen.make_manifest(s, 60),
    lambda s: gen.change_manifest(gen.make_manifest(s, 60), s),
    lambda s: gen.serve_script(s),
    lambda s: gen.make_orders(s, 500),
    lambda s: gen.churn_batch(s, 3, 5000, 40, local=True),
    lambda s: gen.churn_batch(s, 3, 5000, 40, local=False),
    lambda s: gen.make_vectors(s, range(1, 50), 4),
])
def test_generators_are_pure_functions_of_the_seed(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_change_manifest_edits_the_stated_share():
    m = gen.make_manifest(3, 100)
    m2, changed = gen.change_manifest(m, 3, share=0.1)
    assert len(changed) == 10
    differ = [u for u in m["nodes"] if m["nodes"][u] != m2["nodes"][u]]
    assert sorted(differ) == changed


def test_local_batches_stay_in_one_slice():
    keys = [r[0] for r in gen.churn_batch(1, 0, 32_000, 200, local=True)]
    assert max(keys) - min(keys) < 2 * 32_000 // 32
    assert len(set(keys)) == len(keys)


# -- span arithmetic ------------------------------------------------------------
def test_self_time_subtracts_the_union_of_children():
    parent = Span("p", 0.0, 10.0, idx=0)
    kids = [
        Span("a", 1.0, 3.0, parent=0, idx=1),
        Span("b", 2.0, 5.0, parent=0, idx=2),  # overlaps a: counted once
        Span("c", 7.0, 8.0, parent=0, idx=3),
        Span("d", 9.5, 12.0, parent=0, idx=4),  # clipped at the parent's end
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_and_records_probe_deltas():
    counter = {"n": 0.0}

    def probe():
        counter["n"] += 1.0
        return {"ticks": counter["n"]}

    t = Tracer("r", probe=probe)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.idx and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert inner.attrs["ticks"] == 1.0 and outer.attrs["ticks"] == 3.0
    assert t.self_time(outer) == pytest.approx(outer.wall - inner.wall)


# -- event log ----------------------------------------------------------------
def _event_log(path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 7, "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000, "Output Metrics": {"Bytes Written": 40}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # job 1 reuses stage 1 (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 6000,
         "Stage IDs": [1, 2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 20000,
         "Stage IDs": [3]},
    ]
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_parser_sums_task_metrics_per_job(tmp_path):
    p = tmp_path / "app-1"
    _event_log(p)
    j0, j1, j2 = parse_event_log(str(p))
    assert (j0.submit, j0.end, j0.tasks) == (1.0, 3.0, 2)
    assert j0.executor_cpu_s == pytest.approx(3.0)
    assert (j0.shuffle_write_bytes, j0.spill_bytes, j0.output_bytes) == (100, 12, 40)
    assert (j1.tasks, j1.end) == (1, 6.5)
    assert j2.end is None


def test_attribution_picks_the_innermost_span_and_reports_the_rest(tmp_path):
    p = tmp_path / "app-1"
    _event_log(p)
    jobs = parse_event_log(str(p))
    spans = [
        Span("outer", 0.5, 10.0, idx=0),
        Span("inner", 0.9, 4.0, parent=0, idx=1),
    ]
    outside = attribute(jobs, spans)
    assert [j.span for j in jobs] == [1, 0, None]
    assert [j.job_id for j in outside] == [2]
    w = span_work(spans[0], spans, jobs)
    assert w["jobs"] == 2 and w["tasks"] == 3
    # jobs cover 1.0-3.0 and 6.0-6.5 of outer's 9.5 s
    assert w["job_s"] == pytest.approx(2.5)
    assert w["driver_s"] == pytest.approx(7.0)


def test_pool_thread_job_is_attributed_to_the_span_around_it(tmp_path):
    """A job submitted from a plain ThreadPoolExecutor thread does not
    inherit the caller's job group, but its submission time still falls
    inside the span around the submit."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        pytest.skip("needs a fresh session to enable the event log")
    evdir = tmp_path / "events"
    evdir.mkdir()
    spark = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-attribution")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{evdir}")
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    tracer = Tracer("t")
    try:
        spark.range(3).count()  # outside every span
        with tracer.span("pool"):
            spark.sparkContext.setJobGroup("caller-group", "set on the caller thread")
            with ThreadPoolExecutor(max_workers=1) as ex:
                assert ex.submit(lambda: spark.range(10).count()).result(timeout=120) == 10
    finally:
        spark.stop()
    (log,) = list(evdir.iterdir())
    jobs = parse_event_log(str(log))
    outside = attribute(jobs, tracer.spans)
    assert len(jobs) == 2
    assert [j.span for j in jobs] == [None, tracer.spans[0].idx]
    assert len(outside) == 1


# -- /proc sampler ----------------------------------------------------------------
def _spin_as(name: bytes, seconds: float) -> None:
    """Burn CPU on a new OS thread that carries ``name`` as its kernel name."""
    def body():
        ctypes.CDLL(None).prctl(15, name, 0, 0, 0)  # PR_SET_NAME
        end = time.thread_time() + seconds
        while time.thread_time() < end:
            pass

    t = threading.Thread(target=body)
    t.start()
    t.join()


def test_sampler_counts_compiler_threads_apart():
    """CPU of a thread named like a HotSpot JIT compiler thread lands in
    ``jit_cpu_s`` as well as in the process total; other threads only in
    the total. The sampler watches this process as if it were the JVM."""
    sampler = ProcSampler(os.getpid())
    before = sampler()
    done = threading.Event()

    def jit_like():
        ctypes.CDLL(None).prctl(15, b"C2 CompilerThread0", 0, 0, 0)
        end = time.thread_time() + 0.3
        while time.thread_time() < end:
            pass
        sampler()  # seen while alive, as a compiler thread is for a whole run
        done.wait(timeout=30)

    t = threading.Thread(target=jit_like)
    t.start()
    _spin_as(b"Executor task l", 0.3)
    done.set()
    t.join()
    after = sampler()
    jit = after["jit_cpu_s"] - before["jit_cpu_s"]
    total = after["cpu_s"] - before["cpu_s"]
    assert 0.25 <= jit <= 0.45
    assert total >= jit + 0.25


def test_speed_gauge_samples_and_its_cpu_can_be_left_out():
    sampler = ProcSampler(os.getpid())
    gauge = SpeedGauge(iters=20_000, period=0.01).start()
    sampler.exclude_tids.append(gauge.tid)
    before = sampler()
    t0 = time.time()
    time.sleep(0.5)
    after = sampler()
    gauge.stop()
    assert len(gauge.samples) >= 10
    assert all(v > 0 for _, v in gauge.samples)
    assert gauge.mean(t0, time.time()) > 0
    assert gauge.mean(0.0, 1.0) is None
    # the gauge was busy, this thread slept: little CPU is left
    assert after["cpu_s"] - before["cpu_s"] < 0.05


def test_end_to_end_takes_the_median_pass():
    m = end_to_end(12.5, [300.0, 100.0, 200.0])
    assert m == {"setup_s": {"value": 12.5, "unit": "s"},
                 "pass_cost": {"value": 200.0, "unit": "ref"}}


# -- the metric catalogue against BENCHMARK.json ----------------------------------
def test_catalogue_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert per_layer == per_layer_catalogue()
    assert len(per_layer) <= 128
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == END_TO_END_UNITS
    assert [w["name"] for w in bench["workloads"]] == ["serve", "store_churn"]
