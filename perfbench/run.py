"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|store_churn \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the workload's inputs from ``--seed``,
starts a Spark session through the program's own ``get_spark`` (default
settings, ``local[4]`` unless ``SPARK_GRAFT_CPUS`` says otherwise), builds
the workload's state ``SETUP_REPS`` times, warms it with one untimed pass,
then runs identical passes until ``--seconds`` have been measured (at
least one). Every output is checked. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The lines before it record the host.

A pass is costed in CPU, not wall time: the CPU seconds of the driver's
process tree during the pass's calls, less the JVM's JIT compiler
threads, divided by the mean reading of a speed gauge over the pass: the
CPU seconds a fixed pure-Python loop takes, timed every 50 ms on a
background thread. The division takes out most of the change in the
speed of the host's cores, which on a shared host moves by 2x within the
hour (README.md, "Why pass_cost is CPU in gauge units").

Every run records a span around each call into the program and samples
/proc at every span boundary. ``--trace 1`` also turns on the Spark event
log (through ``PYSPARK_SUBMIT_ARGS``, set before the session starts, so no
program code changes), attributes every Spark job to the span around it,
and writes the spans and jobs to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import metrics as M  # noqa: E402
from perfbench.trace import (  # noqa: E402
    ProcSampler,
    SpeedGauge,
    Tracer,
    attribute,
    parse_event_log,
)

WORKLOADS = ("serve", "store_churn")
PROBE_ROWS = 1 << 20
#: builds of the workload's state per run; ``setup_s`` counts their median
SETUP_REPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool) -> str:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # every JVM (the launcher and the driver): temp files in the checkout,
    # no hsperfdata file under the system /tmp, and JIT compiler threads
    # that live for the whole run, so their CPU can be told apart
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads")
    args = []
    evdir = os.path.join(work, "events")
    if trace:
        os.makedirs(evdir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{evdir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return evdir


def probe(spark) -> float:
    """A fixed all-core job; a run whose end probe is far slower than its
    start probes shared the host with something else."""
    t0 = time.perf_counter()
    spark.range(PROBE_ROWS).selectExpr("sum(id * 3 + 1)").collect()
    return time.perf_counter() - t0


def host_record(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "1g"),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until both have exited."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Py4JError:  # the gateway already went away with the JVM
        pass
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while os.path.exists(f"/proc/{jvm_pid}") and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import ariadne_dbt_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads as W

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", run_id)
    os.makedirs(work, exist_ok=True)
    evdir = prepare_env(work, bool(args.trace))
    load_start = os.getloadavg()

    t_session = time.perf_counter()
    from ariadne_dbt_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t_session
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    sampler = ProcSampler(jvm_pid)
    tracer = Tracer(run_id, probe=sampler)
    ops = W.Op(tracer)
    gauge = SpeedGauge()
    cls = {"serve": W.Serve, "store_churn": W.StoreChurn}[args.workload]
    wl = cls(spark, tracer, ops, args.seed, work)

    def program_s(outer, key):
        return sum(s.attrs[key] for s in M.ops_in(tracer.spans, outer))

    try:
        with tracer.span("bench.probe"):
            probe(spark)  # warms the JVM
            probe_start = probe(spark)
        with tracer.span("bench.prepare"):
            wl.prepare()
        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with tracer.span("bench.setup"):
                wl.build(rep)
            setups.append(time.perf_counter() - t0)
        with tracer.span("bench.warmup") as warm:
            wl.warmup()
        warmup_s = sum(s.wall for s in M.ops_in(tracer.spans, warm))

        gauge.start()
        sampler.exclude_tids.append(gauge.tid)
        passes, pass_cpu, pass_jit, pass_ref, pass_spans = [], [], [], [], []
        t_measure = time.perf_counter()
        while not passes or time.perf_counter() - t_measure < args.seconds:
            with tracer.span("bench.pass") as sp:
                passes.append(wl.run_pass())
            pass_spans.append(sp)
            jit = program_s(sp, "jit_cpu_s")
            pass_cpu.append(program_s(sp, "cpu_s") - jit)
            pass_jit.append(jit)
            pass_ref.append(gauge.mean(sp.start, sp.end) or gauge.samples[-1][1])
        measured_s = time.perf_counter() - t_measure
        gauge.stop()
        with tracer.span("bench.finish"):
            wl.finish()
        with tracer.span("bench.probe"):
            probe_end = probe(spark)
        rss = sampler.peak_rss_mb()
        host = host_record(spark)
    finally:
        gauge.stop()
        t_stop = time.perf_counter()
        stop_spark(spark)
    stop_s = time.perf_counter() - t_stop
    load_end = os.getloadavg()
    # what a user waits for before the first timed call: the session, the
    # state built from the inputs (median of the repeated builds) and the
    # first call of each timed op (the warm-up pass)
    setup_s = session_s + statistics.median(setups) + warmup_s
    # a pass's CPU in units of the gauge's reading over that pass
    pass_cost = [c / r for c, r in zip(pass_cpu, pass_ref)]

    host.update({
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "probe_start_s": probe_start,
        "probe_end_s": probe_end,
        "contended": probe_end > max(3.0 * probe_start, 0.5),
    })
    print(json.dumps({"host": host}))
    summary = {
        "workload": args.workload, "seed": args.seed, "passes": len(passes),
        "pass_s": passes, "pass_cpu_s": pass_cpu, "pass_jit_cpu_s": pass_jit,
        "ref_cpu_s": pass_ref, "pass_cost": pass_cost, "gauge_samples": len(gauge.samples),
        "measured_s": measured_s, "session_s": session_s,
        "setup_s": setup_s, "build_s": setups, "warmup_s": warmup_s, "stop_s": stop_s, "rss_mb": rss,
        "op_s": {k: [round(x, 4) for x in v] for k, v in ops.times.items()},
        "check_s": sum(s.wall for s in tracer.spans if s.name == "bench.check"),
        "errors": ops.errors[:20],
    }
    if args.workload == "store_churn":
        summary["files_touched_share"] = wl.touched
    print(json.dumps({"summary": summary}))
    for e in ops.errors[:20]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)

    if args.trace:
        logs = sorted(glob.glob(os.path.join(evdir, "*")))
        jobs = parse_event_log(logs[-1]) if logs else []
        outside = attribute(jobs, tracer.spans)
        metrics = M.per_layer(
            args.workload, tracer.spans, jobs, outside, pass_spans, passes, pass_cpu,
            session_s=session_s, setup_s=setup_s, warmup_s=warmup_s, pass_ref=pass_ref,
            pass_jit=pass_jit, peak_rss_mb=rss["total"], wl=wl,
        )
        tdir = os.path.join(base, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{run_id}.json"), "w") as f:
            json.dump({"host": host, "summary": summary, "spans": tracer.to_json(),
                       "jobs": [j.__dict__ for j in jobs], "metrics": metrics}, f)
    else:
        metrics = M.end_to_end(setup_s, pass_cost)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
