"""Spans, Spark event-log attribution and /proc readers.

A span is ``(name, start, end, parent, run)`` in epoch seconds, recorded
around each call into a module's public function and kept in memory until
the run ends. Spark jobs are attributed by time, not by job group: a job
belongs to the innermost span whose interval holds its submission time.
With one client thread of control that is unambiguous, and it also
catches jobs submitted from plain ``ThreadPoolExecutor`` threads, which
do not inherit a job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run: str = ""
    idx: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory span recorder. ``probe`` (optional) is called at every span
    boundary, outside the span's interval, and its per-key deltas land in
    ``span.attrs``; the benchmark passes a /proc sampler there."""

    def __init__(self, run: str, probe=None):
        self.run = run
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._probe = probe

    @contextmanager
    def span(self, name: str, **attrs):
        before = self._probe() if self._probe else None
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                  run=self.run, idx=len(self.spans), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp.idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if before is not None:
                after = self._probe()
                for k, v in after.items():
                    sp.attrs[k] = v - before.get(k, 0.0)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.idx]

    def self_time(self, sp: Span) -> float:
        return self_time(sp, self.children(sp))

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run": s.run, "idx": s.idx, "self_s": self.self_time(s), **s.attrs}
            for s in self.spans
        ]


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (overlaps counted once),
    clipped to ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(sp: Span, children: list[Span]) -> float:
    """A span's duration minus the part of its interval its children cover."""
    return sp.wall - union_length(
        [(c.start, c.end or c.start) for c in children], sp.start, sp.end
    )


# -- Spark event log --------------------------------------------------------
@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float | None = None
    stages: list = field(default_factory=list)
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    span: int | None = None


def _event_lines(path: str):
    """Lines of an uncompressed event log: one file, or a rolling log's
    directory of ``events_<n>_<app>`` files read in order."""
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        files = [os.path.join(path, p) for p in sorted(parts, key=lambda p: int(p.split("_")[1]))]
    else:
        files = [path]
    for fn in files:
        with open(fn) as f:
            yield from f


def parse_event_log(path: str) -> list[Job]:
    """Jobs with their task metrics from one uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                      stages=list(ev.get("Stage IDs") or []))
            jobs[job.job_id] = job
            for s in job.stages:
                # a stage reused by a later job was run by the first
                stage_job.setdefault(s, job.job_id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            job = jobs[jid]
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.executor_cpu_s += (m.get("Executor CPU Time") or 0) / 1e9
            job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            job.spill_bytes += (m.get("Memory Bytes Spilled") or 0) + (
                m.get("Disk Bytes Spilled") or 0)
            job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(jobs: list[Job], spans: list[Span]) -> list[Job]:
    """Set ``job.span`` to the innermost span holding the job's submission
    time (the latest-starting one among those that hold it); returns the
    jobs that fall outside every span."""
    outside = []
    for job in jobs:
        best = None
        for sp in spans:
            # Spark stamps submission in whole milliseconds
            if sp.start - 0.001 <= job.submit <= (sp.end or sp.start):
                if best is None or sp.start >= best.start:
                    best = sp
        job.span = best.idx if best is not None else None
        if best is None:
            outside.append(job)
    return outside


def span_work(sp: Span, spans: list[Span], jobs: list[Job]) -> dict:
    """Inclusive work of a span: the jobs attributed to it or to any span
    nested in it, plus its wall time split into time covered by Spark jobs
    and the rest (driver: Python, py4j, Catalyst)."""
    inside = {sp.idx}
    grew = True
    while grew:
        grew = False
        for s in spans:
            if s.parent in inside and s.idx not in inside:
                inside.add(s.idx)
                grew = True
    mine = [j for j in jobs if j.span in inside]
    job_s = union_length([(j.submit, j.end or j.submit) for j in mine], sp.start, sp.end)
    return {
        "wall_s": sp.wall,
        "job_s": job_s,
        "driver_s": sp.wall - job_s,
        "jobs": len(mine),
        "tasks": sum(j.tasks for j in mine),
        "executor_cpu_s": sum(j.executor_cpu_s for j in mine),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in mine),
        "spill_bytes": sum(j.spill_bytes for j in mine),
        "output_bytes": sum(j.output_bytes for j in mine),
    }


# -- /proc ----------------------------------------------------------------
_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (one /proc scan)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                parent[int(d)] = int(st[1])
    out, frontier = [], {root}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier}
        out.extend(kids)
        frontier = kids
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_seconds(pid: int) -> float:
    """utime+stime of one process."""
    st = _stat(pid)
    if not st:
        return 0.0
    # after the paren: state(0) ppid(1) ... utime(11) stime(12)
    return (int(st[11]) + int(st[12])) / _CLK


def status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _thread(pid: int, tid: str) -> tuple[str, float] | None:
    """(name, utime+stime) of one thread of ``pid``."""
    try:
        with open(f"/proc/{pid}/task/{tid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    st = raw[raw.rindex(")") + 2:].split()
    return raw[raw.index("(") + 1:raw.rindex(")")], (int(st[11]) + int(st[12])) / _CLK


#: HotSpot names its JIT compiler threads "C1 CompilerThread<n>" and
#: "C2 CompilerThread<n>" (thread names are cut to 15 characters)
JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")


class ProcSampler:
    """Samples the driver process tree from /proc: cumulative CPU of the
    whole tree, of its ``pyspark.daemon`` Python workers and of the JVM's
    JIT compiler threads, and the workers' resident memory.

    The JIT threads are only attributable when they live for the whole
    run: the benchmark starts the JVM with
    ``-XX:-UseDynamicNumberOfCompilerThreads``, otherwise HotSpot starts
    and retires compiler threads as its queue grows and shrinks, and the
    CPU of a retired thread is no longer listed per thread."""

    def __init__(self, jvm_pid: int, exclude_tids=()):
        self.jvm_pid = jvm_pid
        #: threads of this process whose CPU is the benchmark's own (the
        #: speed gauge), left out of ``cpu_s``
        self.exclude_tids = list(exclude_tids)
        self._excluded: dict[int, float] = {}
        #: last CPU seen per pid; a process that exits keeps its last
        #: reading, so the totals never drop
        self.cpu: dict[int, float] = {}
        self.workers: set[int] = set()
        #: last CPU seen per JIT compiler thread, and the tids known not to be one
        self.jit: dict[str, float] = {}
        self._not_jit: set[str] = set()
        #: largest summed RSS of the Python workers seen at one sample
        self.workers_peak_kb = 0

    def _jit_cpu(self) -> float:
        try:
            tids = os.listdir(f"/proc/{self.jvm_pid}/task")
        except OSError:
            tids = []
        for t in tids:
            if t in self._not_jit:
                continue
            th = _thread(self.jvm_pid, t)
            if th is None:
                continue
            if t in self.jit or th[0].startswith(JIT_THREAD_PREFIXES):
                self.jit[t] = max(self.jit.get(t, 0.0), th[1])
            else:
                self._not_jit.add(t)
        return sum(self.jit.values())

    def __call__(self) -> dict:
        kids = descendants(self.jvm_pid)
        for p in [os.getpid(), self.jvm_pid, *kids]:
            self.cpu[p] = max(self.cpu.get(p, 0.0), cpu_seconds(p))
        for p in kids:
            if p not in self.workers and "pyspark.daemon" in _cmdline(p):
                self.workers.add(p)
        rss = sum(status_kb(p, "VmRSS") for p in kids)
        self.workers_peak_kb = max(self.workers_peak_kb, rss)
        for t in self.exclude_tids:
            th = _thread(os.getpid(), str(t))
            if th is not None:
                self._excluded[t] = th[1]
        return {
            "cpu_s": sum(self.cpu.values()) - sum(self._excluded.values()),
            "pyworker_cpu_s": sum(self.cpu.get(p, 0.0) for p in self.workers),
            "jit_cpu_s": self._jit_cpu(),
        }

    def peak_rss_mb(self) -> dict:
        """Peak resident memory in MB: the JVM's and this process's own
        high-water marks, plus the workers' largest simultaneous total."""
        self()
        out = {
            "jvm": status_kb(self.jvm_pid, "VmHWM") / 1024.0,
            "python": status_kb(os.getpid(), "VmHWM") / 1024.0,
            "workers": self.workers_peak_kb / 1024.0,
        }
        out["total"] = sum(out.values())
        return out


class SpeedGauge:
    """How fast the host's cores run right now, measured beside the work.

    A background thread runs a fixed pure-Python loop every ``period``
    seconds and records its thread CPU time, scaled to ``UNIT_ITERS``
    iterations. On a shared host the CPU time a fixed piece of work takes
    moves by 2x within the hour, with other tenants' load; a pass's CPU
    divided by the gauge's mean reading over the same interval moves far
    less.
    The loop holds the GIL for a few milliseconds per sample, about 5% of
    one core; its CPU is left out of the pass's (``ProcSampler``'s
    ``exclude_tids``)."""

    UNIT_ITERS = 1_000_000

    def __init__(self, iters: int = 30_000, period: float = 0.05):
        self.iters, self.period = iters, period
        self.samples: list[tuple[float, float]] = []  # (epoch s, CPU s per unit)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="speed-gauge", daemon=True)
        self._ready = threading.Event()
        self.tid = 0

    def _run(self) -> None:
        self.tid = threading.get_native_id()
        self._ready.set()
        scale = self.UNIT_ITERS / self.iters
        while not self._stop.is_set():
            t0 = time.thread_time()
            acc = 0
            for i in range(self.iters):
                acc = (acc * 31 + i) % 1_000_003
            self.samples.append((time.time(), (time.thread_time() - t0) * scale))
            self._stop.wait(self.period)

    def start(self) -> "SpeedGauge":
        self._thread.start()
        self._ready.wait()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def mean(self, start: float, end: float) -> float | None:
        """Mean reading over ``[start, end]`` (None if no sample fell in it)."""
        got = [v for t, v in self.samples if start <= t <= end]
        return sum(got) / len(got) if got else None
