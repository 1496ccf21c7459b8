"""Spans, Spark event-log folding, and the measurement helpers the
workloads share.

A ``Tracer`` records one span per layer boundary (name, start, end,
parent, attributes) in memory. A span opened with ``group=True`` also
becomes the Spark job group of the driver thread while it is open, so
the jobs it launches can be attributed to it from the event log. Jobs
that run on another thread (``foreachBatch`` on the stream thread) have
no group and are attributed by time window instead.

``NullTracer`` has the same interface and does nothing, so the untraced
run executes the same code path with no tracing cost. Inside
``Tracer.paused()`` a ``Tracer`` records nothing either: the traced run
interleaves paused passes with traced ones to measure its own overhead.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log milliseconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = active = False

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        yield None

    @contextlib.contextmanager
    def paused(self):
        yield


class Tracer:
    """Collects spans; jobs are matched to spans through their job group."""

    enabled = True

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._paused = False

    @property
    def active(self) -> bool:
        """Whether spans are being recorded right now."""
        return not self._paused

    @contextlib.contextmanager
    def paused(self):
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def _new(self, name: str, parent: int | None, attrs: dict) -> Span:
        with self._lock:
            s = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
            self.spans.append(s)
        return s

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        if self._paused:
            yield None
            return
        on_main = threading.current_thread() is threading.main_thread()
        parent = self._stack[-1].id if on_main and self._stack else None
        s = self._new(name, parent, attrs)
        if on_main:
            self._stack.append(s)
        if group:  # group spans do not nest
            self.sc.setJobGroup(f"span-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            if on_main:
                self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def ancestors(self, span_id: int | None):
        while span_id is not None:
            s = self.spans[span_id]
            yield s
            span_id = s.parent

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    span: int | None = None
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_disk_b: int = 0
    output_b: int = 0
    python_sent_b: int = 0
    python_returned_b: int = 0
    stages_done: int = 0

    @property
    def dur(self) -> float:
        return max(0.0, self.end - self.submit)


_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def _event_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files if not f.startswith(("appstatus", "."))]
    # rolling logs are events_<n>_<app>; order by that index
    def key(p: str):
        base = os.path.basename(p)
        parts = base.split("_")
        return (int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0, base)

    return sorted(out, key=key)


def read_jobs(log_dir: str) -> dict[int, Job]:
    """Fold JobStart/JobEnd/StageCompleted/TaskEnd events into per-job totals."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000.0)
                    j.stages = list(ev.get("Stage IDs", []))
                    for sid in j.stages:
                        stage_job[sid] = j.id
                    jobs[j.id] = j
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        jobs[stage_job[sid]].stages_done += 1
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"]))
                    if j is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    j.tasks += 1
                    j.task_run_s += m.get("Executor Run Time", 0) / 1e3
                    j.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    j.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    j.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    j.spill_disk_b += m.get("Disk Bytes Spilled", 0)
                    j.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        if name == _PY_SENT:
                            j.python_sent_b += int(acc.get("Update", 0))
                        elif name == _PY_RETURNED:
                            j.python_returned_b += int(acc.get("Update", 0))
    return jobs


def attribute(jobs: dict[int, Job], tracer: Tracer, window_names: tuple[str, ...] = ()) -> None:
    """Set ``job.span``: by job group, else by the time window of the
    innermost span named in ``window_names`` that contains the job."""
    windows = [s for s in tracer.spans if s.name in window_names]
    for j in jobs.values():
        if j.group and j.group.startswith("span-"):
            j.span = int(j.group[5:])
            continue
        inside = [s for s in windows if s.start <= j.submit <= s.end]
        if inside:
            j.span = max(inside, key=lambda s: s.start).id


def totals(jobs) -> dict[str, float]:
    """Sum the execution metrics of ``jobs`` (units: s and MB)."""
    jobs = list(jobs)
    mb = 1 / 2**20
    return {
        "jobs": float(len(jobs)),
        "stages": float(sum(j.stages_done for j in jobs)),
        "tasks": float(sum(j.tasks for j in jobs)),
        "jobs_s": sum(j.dur for j in jobs),
        "task_run_s": sum(j.task_run_s for j in jobs),
        "task_cpu_s": sum(j.task_cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_write_mb": sum(j.shuffle_write_b for j in jobs) * mb,
        "shuffle_read_mb": sum(j.shuffle_read_b for j in jobs) * mb,
        "spill_disk_mb": sum(j.spill_disk_b for j in jobs) * mb,
        "output_mb": sum(j.output_b for j in jobs) * mb,
        "python_sent_mb": sum(j.python_sent_b for j in jobs) * mb,
        "python_returned_mb": sum(j.python_returned_b for j in jobs) * mb,
    }


#: the ``exec.*`` layers, from ``totals`` of the jobs a layer ran
EXEC_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_disk_mb", "python_sent_mb", "python_returned_mb",
)
#: per-layer metrics every workload's traced run emits
COMMON_LAYERS = frozenset(
    {
        "jvm_peak_rss_mb", "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
        "exec.wall_s", "storage.cached_mb_after_pass", "storage.local_dir_mb_after_pass",
        "trace.overhead_frac",
    }
    | {f"exec.{k}" for k in EXEC_KEYS}
)


def exec_layers(jobs, n: int) -> dict[str, float]:
    """The ``exec.*`` totals of ``jobs``, per pass (``n`` passes)."""
    t = totals(jobs)
    return {f"exec.{k}": t[k] / n for k in EXEC_KEYS}


def catalyst_phases_ms(qe) -> dict[str, float]:
    """Analysis / optimization / planning time recorded by a query
    execution (a ``QueryExecution`` JVM object) that has already run; a
    phase it has not run reads 0."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def overhead_frac(traced: list[float], untraced: list[float]) -> float:
    """How much slower the traced samples ran than the untraced ones
    (ratio of medians, minus 1)."""
    return statistics.median(traced) / statistics.median(untraced) - 1


def percentile(values: list[float], q: int) -> float:
    """``q``-th percentile (1..99), interpolated between neighbouring
    samples so that it moves smoothly when two samples swap places."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
            except OSError:  # a file removed while walking
                continue
            files += 1
    return size, files
