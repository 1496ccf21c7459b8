"""Benchmark entry point.

    python3 perfbench/run.py --workload doc_write_read --seed 1 --seconds 15 --trace 0

Runs one workload (``analytics_relational`` or ``doc_write_read``) in
one process on ``local[<cores>]``: set-up, then passes or cycles for at
least ``--seconds`` seconds and at least the workload's minimum count
(three passes, two cycles), then the output checks. Prints two JSON
lines on stdout: run context (host cores, load average, stray Spark
JVMs, CPU steal, samples), then the result
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, from spans and the Spark
event log. Every run works in a fresh directory under
``.perfbench_run/`` (inputs, queue, store, checkpoints, Spark local
dirs, event log) and deletes it before exiting; a traced run leaves
its spans in ``.perfbench_traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "adv_big_data_indexing_spark"
sys.path[:0] = [HERE, ROOT]

import tracing  # noqa: E402

#: workload -> the module that runs it
WORKLOADS = {"analytics_relational": "analytics", "doc_write_read": "docflow"}
#: where a traced run writes its spans
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")


def _proc_status_kb(pid: int | str, field: str) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return float(line.split()[1])
    except OSError:
        return None
    return None


def _reset_peak(pid: int | str) -> None:
    """Reset VmHWM to the current RSS (Linux ``clear_refs`` code 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _children(pid: int) -> list[int]:
    """All descendants of ``pid``."""
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stray_spark_pids() -> list[int]:
    """Spark JVMs already running on this host; their work would
    contaminate the timings."""
    me = os.getpid()
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit() and int(p) != me:
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            argv0 = cmd.split(b"\0", 1)[0]
            if os.path.basename(argv0) == b"java" and b"org.apache.spark" in cmd:
                out.append(int(p))
    return out


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


class Context:
    """One run's directories, Spark session and process bookkeeping."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool) -> None:
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.cores = len(os.sched_getaffinity(0))
        self.workdir = os.path.join(ROOT, ".perfbench_run", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.workdir, ignore_errors=True)
        self.dirs = {}
        for name in ("spark-local", "tmp", "eventlog", "warehouse"):
            self.dirs[name] = os.path.join(self.workdir, name)
            os.makedirs(self.dirs[name])
        os.environ["TMPDIR"] = tempfile.tempdir = self.dirs["tmp"]
        self.tracer = tracing.NullTracer()
        self.spark = None
        self.session_s = 0.0
        self.jvm_pid: int | None = None
        self.peaks: dict[str, float] = {}

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def start_session(self):
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = self.dirs["spark-local"]
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        conf = {
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file:" + self.dirs["eventlog"],
                "spark.eventLog.compress": "false",
            }
        args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
        # -XX:-UsePerfData: the JVM writes hsperfdata to the system temp dir even
        # when java.io.tmpdir points elsewhere
        java_opts = f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData"
        args += ["--driver-java-options", java_opts, "pyspark-shell"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

        from pyspark import SparkContext  # noqa: PLC0415

        from adv_big_data_indexing_spark.session import get_spark  # noqa: PLC0415

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        if self.traced:
            self.tracer = tracing.Tracer(self.spark)
        return self.spark

    def begin_measuring(self) -> None:
        """End of set-up: start the peak-RSS window."""
        for pid in ("self", self.jvm_pid):
            if pid is not None:
                _reset_peak(pid)

    def record_peaks(self) -> None:
        """Close the peak-RSS window (end of the measured loop)."""
        self.peaks = {
            "driver_peak_rss_mb": (_proc_status_kb("self", "VmHWM") or 0.0) / 1024,
            "jvm_peak_rss_mb": (_proc_status_kb(self.jvm_pid, "VmHWM") or 0.0) / 1024,
        }

    def storage_mb(self, spark) -> dict[str, float]:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached = sum(i.memSize() + i.diskSize() for i in infos)
        return {
            "cached_mb": cached / 2**20,
            "local_dir_mb": tracing.dir_stats(self.dirs["spark-local"])[0] / 2**20,
        }

    def stop_session(self) -> str:
        """Stop Spark, end the JVM and its Python workers, and return the
        event-log directory (complete once the session has stopped)."""
        if self.spark is None:
            return self.dirs["eventlog"]
        from pyspark import SparkContext  # noqa: PLC0415

        kids = _children(self.jvm_pid)
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = gateway.proc
        try:
            gateway.shutdown()
        except Exception as e:  # noqa: BLE001 - shutting down regardless
            self.log(f"gateway shutdown: {e!r}")
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 20
        kids = [k for k in kids + _children(self.jvm_pid) if _alive(k)]
        while kids and time.monotonic() < deadline:
            time.sleep(0.1)
            kids = [k for k in kids if _alive(k)]
        for k in kids:
            try:
                os.kill(k, signal.SIGKILL)
            except OSError:
                pass
        self.spark = None
        return self.dirs["eventlog"]

    def close(self) -> None:
        try:
            self.stop_session()
        finally:
            shutil.rmtree(self.workdir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.workdir))
            except OSError:
                pass


def select_metrics(spec: dict, res: dict, traced: bool, layers: frozenset[str]) -> dict:
    """The metrics this mode prints, in ``BENCHMARK.json`` order. A traced
    run must emit exactly ``layers``, the workload's declared per-layer
    metrics; the others print 0, as the workload does no work in them."""
    if traced:
        emitted = set(res["layers"])
        if emitted != layers:
            raise KeyError(
                f"layers not emitted: {sorted(layers - emitted)}; not declared: {sorted(emitted - layers)}"
            )
        return {
            m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    return {m["name"]: {"value": float(res["e2e"][m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload and print its result.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/; nothing to measure", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": os.cpu_count(),
        "spark_cores": len(os.sched_getaffinity(0)),
        "load_before": loadavg(),
        "stray_spark_pids": stray_spark_pids(),
    }
    if context["stray_spark_pids"]:
        print(f"perfbench: other Spark JVMs are running: {context['stray_spark_pids']}", file=sys.stderr)

    workload = importlib.import_module(WORKLOADS[args.workload])
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace))
    t0, cpu0 = time.perf_counter(), cpu_jiffies()
    try:
        res = workload.run(ctx)
    finally:
        ctx.close()
    if args.trace:
        os.makedirs(TRACE_DIR, exist_ok=True)
        ctx.tracer.dump(os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json"))
    res["e2e"]["driver_peak_rss_mb"] = ctx.peaks["driver_peak_rss_mb"]
    context |= res["info"]
    cpu1 = cpu_jiffies()
    context |= {
        "load_after": loadavg(),
        "run_s": time.perf_counter() - t0,
        # CPU time the hypervisor gave to other guests: a high share means a noisy host
        "steal_frac": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
    }
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": select_metrics(spec, res, bool(args.trace), workload.LAYERS),
    }
    print(json.dumps(context, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
