"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "bench_total_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

Each query materializes through the noop sink (full computation, no
driver-side collect), timed after a JVM/session warmup query. Set
BENCH_ALL=1 to time every registered query instead of the headline set.

The JSON line embeds /proc/loadavg before and after the run
("load_before"/"load_after", 1-min AND 5-min) plus any stray Spark JVMs
detected before the session starts ("stray_spark_pids"). BENCH_r07.json
was invalidated by an orphaned sf10 sweep still chewing 21 cores during
the driver bench (VERDICT r7); a contaminated run is now self-evident
from the artifact, and a loud stderr warning fires when load_before
suggests the machine is not quiet. Quiet-machine convention (VERDICT r8
item 6, tightened r13 per VERDICT r12 item 2): quiet means the 1-min
AND the 5-MIN averages are both ≤ 2 — BENCH_r12 passed a 1-min-only
gate at 1.72 while the 5-min average was 3.55 and co-running work
inflated queries up to 5.7×. A busy start triggers a BOUNDED settle
wait (≤300 s, only when no stray Spark JVM explains the load) before
any timing begins — "load_at_invocation"/"settle_wait_sec" annotate it.
The run then defends ITSELF: a 1-min loadavg sample is recorded after
every query ("load_mid_samples"/"load_mid_max"), any query reading >2×
its best prior BENCH_r*.json value is flagged, and flagged queries are
re-timed once after a settle — "flagged_outliers" carries timed vs
standing vs re-run side by side, so an ambient spike is distinguishable
from a real regression inside the artifact. Headline timings are never
replaced — measurement is annotated or supplemented, never silently
altered.

Log-tail note (VERDICT r10 nit 3): the `WindowExec: No Partition
Defined` warnings in the bench tail are EXPECTED and benign — they
fire on pool/panel-sized frames only (compile-time-constant query
panels, per-group offset pools), never on a data-sized global window:
tests/test_plan_quality.py::test_grouped_rank_machinery_no_group_window
and its siblings assert exactly that on the physical plans, and
docs/RANK_MACHINERY.md documents the triage (check the
windowspecdefinition columns and the child node — TakeOrderedAndProject
/ tiny-agg children are the benign pools).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from adv_big_data_indexing_spark.contract import registry
from adv_big_data_indexing_spark.session import get_spark


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _loadavg() -> float | None:
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def _loadavg5() -> float | None:
    """The 5-MINUTE average. BENCH_r12 passed the 1-min quiet gate at
    1.72 while the 5-min average was 3.55 and co-running work was still
    draining — the artifact's headline was machine noise (VERDICT r12
    item 2a). Quiet now means BOTH averages are below the bar."""
    try:
        return float(Path("/proc/loadavg").read_text().split()[1])
    except (OSError, ValueError, IndexError):
        return None


def _standing_query_times(sf: float | None, root: Path | None = None) -> dict[str, float]:
    """Best (minimum) per-query reading across every prior BENCH_r*.json
    in the repo root — the reference for the mid-run outlier flag
    (VERDICT r12 item 2b). The MIN over rounds is immune to any one
    contaminated artifact (r12's official file carried 5.7× ambient
    inflation on untouched code); a genuine regression still flags,
    and the flagged re-run below then shows whether it reproduces on a
    settled machine."""
    standing: dict[str, float] = {}
    if root is None:
        root = Path(__file__).resolve().parent
    for path in sorted(root.glob("BENCH_r*.json")):
        # r1–r5 artifacts used the materialize-only timing convention
        # (fn() built once, only the downstream noop timed); r6+ rebuilds
        # the DataFrame inside the clock. Mixing conventions made
        # build-heavy queries permanent "outliers" (ns_bpe standing
        # 0.246 s vs full-run 2.46 s — 6 false flags in BENCH_r13, every
        # re-run confirming the timed value), so the reference is r6+
        # only (VERDICT r13 item 8 / harness-nit).
        rm = re.search(r"BENCH_r0*(\d+)", path.name)
        if rm and int(rm.group(1)) < 6:
            continue
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data.get("queries"), dict):
            # the driver wraps this script's JSON line under "parsed"
            # ({"n": ..., "rc": ..., "tail": ..., "parsed": {...}}) — the
            # repo-root BENCH_r*.json are that shape, so reading only the
            # top level would leave the standing table empty and the
            # outlier flag permanently dark. The wrapper may carry "sf"
            # only at the TOP level (ADVICE r13): fall back to it rather
            # than silently dropping the round from the table.
            outer = data
            data = data.get("parsed") or {}
            if data.get("sf") is None and outer.get("sf") is not None:
                data = {**data, "sf": outer.get("sf")}
        if data.get("sf") != sf:
            continue  # prior readings are SF-specific
        for name, sec in (data.get("queries") or {}).items():
            if isinstance(sec, (int, float)):
                standing[name] = min(standing.get(name, float("inf")), float(sec))
    return standing


def _stray_spark_pids() -> list[int]:
    """PIDs of Spark JVMs already running before this bench starts.

    Any hit means another Spark workload shares the machine and the
    timings below are suspect (the r7 contamination signature)."""
    pids: list[int] = []
    me = os.getpid()
    for p in Path("/proc").iterdir():
        if not p.name.isdigit() or int(p.name) == me:
            continue
        try:
            cmd = (p / "cmdline").read_bytes().replace(b"\0", b" ")
        except OSError:
            continue
        if b"org.apache.spark" in cmd or b"SparkSubmit" in cmd:
            pids.append(int(p.name))
    return pids


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    load_before = _loadavg()
    strays = _stray_spark_pids()
    ncpu = os.cpu_count() or 32
    if strays:
        print(
            f"WARNING: {len(strays)} Spark JVM(s) already running "
            f"(pids {strays}) — timings will be contaminated; kill them "
            "and re-run.",
            file=sys.stderr,
        )
    # Quiet-machine convention (VERDICT r8 item 6): if the machine is not
    # quiet at start, WAIT (bounded) for the 1-min load to settle below
    # the quiet bar instead of recording a contaminated headline; both
    # readings and the wait are annotated in the JSON line either way.
    load_at_invocation = load_before
    load5_at_invocation = _loadavg5()
    load5_before = load5_at_invocation
    settle_wait = 0.0
    _QUIET = 2.0

    def _quiet(l1, l5):
        # BOTH averages below the bar (VERDICT r12 item 2a): the 1-min
        # instant can dip under 2 while the 5-min average still shows
        # work draining — exactly how BENCH_r12 passed a contaminated
        # start.
        return (l1 is None or l1 <= _QUIET) and (l5 is None or l5 <= _QUIET)

    if not _quiet(load_before, load5_before) and not strays:
        # the 5-min average needs longer to drain than the 1-min one
        deadline = time.monotonic() + 300.0
        while not _quiet(load_before, load5_before) and time.monotonic() < deadline:
            time.sleep(15.0)
            settle_wait += 15.0
            fresh = _loadavg()  # 0.0 is a REAL quiet reading, not a miss
            load_before = load_before if fresh is None else fresh
            fresh5 = _loadavg5()
            load5_before = load5_before if fresh5 is None else fresh5
        print(
            f"NOTE: waited {settle_wait:.0f}s for load to settle "
            f"(1-min {load_at_invocation} -> {load_before}, "
            f"5-min {load5_at_invocation} -> {load5_before}).",
            file=sys.stderr,
        )
    if load_before is not None and load_before > max(4.0, ncpu / 8):
        print(
            f"WARNING: load average {load_before} before bench start — "
            "machine is not quiet; expect inflated timings (see "
            "BENCH_r07 post-mortem in VERDICT r7).",
            file=sys.stderr,
        )

    spark = get_spark("adv-big-data-indexing-bench")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    specs = registry()
    names = sorted(
        n for n, s in specs.items() if (os.environ.get("BENCH_ALL") == "1" or s.bench)
    )

    # Steady-state warmup: run the WHOLE timed set once untimed before any
    # timing starts. The BASELINE.md DuckDB numbers are explicitly
    # steady-state (warm plans, 32 warm threads), so symmetry demands the
    # JVM reach steady state too — one pass compiles every query's codegen
    # and lets C2 finish with the shared paths (parquet decode, hash agg,
    # sort) hot; without it, whichever query runs first absorbs the JIT
    # ramp (~0.3 s) that alphabetical neighbors then don't pay.
    for name in names:
        materialize(specs[name].fn(spark, sf_dir))

    # Then per query: one more untimed run (plan re-derivation), best of
    # two timed runs — single-run timings on a 32-thread local JVM swing
    # ±0.3 s/query with machine noise, which would otherwise dominate the
    # round-over-round comparison. The timed unit REBUILDS the DataFrame
    # inside the clock: several queries materialize an eager
    # localCheckpoint during fn() (the rank machinery's boundary-
    # consistency device), and timing only the downstream materialize
    # would hide that work.
    timings: dict[str, float] = {}
    load_samples: dict[str, float] = {}
    load_mid_max: float | None = None
    for name in names:
        materialize(specs[name].fn(spark, sf_dir))
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(specs[name].fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        # mid-run ambient sample (VERDICT r12 item 2b): one 1-min
        # loadavg reading per query, so a load spike DURING the run is
        # visible in the artifact next to the query it inflated —
        # r12's contamination was only reconstructable by forensics.
        sample = _loadavg()
        if sample is not None:
            load_samples[name] = sample
            load_mid_max = sample if load_mid_max is None else max(load_mid_max, sample)

    # Per-query outlier flag + settled re-run (VERDICT r12 item 2b/2c):
    # any query reading >2× its best prior-round artifact value is
    # flagged, and after a bounded settle wait each flagged query is
    # re-timed ONCE — both readings ship in the artifact, so a reader
    # distinguishes "ambient spike" (re-run ≈ standing) from "real
    # regression" (re-run confirms) without post-hoc re-measurement.
    standing = _standing_query_times(sf)
    flagged: dict[str, dict] = {}
    for name, sec in timings.items():
        ref = standing.get(name)
        if ref is not None and ref > 0 and sec > 2.0 * ref:
            flagged[name] = {
                "timed": sec,
                "standing_best": ref,
                "load_sample": load_samples.get(name),
            }
    if flagged:
        wait = 0.0
        l1, l5 = _loadavg(), _loadavg5()
        deadline = time.monotonic() + 180.0
        while not _quiet(l1, l5) and time.monotonic() < deadline:
            time.sleep(15.0)
            wait += 15.0
            l1, l5 = _loadavg(), _loadavg5()
        for name in flagged:
            materialize(specs[name].fn(spark, sf_dir))  # re-warm the plan
            t0 = time.perf_counter()
            materialize(specs[name].fn(spark, sf_dir))
            flagged[name]["rerun"] = round(time.perf_counter() - t0, 3)
        print(
            f"NOTE: {len(flagged)} flagged outlier(s) re-run after a "
            f"{wait:.0f}s settle: "
            + ", ".join(
                f"{n} {v['timed']}s -> {v['rerun']}s (standing {v['standing_best']}s)"
                for n, v in flagged.items()
            ),
            file=sys.stderr,
        )

    out = {
        "metric": "bench_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "load_before": load_before,
        "load5_before": load5_before,
        "load_after": _loadavg(),
        "load5_after": _loadavg5(),
        "load_at_invocation": load_at_invocation,
        "load5_at_invocation": load5_at_invocation,
        "load_mid_max": load_mid_max,
        "load_mid_samples": load_samples,
        "flagged_outliers": flagged,
        "settle_wait_sec": settle_wait,
        "stray_spark_pids": strays,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
