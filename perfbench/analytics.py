"""``analytics_relational``: one client runs the twelve ``ext_``/``ts_``/
``op_`` bench queries of the registry in repeated passes over seeded
tables.

Each query is timed from outside the package: ``registry()[q].fn``
builds the DataFrame, then every row of the DataFrame's own query
execution is materialized (``queryExecution().toRdd().count()``: the
work of a noop-sink write, without planning the query a second time
under a write command), so the Catalyst phases a traced run reads are
the ones that ran.

Set-up is table generation, the Spark session and one warm-up pass.
Passes from a fresh session ran 20.7 s, 8.2 s, then 6.7-7.4 s each at
local[4]: the first measured pass is still warming up, and the median
over at least three passes leaves it out. After the measured passes,
each query's result is collected once and compared with its DuckDB
oracle, and every pass's row count with the collected one.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

import check
import tablegen
import tracing

#: TPC-H-like scale of the generated tables: orders 30k rows, lineitem
#: 120k, events 20k, documents 1000; 3.3 MB of parquet. Chosen from traced
#: passes at local[4]: here a warm pass takes about 7 s, against 10.4 s on
#: sf0.1 tables of the same schema, with the same 60 jobs per pass and the
#: same split (query build 33% of the pass, 32% at sf0.1); at 0.004 the
#: pass is as long but the build share rises to 39%.
SCALE = 0.02

#: the bench queries with ext_/ts_/op_ prefixes (a test keeps this list
#: equal to the registry's)
PREFIXES = ("ext_", "ts_", "op_")
QUERIES = (
    "ext_agg_groupby", "ext_asof_join", "ext_equidepth_histogram", "ext_join_broadcast_star",
    "ext_rfm_segmentation", "ext_window_rank", "op_c2_has_child_eq", "ts_holt_forecast",
    "ts_holt_winters", "ts_seasonal_decompose", "ts_session_window", "ts_tumbling_window",
)
WARM_UP_PASSES = 1
#: measured passes per run, at least (more if ``--seconds`` allows)
MIN_PASSES = 3

#: the per-layer metrics a traced run emits
LAYERS = tracing.COMMON_LAYERS | {
    "contract.build_s", "contract.build_jobs", "contract.build_jobs_s", "contract.build_py_s",
    "sources.load_table_ms",
} | {f"q.{q}.{k}" for q in QUERIES for k in ("wall_s", "build_s")}


def bench_queries(registry) -> list[str]:
    return sorted(n for n, s in registry.items() if s.bench and n.startswith(PREFIXES))


def check_results(data_dir: str, specs: dict, results: dict) -> list[str]:
    problems = []
    con = check.oracle_connection(data_dir)
    try:
        for name, got in results.items():
            want = check.run_oracle(con, specs[name].oracle)
            problems += [f"{name}: {p}" for p in check.compare_frames(got, want)]
    finally:
        con.close()
    return problems


def _install_load_table_span(tracer) -> None:
    """Wrap ``sources.catalog.load_table`` in every package module that
    imported it, so each call is a ``sources.load_table`` span."""
    from adv_big_data_indexing_spark.sources import catalog  # noqa: PLC0415

    original = catalog.load_table

    def load_table(*args, **kwargs):
        with tracer.span("sources.load_table"):
            return original(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("adv_big_data_indexing_spark") and getattr(
            mod, "load_table", None
        ) is original:
            mod.load_table = load_table


class Passes:
    """Runs passes and keeps their samples. A warm-up pass keeps none; in
    a traced run every other measured pass runs with the tracer paused
    and only adds its time to ``untraced``."""

    def __init__(self, ctx, specs: dict, data: str) -> None:
        self.ctx, self.specs, self.data = ctx, specs, data
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.attempted = self.failed = 0
        self.passes: list[float] = []
        self.untraced: list[float] = []
        self.per_q: dict[str, dict[str, list[float]]] = {n: {"wall_s": [], "build_s": []} for n in QUERIES}
        self.catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self.storage: dict[str, float] = {}
        self.rows: dict[str, set[int]] = {n: set() for n in QUERIES}  # row counts seen

    def query(self, name: str) -> tuple[float, float, object] | None:
        """Build and materialize one query: (build s, wall s, its query
        execution), or None if it raised."""
        tracer = self.tracer
        self.attempted += 1
        try:
            with tracer.span("query", query=name):
                t0 = time.perf_counter()
                with tracer.span("build", group=True, query=name):
                    df = self.specs[name].fn(self.spark, self.data)
                t1 = time.perf_counter()
                with tracer.span("exec", group=True, query=name):
                    qe = df._jdf.queryExecution()
                    rows = qe.toRdd().count()
                t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
            self.failed += 1
            self.ctx.log(f"{name}: raised {e!r}"[:500])
            return None
        self.rows[name].add(rows)
        return t1 - t0, t2 - t0, qe

    def run_pass(self, warm_up: bool = False) -> None:
        tracer = self.tracer
        untraced = tracer.enabled and len(self.untraced) < len(self.passes)
        samples: list[tuple[str, float, float]] = []
        paused = warm_up or untraced
        with tracer.paused() if paused else contextlib.nullcontext(), tracer.span("pass"):
            t = time.perf_counter()
            for name in QUERIES:
                got = self.query(name)
                if got is None:
                    continue
                build_s, wall_s, qe = got
                samples.append((name, build_s, wall_s))
                if tracer.active:
                    for k, v in tracing.catalyst_phases_ms(qe).items():
                        self.catalyst[k] += v
            took = time.perf_counter() - t
        if warm_up:
            return
        if untraced:
            self.untraced.append(took)
            return
        self.passes.append(took)
        for name, build_s, wall_s in samples:
            self.per_q[name]["build_s"].append(build_s)
            self.per_q[name]["wall_s"].append(wall_s)
        if tracer.enabled:
            self.storage = self.ctx.storage_mb(self.spark)


def run(ctx) -> dict:
    from adv_big_data_indexing_spark.contract import registry  # noqa: PLC0415

    specs = registry()
    data = os.path.join(ctx.workdir, "data")
    t = time.perf_counter()
    sizes = tablegen.write_tables(data, ctx.seed, SCALE)
    gen_s = time.perf_counter() - t
    spark = ctx.start_session()

    runner = Passes(ctx, specs, data)
    t = time.perf_counter()
    for _ in range(WARM_UP_PASSES):
        runner.run_pass(warm_up=True)
    setup_s = gen_s + ctx.session_s + time.perf_counter() - t

    tracer = ctx.tracer
    if tracer.enabled:
        _install_load_table_span(tracer)
    ctx.begin_measuring()
    t_run = time.perf_counter()
    while len(runner.passes) < MIN_PASSES or time.perf_counter() - t_run < ctx.seconds:
        runner.run_pass()
    ctx.record_peaks()

    # output check: each result collected once
    attempted, failed = runner.attempted, runner.failed
    results = {}
    for name in QUERIES:
        attempted += 1
        try:
            results[name] = specs[name].fn(spark, data).toPandas()
        except Exception as e:  # noqa: BLE001
            failed += 1
            ctx.log(f"{name}: collect raised {e!r}"[:500])
    problems = check_results(data, specs, results)
    problems += [
        f"{n}: materialized {sorted(runner.rows[n])} rows, collected {len(r)}"
        for n, r in results.items()
        if runner.rows[n] != {len(r)}
    ]
    for p in problems:
        ctx.log(p[:500])
    failed += len({p.split(":", 1)[0] for p in problems})

    passes = runner.passes
    lat_ms = [s * 1e3 for v in runner.per_q.values() for s in v["wall_s"]]
    out = {
        "setup_s": setup_s,
        # each query's median over the passes, summed: steadier than the
        # median pass, as a slow query in one pass no longer moves it
        "pass_s": sum(statistics.median(v["wall_s"]) for v in runner.per_q.values() if v["wall_s"]),
        "read_p50_ms": tracing.percentile(lat_ms, 50),
        "read_p90_ms": tracing.percentile(lat_ms, 90),
    }
    info = {
        "table_bytes": sizes,
        "samples": {"passes": len(passes), "untraced_passes": len(runner.untraced), "reads": len(lat_ms)},
        "pass_s": passes,
        "query_s": {n: v["wall_s"] for n, v in runner.per_q.items()},
        "setup": {"gen_s": gen_s, "session_s": ctx.session_s},
        "check_problems": problems[:10],
    }
    layers = {}
    if tracer.enabled:
        layers = fold_layers(ctx, runner)
        gap = abs(layers["contract.build_s"] + layers["exec.wall_s"] - statistics.mean(passes))
        info["layer_gap_frac"] = gap / statistics.mean(passes)
        attempted += 1
        if info["layer_gap_frac"] > 0.05:
            failed += 1
            ctx.log(f"layer sum is {info['layer_gap_frac']:.1%} away from pass_s")
    return {"e2e": out, "layers": layers, "attempted": attempted, "failed": failed, "info": info}


def fold_layers(ctx, runner: Passes) -> dict:
    tracer = runner.tracer
    n = len(runner.passes)
    jobs = tracing.read_jobs(ctx.stop_session())
    tracing.attribute(jobs, tracer)
    measured = {s.id for s in tracer.spans if any(a.name == "pass" for a in tracer.ancestors(s.id))}
    in_pass = [j for j in jobs.values() if j.span in measured]
    bj = tracing.totals(j for j in in_pass if tracer.spans[j.span].name == "build")

    def span_s(name: str) -> float:
        return sum(s.dur for s in tracer.spans if s.name == name and s.id in measured) / n

    build_s = span_s("build")
    layers = {
        "contract.build_s": build_s,
        "contract.build_jobs": bj["jobs"] / n,
        "contract.build_jobs_s": bj["jobs_s"] / n,
        "contract.build_py_s": build_s - bj["jobs_s"] / n,
        "sources.load_table_ms": 1e3 * span_s("sources.load_table"),
        "catalyst.analysis_ms": runner.catalyst["analysis"] / n,
        "catalyst.optimizer_ms": runner.catalyst["optimization"] / n,
        "catalyst.planning_ms": runner.catalyst["planning"] / n,
        "exec.wall_s": span_s("exec"),
        "storage.cached_mb_after_pass": runner.storage["cached_mb"],
        "storage.local_dir_mb_after_pass": runner.storage["local_dir_mb"],
        "trace.overhead_frac": tracing.overhead_frac(runner.passes, runner.untraced),
        "jvm_peak_rss_mb": ctx.peaks["jvm_peak_rss_mb"],
    } | tracing.exec_layers(in_pass, n)
    for name, v in runner.per_q.items():
        if not v["wall_s"]:
            continue  # failed in every pass: already counted, and its layers stay missing
        layers[f"q.{name}.wall_s"] = statistics.median(v["wall_s"])
        layers[f"q.{name}.build_s"] = statistics.median(v["build_s"])
    return layers
