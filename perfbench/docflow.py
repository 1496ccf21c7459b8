"""``doc_write_read``: the document write -> index -> search path.

One client writes seeded plan documents as CDC batches (inserts,
full-document updates, deletes and schema-invalid documents), indexes
each batch with ``streaming.cdc.run_document_indexer`` (validation,
shredding, entity-store merge and the reconstructed search projection)
and drains it. After each batch it issues a fixed mix of reads against
the projection: point GETs with and without ``If-None-Match``,
``search_plans``, ``parents_having``, ``parents_by_copay`` and
``children_of_matching_parents``. Every read's hit count is checked
against the generator's plain-Python answer.

Set-up is the Spark session, the first batch and one read of each
shape. Then at least two measured cycles (more if ``--seconds`` allows)
of one batch and ``READS_PER_CYCLE`` reads. Batches from a fresh
session ran 24 s, 8.9 s, then about 6 s each at local[4], so the first
measured cycle is still warming up. A third cycle, or a second warm-up
batch, made the figures no steadier across runs (noise from the host
dominates) and costs about 7 s a run, which the run budget lacks.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

import tracing
from docgen import COPAY_PROBES, ORGS, PLAN_TYPES, SERVICE_NAMES, PlanStream

SCHEMA_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_schema.json")

#: first batch (set-up), then each later batch
FIRST_BATCH = {"inserts": 120, "updates": 0, "deletes": 0, "invalid": 8}
BATCH = {"inserts": 24, "updates": 12, "deletes": 6, "invalid": 6}
#: reads after each measured batch: read ``i`` of a cycle is of kind
#: ``READ_KINDS[i % 8]`` and shape ``i // 8``, so two cycles give 100
#: reads, ten of them beyond the 90th percentile
READS_PER_CYCLE = 50
MIN_CYCLES = 2
READ_KINDS = (
    "get", "get_if_none_match", "get_missing", "search_plans", "search_plans_org",
    "parents_having", "parents_by_copay", "children_of_matching_parents",
)
#: the read shapes that shape 0 does not cover, warmed in set-up
WARM_SHAPES = (
    ("parents_by_copay", 1),
    ("children_of_matching_parents", 1),
    ("children_of_matching_parents", 2),
)
LAYER_OF_READ = {
    "get": "operators.mutate.conditional_read_ms",
    "get_if_none_match": "operators.mutate.conditional_read_ms",
    "get_missing": "operators.mutate.conditional_read_ms",
    "search_plans": "operators.search.search_plans_ms",
    "search_plans_org": "operators.search.search_plans_ms",
    "parents_having": "operators.search.parents_having_ms",
    "parents_by_copay": "operators.search.parents_by_copay_ms",
    "children_of_matching_parents": "operators.search.children_of_matching_parents_ms",
}
#: the per-layer metrics a traced run emits
LAYERS = tracing.COMMON_LAYERS | set(LAYER_OF_READ.values()) | {
    "streaming.cdc.enqueue_s", "streaming.cdc.batch_s", "streaming.cdc.refresh_reconstructed_s",
    "streaming.cdc.write_p50_s", "streaming.cdc.ingest_docs_per_s", "streaming.cdc.jobs_per_batch",
    "streaming.cdc.tasks_per_batch", "streaming.cdc.bytes_written_per_doc_byte",
    "streaming.cdc.store_bytes_per_doc_byte", "streaming.cdc.store_files", "plans.validate_reject_frac",
    "operators.shred.tables_ms", "operators.search.jobs_per_read",
}


class Client:
    """The closed-loop client: writes batches, reads, checks every answer."""

    def __init__(self, ctx, spark) -> None:
        from adv_big_data_indexing_spark.streaming import cdc  # noqa: PLC0415

        self.ctx, self.spark, self.cdc = ctx, spark, cdc
        self.tracer = ctx.tracer
        with open(SCHEMA_PATH) as f:
            self.schema = json.load(f)
        self.dirs = {
            k: os.path.join(ctx.workdir, k)
            for k in ("queue", "entities", "rejects", "checkpoint", "projection")
        }
        self.stream = PlanStream(ctx.seed)
        self.rng = random.Random(ctx.seed * 7919 + 1)
        self.etags: dict[str, tuple[str, int]] = {}  # key -> (etag, version) seen by GET
        self.tables = None
        self.proj = None
        self.attempted = self.failed = 0
        self.write_s: list[float] = []
        self.enqueue_s: list[float] = []
        self.docs_written = 0
        self.doc_bytes_written = 0
        self.reads: list[tuple[str, float]] = []  # (kind, seconds)
        self.shred_s: list[float] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.ctx.log(msg[:500])

    # -- writes --------------------------------------------------------------

    def write_batch(self, sizes: dict, measured: bool) -> float:
        before = (self.stream.docs_sent, self.stream.bytes_sent)
        records = self.stream.batch(**sizes)
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("cdc.write", docs=len(records)):
            with self.tracer.span("cdc.enqueue", group=True):
                self.cdc.enqueue(self.spark, self.dirs["queue"], records)
            t1 = time.perf_counter()
            with self.tracer.span("cdc.batch"):
                q = self.cdc.run_document_indexer(
                    self.spark, self.dirs["queue"], self.dirs["entities"], self.dirs["rejects"],
                    self.dirs["checkpoint"], self.schema, reconstructed_dir=self.dirs["projection"],
                )
                self.cdc.drain(q)
        took = time.perf_counter() - t0
        if q.isActive or q.exception() is not None:
            q.stop()
            self.fail(f"indexer batch did not finish cleanly: {q.exception()}")
        if measured:
            self.write_s.append(took)
            self.enqueue_s.append(t1 - t0)
            self.docs_written += self.stream.docs_sent - before[0]
            self.doc_bytes_written += self.stream.bytes_sent - before[1]
        return took

    def refresh_tables(self) -> float:
        from adv_big_data_indexing_spark.operators.shred import shred  # noqa: PLC0415

        t = time.perf_counter()
        with self.tracer.span("operators.shred.tables"):
            self.proj = self.spark.read.parquet(self.dirs["projection"])
            self.tables = shred(self.proj)
        return time.perf_counter() - t

    # -- reads -----------------------------------------------------------------

    def _get(self, key: str, if_none_match: str | None):
        from pyspark.sql import functions as F  # noqa: PLC0415

        from adv_big_data_indexing_spark.operators import mutate  # noqa: PLC0415

        df = mutate.conditional_read(self.proj.filter(F.col("id") == key), if_none_match)
        return df, df.collect()

    def _count(self, df):
        from adv_big_data_indexing_spark.operators import search  # noqa: PLC0415

        hits = search.hit_count(df)
        return hits, hits.collect()[0]["n_hits"]

    def read(self, kind: str, variant: int, measured: bool) -> None:
        """One read; checks the answer against the generator. ``variant``
        fixes the read's shape (child table, copay direction), so every
        seed runs the same mix; only keys and values are drawn."""
        from adv_big_data_indexing_spark.operators import search  # noqa: PLC0415

        s, r = self.stream, self.rng
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("read", group=True, kind=kind) as span:
            if kind in ("get", "get_if_none_match", "get_missing"):
                if kind == "get":
                    key = r.choice(sorted(s.live))
                    inm, want = None, (1, 200)
                elif kind == "get_if_none_match":
                    key = r.choice(sorted(self.etags))
                    inm, version = self.etags[key]
                    if key not in s.live:
                        want = (0, None)
                    else:
                        want = (1, 304 if s.version[key] == version else 200)
                else:
                    key = f"plan_missing{r.randrange(10**6)}"
                    inm, want = None, (0, None)
                df, rows = self._get(key, inm)
                got = (len(rows), rows[0]["status"] if rows else None)
                if kind == "get" and rows:
                    self.etags[key] = (rows[0]["etag"], s.version[key])
            elif kind in ("search_plans", "search_plans_org"):
                params = {"planType": r.choice(PLAN_TYPES)}
                if kind == "search_plans_org":
                    params["_org"] = r.choice(ORGS)
                df, n = self._count(search.search_plans(self.tables, params))
                got, want = n, s.expected_search_plans(params)
            elif kind == "parents_having":
                name = r.choice(SERVICE_NAMES)
                df, n = self._count(search.parents_having(self.tables, "planservice_service", {"name": name}))
                got, want = n, s.expected_parents_having_service(name)
            elif kind == "parents_by_copay":
                less, value = variant % 2 == 0, r.choice(COPAY_PROBES)
                df, n = self._count(search.parents_by_copay(self.tables, less, value))
                got, want = n, s.expected_parents_by_copay(less, value)
            else:
                table = ("planservices", "services", "membercostshares")[variant % 3]
                params = {"planType": r.choice(PLAN_TYPES)}
                df, n = self._count(search.children_of_matching_parents(self.tables, table, params))
                got, want = n, s.expected_children(table, params)
            if span is not None:
                span.attrs["phases"] = tracing.catalyst_phases_ms(df._jdf.queryExecution())
        took = time.perf_counter() - t0
        if got != want:
            self.fail(f"read {kind}: got {got}, expected {want}")
        if measured:
            self.reads.append((kind, took))

    def cycle(self, measured: bool) -> float:
        """One measured cycle: a batch, then the cycle's reads."""
        t = time.perf_counter()
        self.write_batch(BATCH, measured)
        shred_s = self.refresh_tables()
        if measured:
            self.shred_s.append(shred_s)
        for i in range(READS_PER_CYCLE):
            self.read(READ_KINDS[i % len(READ_KINDS)], i // len(READ_KINDS), measured)
        return time.perf_counter() - t

    # -- final checks ------------------------------------------------------------

    def check_store(self) -> None:
        """Projection (id, etag) set equals a from-scratch rebuild of the
        generator's live documents; rejects equal the invalid documents sent."""
        from pyspark.sql import functions as F  # noqa: PLC0415

        from adv_big_data_indexing_spark.operators.reconstruct import reconstruct, with_etag  # noqa: PLC0415
        from adv_big_data_indexing_spark.operators.shred import shred  # noqa: PLC0415
        from adv_big_data_indexing_spark.plans.json_schema_compiler import validate  # noqa: PLC0415

        self.attempted += 2
        raw = self.spark.createDataFrame([(d,) for d in self.stream.live_json()], "raw string")
        v = validate(raw, self.schema)
        n_invalid = v.filter(~F.col("is_valid")).count()
        want = {
            (r["id"], r["etag"])
            for r in with_etag(reconstruct(shred(v.filter("is_valid").select("doc.*"))))
            .select("id", "etag")
            .collect()
        }
        got = {(r["id"], r["etag"]) for r in self.spark.read.parquet(self.dirs["projection"]).select("id", "etag").collect()}
        if n_invalid or got != want:
            self.fail(
                f"projection differs from a rebuild of the live set: {n_invalid} live docs invalid, "
                f"{len(got - want)} unexpected, {len(want - got)} missing of {len(want)}"
            )
        rejects = self.spark.read.parquet(self.dirs["rejects"]).count()
        if rejects != self.stream.invalid_sent:
            self.fail(f"rejects table has {rejects} rows, generator sent {self.stream.invalid_sent} invalid")
        self.rejects = rejects


def run(ctx) -> dict:
    spark = ctx.start_session()
    t = time.perf_counter()
    client = Client(ctx, spark)
    tracer = ctx.tracer
    if tracer.enabled:
        _install_refresh_span(client.cdc, tracer)
    with tracer.paused():
        client.write_batch(FIRST_BATCH, measured=False)
        client.refresh_tables()
        for kind in READ_KINDS:
            client.read(kind, 0, measured=False)
        for kind, variant in WARM_SHAPES:
            client.read(kind, variant, measured=False)
    setup_s = ctx.session_s + time.perf_counter() - t

    ctx.begin_measuring()
    cycles: list[float] = []
    untraced: list[float] = []  # a traced run's paused cycles, for trace.overhead_frac
    t_run = time.perf_counter()
    while len(cycles) < MIN_CYCLES or time.perf_counter() - t_run < ctx.seconds:
        if tracer.enabled and len(untraced) < len(cycles):
            with tracer.paused():
                untraced.append(client.cycle(measured=False))
            continue
        with tracer.span("cycle"):
            cycles.append(client.cycle(measured=True))
    ctx.record_peaks()

    live_bytes = client.stream.live_bytes()
    store = {k: tracing.dir_stats(client.dirs[k]) for k in ("entities", "projection", "rejects")}
    client.check_store()

    lat_ms = [s * 1e3 for _, s in client.reads]
    out = {
        "setup_s": setup_s,
        "pass_s": statistics.median(cycles),
        "read_p50_ms": tracing.percentile(lat_ms, 50),
        "read_p90_ms": tracing.percentile(lat_ms, 90),
    }
    info = {
        "samples": {"cycles": len(cycles), "untraced_cycles": len(untraced), "reads": len(lat_ms)},
        "pass_s": cycles,
        "write_s": client.write_s,
        "shred_s": client.shred_s,
        "read_ms": lat_ms,
        "session_s": ctx.session_s,
        "live_docs": len(client.stream.live),
        "live_doc_bytes": live_bytes,
        "store_bytes": {k: v[0] for k, v in store.items()},
        "invalid_share": client.stream.invalid_sent / client.stream.docs_sent,
    }
    layers = {}
    if tracer.enabled:
        layers = fold_layers(ctx, tracer, client, cycles) | {
            "streaming.cdc.write_p50_s": statistics.median(client.write_s),
            "streaming.cdc.enqueue_s": statistics.median(client.enqueue_s),
            "streaming.cdc.ingest_docs_per_s": client.docs_written / sum(client.write_s),
            "streaming.cdc.store_bytes_per_doc_byte": (store["entities"][0] + store["projection"][0]) / live_bytes,
            "streaming.cdc.store_files": float(sum(n for _, n in store.values())),
            "plans.validate_reject_frac": client.rejects / client.stream.docs_sent,
            "operators.shred.tables_ms": statistics.median(client.shred_s) * 1e3,
            "trace.overhead_frac": tracing.overhead_frac(cycles, untraced),
        }
    return {"e2e": out, "layers": layers, "attempted": client.attempted, "failed": client.failed, "info": info}


def _install_refresh_span(cdc, tracer) -> None:
    """Time ``cdc.refresh_reconstructed`` (called on the stream thread)."""
    original = cdc.refresh_reconstructed

    def refresh_reconstructed(*args, **kwargs):
        with tracer.span("streaming.cdc.refresh_reconstructed"):
            return original(*args, **kwargs)

    cdc.refresh_reconstructed = refresh_reconstructed


def fold_layers(ctx, tracer, client, cycles) -> dict:
    n = len(cycles)
    storage = ctx.storage_mb(client.spark)
    jobs = tracing.read_jobs(ctx.stop_session())
    tracing.attribute(jobs, tracer, window_names=("cdc.batch",))

    def under(name: str) -> set[int]:
        return {s.id for s in tracer.spans if any(a.name == name for a in tracer.ancestors(s.id))}

    in_cycle = under("cycle")
    writes = under("cdc.write") & in_cycle
    # stream-thread spans have no parent; they count if they ran inside a measured batch
    batch_windows = [s for s in tracer.spans if s.name == "cdc.batch" and s.id in in_cycle]

    def in_batch(s) -> bool:
        return any(w.start <= s.start <= w.end for w in batch_windows)

    refresh = [s for s in tracer.spans if s.name == "streaming.cdc.refresh_reconstructed" and in_batch(s)]
    cycle_jobs = [j for j in jobs.values() if j.span in in_cycle]
    write_jobs = [j for j in cycle_jobs if j.span in writes]
    read_spans = [s for s in tracer.spans if s.name == "read" and s.id in in_cycle]
    read_jobs = [j for j in cycle_jobs if tracer.spans[j.span].name == "read"]
    wj = tracing.totals(write_jobs)
    layers = {
        "catalyst.analysis_ms": sum(s.attrs["phases"]["analysis"] for s in read_spans) / n,
        "catalyst.optimizer_ms": sum(s.attrs["phases"]["optimization"] for s in read_spans) / n,
        "catalyst.planning_ms": sum(s.attrs["phases"]["planning"] for s in read_spans) / n,
        "exec.wall_s": (sum(client.write_s) + sum(t for _, t in client.reads)) / n,
        "storage.cached_mb_after_pass": storage["cached_mb"],
        "storage.local_dir_mb_after_pass": storage["local_dir_mb"],
        "streaming.cdc.batch_s": statistics.median(s.dur for s in batch_windows),
        "streaming.cdc.refresh_reconstructed_s": sum(s.dur for s in refresh) / len(batch_windows),
        "streaming.cdc.jobs_per_batch": wj["jobs"] / len(batch_windows),
        "streaming.cdc.tasks_per_batch": wj["tasks"] / len(batch_windows),
        "streaming.cdc.bytes_written_per_doc_byte": wj["output_mb"] * 2**20 / client.doc_bytes_written,
        "operators.search.jobs_per_read": len(read_jobs) / len(read_spans),
        "jvm_peak_rss_mb": ctx.peaks["jvm_peak_rss_mb"],
    } | tracing.exec_layers(cycle_jobs, n)
    by_layer: dict[str, list[float]] = {}
    for kind, s in client.reads:
        by_layer.setdefault(LAYER_OF_READ[kind], []).append(s * 1e3)
    layers |= {k: statistics.median(v) for k, v in by_layer.items()}
    return layers
