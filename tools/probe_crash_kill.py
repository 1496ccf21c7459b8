"""Crash-kill certification of the statelog twins (VERDICT r10 item 5;
r11 item 5 extends it to the retention-log and survival twins): kill -9
the whole driver process group mid-batch and — deterministically —
inside the TORN-COMPACTION window (base committed, delta reset never
ran) on each statelog twin at sf1, restart from the same checkpoint +
state, drain, and assert exact equality with the batch operator. The
unit tests pin these invariants on synthetic fixtures; this probe
executes the real kill on the real pipelines end-to-end.

Ops: funnel, dedup (the dedup index — re-certified in r12 on the
bk64 + sorted-compaction layout), retention (the log-structured
retention twin), survival (the KM frontier log). r13 (VERDICT r12
item 5) adds the three non-statelog streams:

  cms      additive d×w sketch behind the batch-id exactly-once guard —
           its torn placement lands inside statelog.commit, after the
           new version is written and before the symlink swap;
  hll      max-merge registers (idempotent, NO guard) — same torn
           placement; recovery must converge through pure re-merge;
  anomaly  applyInPandasWithState z-scores writing a parquet file sink.
           NO statelog machinery exists here — state versioning, WAL
           offset replay and the sink's _spark_metadata manifest are
           all Spark's own. Its 'torn' placement therefore kills right
           AFTER a QueryProgressEvent (a completed engine commit), so
           the replay resumes from an engine-committed boundary with an
           in-flight batch killed mid-commit-cycle: what the engine
           guarantees (state store loads the last committed version;
           the manifest ignores the dead attempt's orphan part files;
           the WAL replays the batch) is exactly what statelog had to
           BUILD for foreachBatch side effects (the versioned commit +
           batch-id guard / idempotent merges), because foreachBatch
           writes are outside the engine's transaction.

Roles (subprocesses of this same file, each with its own Spark session,
launched in their own process group so SIGKILL takes the JVM down too):

  prep   <op> <work> <sf_dir>     write the source chunks once
  run    <op> <work> <sf_dir> [--torn]   start/resume the stream; with
         --torn, statelog.commit is wrapped so a compaction prints
         TORN_WINDOW_OPEN and sleeps between the base commit and the
         delta reset — the parent kills inside that exact window
  verify <op> <work> <sf_dir>     digest streaming result vs batch op

Parent: for each (op, kill-mode) scenario — prep, run+kill,
run-to-drain, verify. Kill modes: 'mid' (a fixed delay after
STREAM_STARTED, landing mid-batch) and 'torn' (on the marker).

Usage: python tools/probe_crash_kill.py [sf_dir] [mid_delay_funnel]
       [mid_delay_dedup] [--ops=funnel,dedup,retention,survival]
       (NOTE: only the --ops=a,b form is parsed — a space-separated
       value would be taken as a positional arg; retention/survival
       mid-delay defaults to 12 s — their sf1 batches drain faster
       than the funnel's)
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

FUNNEL_FANIN = 3
DEDUP_FANIN = 3
N_CHUNKS = 8
#: which statelog.commit call the cms/hll torn wrap opens its window on —
#: the 3rd (these streams commit once per batch), so real prior state
#: exists behind the torn commit
TORN_COMMIT_CALL = 3
ALL_OPS = ("funnel", "dedup", "retention", "survival", "cms", "hll", "anomaly")


def _spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def role_prep(op: str, work: str, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from adv_big_data_indexing_spark.sources.catalog import load_table

    spark = _spark()
    src = f"{work}/src"
    if os.path.isdir(src):
        print("SRC_EXISTS", flush=True)
        return
    table = "documents" if op == "dedup" else "events"
    df = load_table(spark, sf_dir, table)
    if op == "dedup":
        df = df.select("doc_id", "text")
    if op == "anomaly":
        # the anomaly twin equals the batch operator only on in-EVENT-
        # TIME-order delivery (the ring buffer folds in arrival order),
        # so chunk by ts RANGE — chunks partition the time axis and
        # maxFilesPerTrigger=1 delivers them oldest-first
        from adv_big_data_indexing_spark.functions.exact import epoch_us

        lo, hi = df.agg(
            F.min(epoch_us(F.col("ts"))), F.max(epoch_us(F.col("ts")))
        ).collect()[0]
        span = hi - lo + 1
        chunk = ((epoch_us(F.col("ts")) - F.lit(lo)) * N_CHUNKS / F.lit(span)).cast(
            "int"
        )
        df = df.withColumn("_ck", chunk)
        for k in range(N_CHUNKS):
            df.filter(F.col("_ck") == k).drop("_ck").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            time.sleep(1.1)
        print(f"PREP_DONE rows={df.count()}", flush=True)
        return
    key = "doc_id" if op == "dedup" else "event_id"
    for k in range(N_CHUNKS):
        df.filter(F.col(key) % N_CHUNKS == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)
    print(f"PREP_DONE rows={df.count()}", flush=True)


def _torn_wrap():
    """Wrap statelog.commit so a compaction halts, announced, after its
    base commit and before its delta reset."""
    from adv_big_data_indexing_spark.streaming import statelog

    commit = statelog.commit

    def torn_commit(df, path, partition_by=None):
        commit(df, path, partition_by)
        if os.path.basename(path) == "base":  # statelog.compact's commit
            print("TORN_WINDOW_OPEN", flush=True)
            time.sleep(15)  # the parent SIGKILLs us inside this window

    statelog.commit = torn_commit


def _torn_wrap_commit():
    """Wrap statelog.commit (the cms/hll per-batch state commit) so the
    TORN_COMMIT_CALL-th commit halts after its new version is written
    and before the symlink swap. A SIGKILL inside this window leaves the
    previous state linked and the new version beside it, unlinked; the
    replayed batch then hits the cms batch-id guard (skip) / the hll
    max-merge (idempotent re-apply)."""
    from adv_big_data_indexing_spark.streaming import statelog

    commit, symlink, calls = statelog.commit, os.symlink, [0]

    def halt_then_link(*args, **kwargs):
        print("TORN_WINDOW_OPEN", flush=True)
        time.sleep(15)  # the parent SIGKILLs us inside this window
        symlink(*args, **kwargs)

    def torn_commit(df, path, partition_by=None):
        calls[0] += 1
        # the swap's link is made right after the version write returns
        os.symlink = halt_then_link if calls[0] == TORN_COMMIT_CALL else symlink
        commit(df, path, partition_by)

    statelog.commit = torn_commit


def _progress_listener(spark):
    """Print a marker per completed engine commit (the anomaly stream's
    'torn' placement): QueryProgressEvent fires after Spark commits the
    batch — offset WAL, state-store version, sink manifest — so a kill
    on the SECOND marker lands at an engine-committed boundary with the
    next batch in flight."""
    from pyspark.sql.streaming import StreamingQueryListener

    class L(StreamingQueryListener):
        def __init__(self):
            self.n = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.numInputRows > 0:
                self.n += 1
                print(f"BATCH_COMMITTED {self.n}", flush=True)
                if self.n == 2:
                    print("TORN_WINDOW_OPEN", flush=True)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(L())


def role_run(op: str, work: str, sf_dir: str, torn: bool) -> None:
    from adv_big_data_indexing_spark.sources.catalog import load_table

    spark = _spark()
    if torn:
        if op in ("cms", "hll"):
            _torn_wrap_commit()
        elif op == "anomaly":
            _progress_listener(spark)
        else:
            _torn_wrap()
    src, state, ck = f"{work}/src", f"{work}/state", f"{work}/ck"
    if op == "dedup":
        from adv_big_data_indexing_spark.streaming import corpus as sc

        schema = (
            load_table(spark, sf_dir, "documents").select("doc_id", "text").schema
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sc.run_streaming_dedup_index(
            stream, state, ck, compact_fanin=DEDUP_FANIN
        )
    else:
        from adv_big_data_indexing_spark.streaming import events as ev

        schema = load_table(spark, sf_dir, "events").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        if op == "funnel":
            q = ev.run_streaming_funnel(
                stream, state, ck, delay_sec=10**9, compact_fanin=FUNNEL_FANIN
            )
        elif op == "retention":
            q = ev.run_streaming_retention_log(
                stream, state, ck, compact_fanin=FUNNEL_FANIN
            )
        elif op == "survival":
            q = ev.run_streaming_survival(
                stream, state, ck, compact_fanin=FUNNEL_FANIN
            )
        elif op == "cms":
            q = ev.run_streaming_cms(stream, state, ck)
        elif op == "hll":
            q = ev.run_streaming_hll(stream, state, ck)
        elif op == "anomaly":
            # parquet file sink: Spark's own exactly-once surface — the
            # _spark_metadata manifest is the commit, orphan part files
            # from a killed attempt are invisible to readers
            q = (
                ev.anomaly_zscores(stream)
                .writeStream.format("parquet")
                .option("path", f"{work}/out")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
        else:
            raise SystemExit(f"unknown op {op}")
    print("STREAM_STARTED", flush=True)
    q.awaitTermination(3600)
    print("DRAINED", flush=True)


def role_verify(op: str, work: str, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    spark = _spark()
    state = f"{work}/state"
    if op == "funnel":
        from adv_big_data_indexing_spark.operators.timeseries import ts_funnel
        from adv_big_data_indexing_spark.streaming import events as ev

        cols = [
            "user_id", "signup_us", "click_us", "purchase_us",
            "reached_click", "reached_purchase",
        ]
        got, exp = ev.streaming_funnel_result(spark, state), ts_funnel(
            spark, sf_dir
        )
    elif op == "retention":
        from adv_big_data_indexing_spark.operators.timeseries import (
            ts_retention_cohort,
        )
        from adv_big_data_indexing_spark.streaming import events as ev

        cols = ["cohort_day", "day_offset", "active_users"]
        got = ev.streaming_retention_log_result(spark, state)
        exp = ts_retention_cohort(spark, sf_dir)
    elif op == "survival":
        from adv_big_data_indexing_spark.operators.timeseries import (
            ts_survival_km,
        )
        from adv_big_data_indexing_spark.streaming import events as ev

        cols = ["day", "n_risk", "n_churn", "log_s_q4"]
        got = ev.streaming_survival_result(spark, state)
        exp = ts_survival_km(spark, sf_dir)
    elif op == "cms":
        from adv_big_data_indexing_spark.operators.sketches import _cms_bucket
        from adv_big_data_indexing_spark.sources.catalog import load_table

        cols = ["ri", "b", "cnt"]
        got = spark.read.parquet(state).select("ri", "b", "cnt")
        exp = (
            load_table(spark, sf_dir, "events")
            .select(
                F.posexplode(
                    F.array(*[_cms_bucket(F.col("event_type"), i) for i in range(4)])
                ).alias("ri", "b")
            )
            .groupBy("ri", "b")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )
    elif op == "hll":
        from adv_big_data_indexing_spark.operators.udfs import (
            _HLL_ESTIMATE,
            _SPARK_BUCKET,
            _SPARK_HEX,
            HLL_M,
        )
        from adv_big_data_indexing_spark.sources.catalog import load_table
        from adv_big_data_indexing_spark.streaming import events as ev

        cols = ["event_type", F.format_number("approx_nd", 17)]
        got = ev.streaming_hll_result(spark, state)
        exp = (
            load_table(spark, sf_dir, "events")
            .selectExpr("event_type AS g", "md5(CAST(user_id AS STRING)) AS h")
            .selectExpr("g", f"({_SPARK_BUCKET}) AS bucket", f"({_SPARK_HEX}) AS hv")
            .selectExpr(
                "g",
                "bucket",
                "CASE WHEN hv = 0 THEN 53"
                " ELSE 53 - length(trim(LEADING '0' FROM bin(hv))) END AS rho",
            )
            .groupBy("g", "bucket")
            .agg(F.max("rho").alias("mj"))
            .groupBy("g")
            .agg(
                F.sum(
                    F.expr(
                        "CASE WHEN mj <= 50 THEN"
                        " shiftleft(CAST(1 AS BIGINT), 50 - mj) ELSE 0 END"
                    )
                ).alias("s_present"),
                F.count("*").alias("n_buckets"),
            )
            .selectExpr(
                "g AS event_type",
                f"s_present + ({HLL_M} - n_buckets)"
                " * shiftleft(CAST(1 AS BIGINT), 50) AS sum_total",
                f"{HLL_M} - n_buckets AS zeros",
            )
            .selectExpr("event_type", _HLL_ESTIMATE)
        )
    elif op == "anomaly":
        from adv_big_data_indexing_spark.operators.timeseries import (
            ts_anomaly_zscore,
        )

        cols = [
            "user_id", "event_id", "ts", "value", F.format_number("z", 17),
        ]
        # the batch read of the sink path consults _spark_metadata, so
        # a killed attempt's orphan part files are excluded exactly as
        # a downstream consumer would see it
        got = spark.read.parquet(f"{work}/out")
        exp = ts_anomaly_zscore(spark, sf_dir)
    else:
        from adv_big_data_indexing_spark.operators.dedup import (
            ns_dedup_minhash_lsh,
        )
        from adv_big_data_indexing_spark.streaming import corpus as sc

        cols = ["doc_a", "doc_b", "n_inter", F.format_number("jaccard", 17)]
        got = sc.streaming_dedup_pairs(spark, state)
        exp = ns_dedup_minhash_lsh(spark, sf_dir)

    def digest(df):
        row = df.select(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row.n, row.h

    g, e = digest(got), digest(exp)
    print(f"VERIFY rows={g[0]} batch_rows={e[0]} equal={g == e}", flush=True)
    assert g == e, f"{op}: streaming != batch after crash-kill recovery"


def _launch(args):
    return subprocess.Popen(
        [sys.executable, __file__, *args],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,  # killpg reaches the child's JVM too
    )


def _wait_marker(proc, markers, timeout=3600):
    """Read stdout lines until one of markers appears; echo lines."""
    t0 = time.time()
    for line in proc.stdout:
        line = line.rstrip()
        if line:
            print(f"    | {line}", flush=True)
        for m in markers:
            if m in line:
                return m
        if time.time() - t0 > timeout:
            break
    return None


def _killpg(proc):
    try:
        os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def parent(sf_dir: str, mid_delay: dict, ops: tuple[str, ...]) -> None:
    import tempfile

    scenarios = [(op, mode) for op in ops for mode in ("mid", "torn")]
    for op, mode in scenarios:
        work = tempfile.mkdtemp(prefix=f"crashkill_{op}_{mode}_")
        print(f"== {op} / kill-{mode} ==  work={work}", flush=True)
        p = _launch(["prep", op, work, sf_dir])
        assert _wait_marker(p, ["PREP_DONE", "SRC_EXISTS"]) is not None
        p.wait()

        args = ["run", op, work, sf_dir] + (["--torn"] if mode == "torn" else [])
        p = _launch(args)
        if mode == "torn":
            m = _wait_marker(p, ["TORN_WINDOW_OPEN", "DRAINED"])
            assert m == "TORN_WINDOW_OPEN", f"no compaction happened ({m})"
            time.sleep(2)  # firmly inside the window
        else:
            assert _wait_marker(p, ["STREAM_STARTED"]) is not None
            time.sleep(mid_delay[op])
        _killpg(p)
        print(f"  killed -9 ({mode})", flush=True)

        p = _launch(["run", op, work, sf_dir])  # resume, no kill
        m = _wait_marker(p, ["DRAINED"])
        assert m == "DRAINED", "restart did not drain"
        p.wait()

        p = _launch(["verify", op, work, sf_dir])
        m = _wait_marker(p, ["VERIFY"])
        p.wait()
        assert p.returncode == 0, f"{op}/{mode}: verification failed"
        print(f"  {op}/{mode}: recovered exactly (streaming == batch)", flush=True)
        shutil.rmtree(work, ignore_errors=True)
    print("ALL CRASH-KILL SCENARIOS: exact recovery", flush=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] in ("prep", "run", "verify"):
        role, op, work, sf = sys.argv[1:5]
        if role == "prep":
            role_prep(op, work, sf)
        elif role == "run":
            role_run(op, work, sf, torn="--torn" in sys.argv)
        else:
            role_verify(op, work, sf)
    else:
        if "--ops" in sys.argv:
            raise SystemExit("use --ops=a,b (space-separated value not parsed)")
        args = [a for a in sys.argv[1:] if not a.startswith("--ops=")]
        ops = ALL_OPS
        for a in sys.argv[1:]:
            if a.startswith("--ops="):
                ops = tuple(a.split("=", 1)[1].split(","))
        unknown = set(ops) - set(ALL_OPS)
        if unknown:
            raise SystemExit(f"unknown ops {sorted(unknown)}; choose from {ALL_OPS}")
        sf_dir = args[0] if len(args) > 0 else "/tmp/sf1"
        d_funnel = int(args[1]) if len(args) > 1 else 25
        d_dedup = int(args[2]) if len(args) > 2 else 25
        delays = {
            "funnel": d_funnel,
            "dedup": d_dedup,
            "retention": 12,
            "survival": 12,
            # per-batch state swaps / engine-managed state: batches
            # drain fast — land the mid kill inside an early batch
            "cms": 8,
            "hll": 8,
            "anomaly": 10,
        }
        parent(sf_dir, delays, ops)
