"""EXT streaming analytics on the events stream (SURVEY §2.H extension).

The reference's streaming story is only the CDC queue; the engine adds
real event-time processing — tumbling windows with watermarked
late-data handling, session windows, and streaming dedup — all native
Structured Streaming operators (no custom state unless semantics demand
it). Batch-mode twins live in operators/timeseries.py and are what the
DuckDB oracle checks; these builders are exercised by
tests/test_streaming.py with a file source.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.functions.exact import dec
from adv_big_data_indexing_spark.lifetime import hold, start_fold
from adv_big_data_indexing_spark.operators.timeseries import (
    HW_PERIOD,
    RETENTION_MAX_OFFSET,
    _funnel_stages,
    churn_frontier,
    cusum_fold,
    funnel_table,
    holt_fold,
    holt_winters_fold,
    km_curve,
    retention_state,
    retention_table,
    transition_probabilities,
)
from adv_big_data_indexing_spark.operators.udfs import hll_estimate, hll_registers
from adv_big_data_indexing_spark.streaming import statelog


def _concat_batches(pdf_iter, **empty_dtypes):
    """Total concat over ``applyInPandasWithState``'s per-key batch
    iterator: ``pd.concat([])`` raises, so a yield-nothing delivery
    (latent — Spark normally delivers data per key) gets an empty
    TYPED frame carrying exactly the columns the fold touches."""
    import pandas as pd  # noqa: PLC0415

    chunks = list(pdf_iter)
    if chunks:
        return pd.concat(chunks, ignore_index=True)
    return pd.DataFrame(
        {c: pd.Series([], dtype=t) for c, t in empty_dtypes.items()}
    )


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """10-min tumbling window counts/sums; late rows beyond the watermark
    are dropped (the append-mode contract)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "600 seconds").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum(dec("value")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (gap-close semantics identical to the batch
    lag/cumsum formulation in operators/timeseries.py)."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exactly-once-per-id projection: dropDuplicates on
    event_id within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


# --- custom stateful operator ----------------------------------------------

USER_STATS_OUTPUT = (
    "user_id long, n_events long, total_value double, last_event_us long"
)
USER_STATS_STATE = "n long, total double, last_us long"


def user_running_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count / value sum / last-seen timestamp, one update
    row emitted per user per micro-batch.

    This is the engine's escape hatch for semantics the built-in
    windowed aggregations can't express (the SURVEY §2.I policy:
    native first, Arrow-batched state second, never row-at-a-time).
    State is a 3-field tuple per user — constant size, no growth.
    """
    import pandas as pd  # noqa: PLC0415

    def update(key, pdf_iter, state):
        (user_id,) = key
        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
            last_us = max(last_us, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, total, last_us))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total],
                "last_event_us": [last_us],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_STATS_OUTPUT,
        stateStructType=USER_STATS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ANOMALY_OUTPUT = "user_id long, event_id long, ts timestamp, value double, z double"
ANOMALY_STATE = "buf array<bigint>"


def anomaly_zscores(events: DataFrame) -> DataFrame:
    """Streaming twin of ``ts_anomaly_zscore`` (operators/timeseries.py):
    per-user trailing-window z-score via ``applyInPandasWithState``.

    State is the ring buffer of the user's last 20 quantized values —
    exactly the (n, sum, sumsq)-sufficient window the batch operator
    reads through its ROWS frame, so when events arrive in event-time
    order the streaming output equals the batch output bit-for-bit
    (same quantized integers, same fixed-order double ops). Constant
    ~20 longs of state per user, no growth with stream length.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from adv_big_data_indexing_spark.operators.timeseries import (  # noqa: PLC0415
        ANOM_MIN_N,
        ANOM_Q,
        ANOM_WINDOW,
        ANOM_Z,
    )

    def update(key, pdf_iter, state):
        (user_id,) = key
        buf = list(state.get[0]) if state.exists else []
        out = {k: [] for k in ("user_id", "event_id", "ts", "value", "z")}
        pdf = _concat_batches(
            pdf_iter, ts="datetime64[ns]", event_id="int64", value="float64"
        )
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # vectorized sliding-window fold: the carry
        # is the trailing ANOM_WINDOW quantized values and NOTHING the
        # output feeds back into (buf appends unconditionally), so each
        # row's (n, sum, sumsq) window is a prefix-sum difference over
        # state-buf ++ batch. The int64 prefix sums may wrap on a huge
        # batch, but the DIFFERENCE is exact mod 2^64 and the true
        # window sum fits (≤ ANOM_WINDOW terms — the identical bound the
        # per-row fold relied on), so wrapped-prefix differences are
        # bit-exact. The float64 ops run in the batch twin's fixed
        # order: s/n, ss/n - mean², (qx - mean)/sqrt(var).
        if len(pdf):
            # HALF_UP like Spark's F.round (Python round() is banker's):
            # sign-aware so negative values round half-away-from-zero
            # and stay bit-identical to the batch twin ts_anomaly_zscore
            vals = pdf["value"].to_numpy(dtype="float64")
            sv = vals * ANOM_Q
            qx = np.copysign(np.floor(np.abs(sv) + 0.5), sv).astype(np.int64)
            k = len(buf)
            seq = np.concatenate([np.asarray(buf, dtype=np.int64), qx])
            c1 = np.concatenate(([0], np.cumsum(seq)))
            c2 = np.concatenate(([0], np.cumsum(seq * seq)))
            idx = np.arange(k, k + len(qx))
            n = np.minimum(idx, ANOM_WINDOW)  # trailing-window size
            s = c1[idx] - c1[idx - n]
            ss = c2[idx] - c2[idx - n]
            nf = n.astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                mean = s.astype(np.float64) / nf
                var = ss.astype(np.float64) / nf - mean * mean
            ok = (n >= ANOM_MIN_N) & (var > 0)
            z = np.zeros(len(qx), dtype=np.float64)
            z[ok] = (qx[ok].astype(np.float64) - mean[ok]) / np.sqrt(var[ok])
            hit = ok & (np.abs(z) > ANOM_Z)
            if hit.any():
                out["user_id"] = [user_id] * int(hit.sum())
                out["event_id"] = [int(e) for e in pdf["event_id"].to_numpy()[hit]]
                out["ts"] = list(pdf["ts"][hit])
                out["value"] = [float(x) for x in vals[hit]]
                out["z"] = [float(x) for x in z[hit]]
            buf = [int(x) for x in seq[-ANOM_WINDOW:]]
        state.update(([int(x) for x in buf],))
        yield pd.DataFrame(out)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=ANOMALY_OUTPUT,
        stateStructType=ANOMALY_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_OUTPUT = "user_id long, event_id long, ts timestamp, value double, s_q long"
CUSUM_STATE = "s_carry bigint"


def cusum_alarms(events: DataFrame, mu_q: int) -> DataFrame:
    """Streaming twin of ``ts_cusum_alarm`` (operators/timeseries.py) for a
    FIXED target mean ``mu_q`` (milli-units): the batch operator
    self-calibrates mu from the whole series, which a stream cannot see,
    so the streaming form monitors drift against a configured target —
    the standard deployment of CUSUM monitors. State is ONE bigint per
    user (the carried cusum), alarm resets it. Each micro-batch runs the
    batch query's own kernel, ``cusum_fold``, from the carried sum, so on
    in-order events the output equals the batch recurrence with the same
    mu bit-for-bit.
    """
    import pandas as pd  # noqa: PLC0415

    def update(key, pdf_iter, state):
        import numpy as np  # noqa: PLC0415

        (user_id,) = key
        s_carry = int(state.get[0]) if state.exists else 0
        out = {c: [] for c in ("user_id", "event_id", "ts", "value", "s_q")}
        pdf = _concat_batches(
            pdf_iter, ts="datetime64[ns]", event_id="int64", value="float64"
        )
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        if len(pdf):
            vals = pdf["value"].to_numpy(dtype="float64")
            idx, out["s_q"], s_carry = cusum_fold(
                np.floor(vals * 1000.0).astype(np.int64), mu_q, s_carry
            )
            out["user_id"] = [user_id] * len(idx)
            out["event_id"] = pdf["event_id"].iloc[idx].tolist()
            out["ts"] = list(pdf["ts"].iloc[idx])
            out["value"] = vals[idx].tolist()
        state.update((s_carry,))
        yield pd.DataFrame(out)

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=CUSUM_OUTPUT,
        stateStructType=CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def error_click_interval_join(
    errors: DataFrame, clicks: DataFrame, window_sec: int = 60
) -> DataFrame:
    """Stream-stream interval join: each error joined to same-user clicks
    from the preceding ``window_sec``. Both sides watermarked so the join
    state is bounded (Spark buffers only rows inside the watermark
    horizon — the contract that keeps state finite at 100 TB/day volumes).
    """
    e = errors.withWatermark("ts", "5 minutes").select(
        F.col("user_id").alias("e_user"), F.col("event_id").alias("e_id"), F.col("ts").alias("e_ts")
    )
    c = clicks.withWatermark("ts", "5 minutes").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    cond = (
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {window_sec} SECONDS"))
        & (F.col("c_ts") < F.col("e_ts"))
    )
    return e.join(c, cond, "inner").select("e_user", "e_id", "e_ts", "c_id", "c_ts")


def index_lag(queue_df: DataFrame, store_df: DataFrame) -> DataFrame:
    """The reference's eventual-consistency observable (README.md:117 —
    Redis authoritative, index lags): max enqueued seq vs max applied seq
    per key; lag 0 everywhere == fully caught up."""
    q = queue_df.groupBy("key").agg(F.max("seq").alias("enqueued_seq"))
    s = store_df.groupBy("key").agg(F.max("seq").alias("applied_seq"))
    return (
        q.join(s, "key", "left")
        .select(
            "key",
            "enqueued_seq",
            F.coalesce(F.col("applied_seq"), F.lit(0)).alias("applied_seq"),
            (F.col("enqueued_seq") - F.coalesce(F.col("applied_seq"), F.lit(0))).alias("lag"),
        )
    )


def enrich_events(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment: each arriving event picks up its
    customer's segment/name from the (slowly-changing) dimension table.
    Stream-static joins are stateless in Structured Streaming — the
    static side is re-read per micro-batch and broadcast, so no join
    state accumulates; at 100 TB/day event volume the dimension is the
    only thing that must fit in executor memory."""
    dim = F.broadcast(
        customer.select(
            F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
        )
    )
    return events.join(dim, "user_id", "left")


# --- parquet state-store plumbing -----------------------------------------
#
# A plain-parquet state table, read and committed through statelog
# (zero dependencies); production deployments swap the state helpers for
# a transactional table format — the fold logic on top is format-agnostic.


def _merge_state(prev, delta: DataFrame, keys: tuple[str, ...], value: str, combine) -> DataFrame:
    """``delta`` folded into the state ``prev`` on ``keys``: a key on both
    sides gets ``combine(prev value, delta value)``, a key on one side is
    combined with 0. ``delta`` itself when there is no state yet."""
    if prev is None:
        return delta
    return (
        prev.select(*keys, F.col(value).alias("__prev"))
        .join(delta.select(*keys, F.col(value).alias("__delta")), list(keys), "full_outer")
        .select(
            *keys,
            combine(
                F.coalesce(F.col("__prev"), F.lit(0)),
                F.coalesce(F.col("__delta"), F.lit(0)),
            ).alias(value),
        )
    )


def _applied_batch(prev) -> int:
    """Last applied batch_id, None-safe: an ABSENT or EMPTY state table
    (e.g. the first micro-batch carried zero rows) means nothing was
    applied — return -1, never compare against a None aggregate (a
    TypeError there would wedge the stream on replay)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    if prev is None:
        return -1
    v = prev.agg(F.max("batch_id")).collect()[0][0]
    return -1 if v is None else int(v)


def run_streaming_cms(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    d: int = 4,
    w: int = 32,
) -> "StreamingQuery":
    """Streaming count-min sketch maintenance: each micro-batch folds its
    token... event_type occurrences into the d×w counter matrix with an
    ADDITIVE merge into a parquet state table.

    Additive merges are NOT naturally idempotent (a replayed batch would
    double-count), so the state table carries the last applied batch_id
    and `foreachBatch` skips batches it has already applied — the
    standard exactly-once recipe for non-idempotent sinks (the max-seq
    MERGE in cdc.py is the idempotent-sink alternative). The sketch
    state is a constant d×w longs however long the stream runs, and the
    per-batch update is one map-side-combined aggregate of the batch —
    this is how a 100 TB/day pipeline keeps live frequency estimates
    without ever re-scanning history.
    """
    from pyspark.sql import functions as F

    from adv_big_data_indexing_spark.operators.sketches import _cms_bucket

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prev = statelog.read(spark, state_dir)
        if batch_id <= _applied_batch(prev):
            return  # replay of an already-applied batch: skip (exactly-once)
        delta = (
            batch.select(
                F.posexplode(
                    F.array(*[_cms_bucket(F.col("event_type"), i) for i in range(d)])
                ).alias("ri", "b")
            )
            .groupBy("ri", "b")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )
        merged = _merge_state(prev, delta, ("ri", "b"), "cnt", operator.add)
        statelog.commit(merged.withColumn("batch_id", F.lit(batch_id)).coalesce(1), state_dir)

    return start_fold(events, fold, checkpoint_dir)


HOLT_OUTPUT = "user_id long, n_obs long, level_m long, trend_m long, forecast_m long"
HOLT_STATE = "l bigint, b bigint, n bigint"


def holt_forecasts(events: DataFrame) -> DataFrame:
    """Streaming twin of ``ts_holt_forecast`` (operators/timeseries.py):
    per-user Holt level/trend smoothing with THREE bigints of state
    (level, trend, count). Each micro-batch folds its in-order rows into
    the recurrence and emits the user's refreshed one-step-ahead
    forecast — the live capacity-planning feed. On in-order input the
    emitted (level, trend, forecast) after the last batch equals the
    batch operator's output bit-for-bit: each micro-batch resumes the
    batch query's own kernel, ``holt_fold``, from the carried state.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def update(key, pdf_iter, state):
        (user_id,) = key
        l, b, n = (int(v) for v in state.get) if state.exists else (0, 0, 0)
        pdf = _concat_batches(
            pdf_iter, ts="datetime64[ns]", event_id="int64", value="float64"
        )
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        xs = np.floor(pdf["value"].to_numpy(dtype="float64") * 1000.0).astype(np.int64)
        l, b, n = holt_fold(xs.tolist(), l, b, n)
        state.update((l, b, n))
        if len(pdf):
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_obs": [n],
                    "level_m": [l],
                    "trend_m": [b],
                    "forecast_m": [l + b],
                }
            )
        else:
            yield pd.DataFrame({c: [] for c in ("user_id", "n_obs", "level_m", "trend_m", "forecast_m")})

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=HOLT_OUTPUT,
        stateStructType=HOLT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ohlc_bars(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of ``ts_ohlc_bars`` (operators/timeseries.py): the
    same one-aggregation candlestick rollup as a watermarked windowed
    agg — min_by/max_by on the composite (ts, event_id) key work
    unchanged under Structured Streaming's partial-merge model (their
    state is one candidate row per bar side), so the live feed carries
    exactly the batch semantics; append mode emits each bar once its
    watermark passes.
    """
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.withColumn("x", F.expr("CAST(floor(value * 1000) AS BIGINT)"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "600 seconds").alias("w"), "event_type")
        .agg(
            F.min_by("x", key).alias("open_m"),
            F.max("x").alias("high_m"),
            F.min("x").alias("low_m"),
            F.max_by("x", key).alias("close_m"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("bar_start"),
            "event_type",
            "open_m",
            "high_m",
            "low_m",
            "close_m",
            "n_events",
        )
    )


HW_OUTPUT = (
    "event_type string, n_obs long, level_m long, trend_m long, next_forecast_m long"
)
HW_STATE = "l bigint, b bigint, n bigint, last_h bigint, s array<bigint>"


def holt_winters_monitor(hourly: DataFrame) -> DataFrame:
    """Streaming twin of ``ts_holt_winters`` (operators/timeseries.py):
    per-event-type Holt-Winters additive seasonal smoothing over a
    stream of HOURLY rollup rows ``(event_type, h, x)`` (in production
    the upstream windowed pre-aggregate), with 28 bigints of state —
    4 scalars (level, trend, observation count, last hour) plus the
    24-slot seasonal vector. Each micro-batch resumes the batch query's
    own kernel, ``holt_winters_fold``, over its in-order buckets and
    emits the refreshed one-step-ahead forecast for the NEXT hour slot;
    after the last batch the state equals the batch operator's final
    state bit-for-bit on in-order input.
    """
    import pandas as pd  # noqa: PLC0415

    def update(key, pdf_iter, state):
        (event_type,) = key
        if state.exists:
            row = state.get
            l, b, n, last_h = (int(v) for v in row[:4])
            s = [int(v) for v in row[4]]
        else:
            l, b, n, last_h, s = 0, 0, 0, -1, None
        pdf = _concat_batches(pdf_iter, h="int64", x="int64")
        pdf = pdf.sort_values("h").reset_index(drop=True)
        hs = pdf["h"].tolist()
        l, b, n, s, _ = holt_winters_fold(hs, pdf["x"].tolist(), l, b, n, s)
        last_h = hs[-1] if hs else last_h
        state.update((l, b, n, last_h, s))
        if len(pdf):
            nxt = (last_h + 1) % HW_PERIOD
            yield pd.DataFrame(
                {
                    "event_type": [event_type],
                    "n_obs": [n],
                    "level_m": [l],
                    "trend_m": [b],
                    "next_forecast_m": [l + b + s[nxt]],
                }
            )
        else:
            yield pd.DataFrame(
                {c: [] for c in ("event_type", "n_obs", "level_m", "trend_m", "next_forecast_m")}
            )

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    return hourly.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=HW_OUTPUT,
        stateStructType=HW_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

# ---------------------------------------------------------------------------
# windowed LTTB monitor (dashboard-preview decimation of closed windows)
# ---------------------------------------------------------------------------

LTTB_WIN_OUTPUT = (
    "user_id long, window_start timestamp, bucket int, ts timestamp,"
    " event_id long, value double"
)
LTTB_WIN_STATE = (
    "eids array<bigint>, xus array<bigint>, ys array<bigint>, vals array<double>"
)


def lttb_window_monitor(
    events: DataFrame, window_hours: int = 1, delay: str = "10 minutes"
) -> DataFrame:
    """Streaming twin of ``ts_downsample_lttb`` (operators/timeseries.py)
    for the dashboard path: per (user, event-time window), points buffer
    in state (four parallel arrays) until the WATERMARK closes the
    window (EventTimeTimeout), then the window's series is decimated by
    the IDENTICAL module-level ``lttb_kernel`` the batch operator uses —
    streaming output equals batch LTTB applied per closed window by
    construction (same int64 areas, same earliest-point tie-break).

    A true unbounded-stream LTTB cannot exist (bucket boundaries depend
    on the total point count), so the deployable form is exactly this:
    decimate each closed window once, exactly-once per window. State is
    O(points-in-window) per key and is removed on emission.
    """
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    w_us = window_hours * 3_600_000_000

    keyed = events.withWatermark("ts", delay).withColumn(
        "win_us", F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {w_us} * {w_us}")
    )

    def update(key, pdf_iter, state):
        from adv_big_data_indexing_spark.operators.timeseries import (  # noqa: PLC0415
            lttb_kernel,
        )

        import numpy as np  # noqa: PLC0415

        user_id, win_us = key
        if state.hasTimedOut:
            eids, xus, ys, vals = state.get
            pdf = pd.DataFrame(
                {
                    "user_id": [int(user_id)] * len(eids),
                    "event_id": [int(e) for e in eids],
                    "ts": pd.to_datetime([int(x) for x in xus], unit="us"),
                    "value": [float(v) for v in vals],
                    "x": [int(x) // 1_000_000 for x in xus],
                    "y": [int(y) for y in ys],
                }
            )
            out = lttb_kernel(pdf)
            out.insert(1, "window_start", pd.to_datetime(int(win_us), unit="us"))
            state.remove()
            yield out[
                ["user_id", "window_start", "bucket", "ts", "event_id", "value"]
            ]
            return
        eids, xus, ys, vals = (
            (list(c) for c in state.get) if state.exists else ([], [], [], [])
        )
        # pure columnwise append — no carry, so fully vectorized
        # (per-row A/B in docs/EXPANSION_SITES.md)
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            v = pdf["value"].to_numpy(dtype="float64")
            eids.extend(
                int(e) for e in pdf["event_id"].to_numpy(dtype="int64")
            )
            xus.extend(
                int(x)
                for x in pdf["ts"].to_numpy(dtype="datetime64[ns]").view("int64")
                // 1000
            )
            ys.extend(int(y) for y in np.floor(v * 1000.0).astype("int64"))
            vals.extend(float(x) for x in v)
        state.update(
            ([int(e) for e in eids], [int(x) for x in xus], [int(y) for y in ys],
             [float(v) for v in vals])
        )
        # fire when the watermark passes the window end
        state.setTimeoutTimestamp((int(win_us) + w_us) // 1000)
        yield pd.DataFrame(
            {c: [] for c in ("user_id", "window_start", "bucket", "ts", "event_id", "value")}
        )

    return keyed.groupBy("user_id", "win_us").applyInPandasWithState(
        update,
        outputStructType=LTTB_WIN_OUTPUT,
        stateStructType=LTTB_WIN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# streaming gap-fill + LOCF (hypertable resample, incremental form)
# ---------------------------------------------------------------------------

LOCF_OUTPUT = "user_id long, bucket_start timestamp, filled_m long, is_gap boolean"
LOCF_STATE = (
    "pend_bucket bigint, pend_x bigint, pend_ts_us bigint, pend_eid bigint,"
    " n_late bigint, first_bucket bigint"
)


def locf_monitor(events: DataFrame) -> DataFrame:
    """Streaming twin of ``ts_gapfill_locf`` (operators/timeseries.py):
    per user, each hourly bucket's LAST observation (by (ts, event_id))
    is emitted once the next observed bucket proves it complete, with
    every empty bucket in between emitted as a carried-forward gap row —
    TimescaleDB's time_bucket_gapfill/locf as an incremental recurrence.

    Out-of-order hardened: a row whose bucket is BEHIND the
    pending bucket but at-or-after the user's FIRST chain bucket arrives
    only via a late micro-batch — its bucket's row (observed or gap) is
    already in the append sink, so re-emitting would write a second,
    contradictory row for the same bucket_start. Such rows are DROPPED
    and counted in state (``n_late``, the monitor's lateness observable
    — the same drop-and-count contract as Spark's own watermark on
    append sinks). A late row EARLIER than the first chain bucket
    has nothing in the sink to contradict — those buckets
    were never emitted — so it is EMITTED: the batch's prefix events
    (last-wins per bucket) flush at end-of-batch as observed rows plus
    carried-forward gaps up to the old first bucket, exactly the rows
    the batch operator produces for that range, and the chain start
    moves back. Within the pending bucket, "last observation wins" is
    enforced by (ts, event_id) comparison against state, so a late row
    of the CURRENT bucket can never roll the carried value back either.
    In-order input is unaffected: the emitted rows equal the batch
    operator's output restricted to buckets strictly before each user's
    last observed bucket (the final bucket stays pending — a stream
    cannot know it is over).

    State is six bigints per user: pending bucket, its carried value,
    the (ts_us, event_id) of the winning observation, the late-drop
    count, and the first chain bucket. State-schema v3 (v2 lacked
    first_bucket, v1 was two bigints): a query restarted from an older
    checkpoint fails Spark's state-store schema check — start with a
    fresh checkpoint directory after upgrading (the pending bucket
    re-derives from the next event; only the in-flight bucket's carry
    is lost).
    """
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    def update(key, pdf_iter, state):
        import numpy as np  # noqa: PLC0415

        (user_id,) = key
        if state.exists:
            s = state.get
            pend_b, pend_x, pend_ts, pend_eid, n_late, first_b = (
                int(s[0]), int(s[1]), int(s[2]), int(s[3]), int(s[4]), int(s[5])
            )
        else:
            pend_b = pend_x = pend_ts = pend_eid = first_b = None
            n_late = 0
        out = {c: [] for c in ("user_id", "bucket_start", "filled_m", "is_gap")}

        def emit(bucket, x_m, gap):
            out["user_id"].append(user_id)
            out["bucket_start"].append(pd.Timestamp(bucket * 3600, unit="s"))
            out["filled_m"].append(int(x_m))
            out["is_gap"].append(bool(gap))

        # pre-first-chain late events (bucket < first_b): nothing in the
        # sink to contradict — buffer last-wins per bucket, flush below
        prefix: dict[int, int] = {}
        pdf = _concat_batches(
            pdf_iter, ts="datetime64[ns]", event_id="int64", value="float64"
        )
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # vectorized per-row reduction: buckets are
        # MONOTONE in the (ts, event_id)-sorted batch, so the running
        # prefix/late/chain classification collapses to two searchsorted
        # splits against the carried (first_b, pend_b), last-wins per
        # bucket collapses to the last row of each bucket run, and only
        # the chain advance remains a loop — over DISTINCT buckets, each
        # iteration emitting ≥1 output row (output-sized, the inherent
        # cost; the gap emits ARE the operator's output).
        n_rows = len(pdf)
        if n_rows:
            b_ts = pdf["ts"].to_numpy(dtype="datetime64[ns]").view("int64") // 1000
            b_eid = pdf["event_id"].to_numpy(dtype="int64")
            b_x = np.floor(pdf["value"].to_numpy(dtype="float64") * 1000.0).astype(
                np.int64
            )
            b_bkt = b_ts // 3_600_000_000
            i0 = 0
            if pend_b is not None:
                npref = int(np.searchsorted(b_bkt, first_b, side="left"))
                if npref:
                    pb, px = b_bkt[:npref], b_x[:npref]
                    last = np.ones(npref, dtype=bool)
                    last[:-1] = pb[1:] != pb[:-1]
                    for b_, x_ in zip(pb[last], px[last]):
                        prefix[int(b_)] = int(x_)  # last (ts,eid) per bucket
                i0 = int(np.searchsorted(b_bkt, pend_b, side="left"))
                n_late += max(0, i0 - npref)
            cb, cx = b_bkt[i0:], b_x[i0:]
            cts, ceid = b_ts[i0:], b_eid[i0:]
            if len(cb):
                last = np.ones(len(cb), dtype=bool)
                last[:-1] = cb[1:] != cb[:-1]
                ub, ux = cb[last], cx[last]
                uts, ueid = cts[last], ceid[last]
                j = 0
                if pend_b is None:
                    pend_b, pend_x = int(ub[0]), int(ux[0])
                    pend_ts, pend_eid = int(uts[0]), int(ueid[0])
                    first_b = pend_b
                    j = 1
                elif int(ub[0]) == pend_b:
                    # later observation in the same bucket wins — by event
                    # order, not arrival order (cross-batch late rows lose)
                    if (int(uts[0]), int(ueid[0])) > (pend_ts, pend_eid):
                        pend_x = int(ux[0])
                        pend_ts, pend_eid = int(uts[0]), int(ueid[0])
                    j = 1
                for t in range(j, len(ub)):
                    emit(pend_b, pend_x, False)
                    for g in range(pend_b + 1, int(ub[t])):
                        emit(g, pend_x, True)
                    pend_b, pend_x = int(ub[t]), int(ux[t])
                    pend_ts, pend_eid = int(uts[t]), int(ueid[t])
        if prefix:
            # flush the prefix chain: observed rows + carried gaps up to
            # the (pre-batch) first chain bucket — the exact rows the
            # batch operator emits for [min(prefix), first_b)
            bks = sorted(prefix)
            for i, b in enumerate(bks):
                emit(b, prefix[b], False)
                nxt = bks[i + 1] if i + 1 < len(bks) else first_b
                for g in range(b + 1, nxt):
                    emit(g, prefix[b], True)
            first_b = bks[0]
        if pend_b is not None:
            # a fresh key whose delivery yielded zero rows has no chain
            # to record — skip the update so the fold is total on the
            # empty-iterator edge like every other twin (int(None)
            # would crash here on such a delivery)
            state.update(
                (
                    int(pend_b), int(pend_x), int(pend_ts), int(pend_eid),
                    int(n_late), int(first_b),
                )
            )
        yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=LOCF_OUTPUT,
        stateStructType=LOCF_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming sliding-rate limiter (trailing-window burst detection)
# ---------------------------------------------------------------------------

RATE_OUTPUT = "user_id long, event_id long, ts timestamp, n_trailing long"
RATE_STATE = (
    "secs array<bigint>, eids array<bigint>, ts_us array<bigint>,"
    " max_sec bigint, n_late bigint"
)


def rate_flag_monitor(events: DataFrame, delay_sec: int = 3600) -> DataFrame:
    """Streaming twin of ``ts_sliding_rate_flags`` (operators/
    timeseries.py): per user, each event's trailing-``RATE_WINDOW_SEC``
    event count, flagged past ``RATE_LIMIT`` — the online rate limiter /
    burst detector.

    Event-time semantics under an allowed lateness of ``delay_sec``:

    - An event FINALIZES once the user's max observed event-time second
      advances STRICTLY past ``sec + delay_sec`` — only then is its
      trailing count provably complete (the batch RANGE frame counts
      PEERS at the same second too, and while ``max_sec`` merely equals
      ``sec + delay_sec`` a peer at exactly ``sec`` is still inside
      tolerance, so finalizing then would be premature — mirroring
      Spark's own watermark which keeps rows AT the watermark and drops
      strictly older). Finalized flags equal
      the batch operator's rows restricted to each user's finalized
      horizon, bit-for-bit.
    - A late event INSIDE the horizon (sec ≥ max_sec − delay) slots
      into the buffer and is counted by every pending event it
      precedes — out-of-order within tolerance is handled exactly.
    - A late event BEHIND the horizon is dropped and counted in state
      (``n_late``) — its bucket's flags are already in the append sink
      (the same drop-and-count contract as Spark's own watermark and
      the LOCF monitor).

    State per user is the event buffer of the trailing
    ``delay_sec + RATE_WINDOW_SEC`` seconds (three parallel bigint
    arrays) — bounded by the user's event rate times a constant
    horizon, the buffer any online rate limiter holds; pruned every
    batch.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    from adv_big_data_indexing_spark.operators.timeseries import (  # noqa: PLC0415
        RATE_LIMIT,
        RATE_WINDOW_SEC,
    )

    def update(key, pdf_iter, state):
        (user_id,) = key
        if state.exists:
            s = state.get
            secs, eids, tss = list(s[0]), list(s[1]), list(s[2])
            max_sec, n_late = int(s[3]), int(s[4])
        else:
            secs, eids, tss = [], [], []
            max_sec, n_late = None, 0
        horizon_old = None if max_sec is None else max_sec - delay_sec

        pdf = _concat_batches(pdf_iter, ts="datetime64[ns]", event_id="int64")
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # lateness partition, vectorized with the same numpy mask
        # idiom as the finalize step below (A/B on a 100k-row batch:
        # iterrows 3099 ms -> 0.8 ms, BASELINE.md)
        b_ts = pdf["ts"].to_numpy(dtype="datetime64[ns]").view(np.int64) // 1000
        b_eid = pdf["event_id"].to_numpy(dtype=np.int64)
        b_sec = b_ts // 1_000_000
        if horizon_old is not None:
            live = b_sec >= horizon_old
            n_late += int((~live).sum())  # flags already finalized
            b_ts, b_sec, b_eid = b_ts[live], b_sec[live], b_eid[live]
        if len(b_sec):
            bmax = int(b_sec.max())
            max_sec = bmax if max_sec is None else max(max_sec, bmax)

        out = {c: [] for c in ("user_id", "event_id", "ts", "n_trailing")}
        if max_sec is not None:
            horizon_new = max_sec - delay_sec
            a_sec = np.concatenate([np.asarray(secs, dtype=np.int64), b_sec])
            a_eid = np.concatenate([np.asarray(eids, dtype=np.int64), b_eid])
            a_ts = np.concatenate([np.asarray(tss, dtype=np.int64), b_ts])
            lo = -np.inf if horizon_old is None else horizon_old
            fin = (a_sec >= lo) & (a_sec < horizon_new)
            order = np.lexsort((a_eid[fin], a_ts[fin]))
            f_sec, f_eid, f_ts = a_sec[fin][order], a_eid[fin][order], a_ts[fin][order]
            # trailing counts via two searchsorted sweeps on the sorted
            # second array: Θ((n+m)·log m) total and no Python loop,
            # where a per-event mask would re-scan the WHOLE buffer
            # per finalized event — Θ(n·m)
            srt = np.sort(a_sec)
            n_tr = np.searchsorted(srt, f_sec, side="right") - np.searchsorted(
                srt, f_sec - RATE_WINDOW_SEC, side="right"
            )
            hit = n_tr > RATE_LIMIT
            if hit.any():
                out["user_id"] = [user_id] * int(hit.sum())
                out["event_id"] = [int(e) for e in f_eid[hit]]
                out["ts"] = [pd.Timestamp(int(t) * 1000) for t in f_ts[hit]]
                out["n_trailing"] = [int(x) for x in n_tr[hit]]
            # prune: pending events (sec >= horizon_new) reach back at most
            # RATE_WINDOW_SEC-1 seconds; older rows can never be read again
            keep = a_sec > horizon_new - RATE_WINDOW_SEC
            secs = [int(x) for x in a_sec[keep]]
            eids = [int(x) for x in a_eid[keep]]
            tss = [int(x) for x in a_ts[keep]]

        state.update(
            (secs, eids, tss, -1 if max_sec is None else int(max_sec), int(n_late))
        )
        yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RATE_OUTPUT,
        stateStructType=RATE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming Markov transition-matrix maintenance
# ---------------------------------------------------------------------------

MARKOV_DELTA_OUTPUT = "from_state string, to_state string"
MARKOV_STATE = "last_type string, last_ts_us bigint, last_eid bigint, n_late bigint"


def markov_transition_deltas(events: DataFrame) -> DataFrame:
    """Per-event (from_state, to_state) transition rows with the
    cross-micro-batch carry: each user's LAST event type persists in
    state, so the transition spanning a batch boundary is attributed
    exactly once — the piece a stateless per-batch lead() would lose.

    In-order input reproduces the batch operator's pair stream exactly
    (same (ts, event_id) ordering). A late row behind the user's last
    seen (ts, event_id) would retro-insert into an already-recorded
    transition chain — it is dropped and counted (``n_late``), the
    standard append-sink lateness contract. State is three scalars per
    user."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    def update(key, pdf_iter, state):
        if state.exists:
            s = state.get
            last_type, last_ts, last_eid, n_late = (
                s[0], int(s[1]), int(s[2]), int(s[3])
            )
        else:
            last_type, last_ts, last_eid, n_late = None, -1, -1, 0
        out = {"from_state": [], "to_state": []}
        pdf = _concat_batches(
            pdf_iter, ts="datetime64[ns]", event_id="int64", event_type="object"
        )
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # vectorized chain advance: on the sorted batch the running
        # (last_ts, last_eid) carry reduces to (a) a mask against the
        # carried chain head, plus (b) adjacent-equal in-batch
        # duplicates, which count as late like any row not past the head;
        # the transition pairs are then a plain shift of the live types
        n = len(pdf)
        if n:
            ts_us = pdf["ts"].to_numpy(dtype="datetime64[ns]").view("int64") // 1000
            eid = pdf["event_id"].to_numpy(dtype="int64")
            live = (ts_us > last_ts) | ((ts_us == last_ts) & (eid > last_eid))
            dup = np.zeros(n, dtype=bool)
            dup[1:] = (ts_us[1:] == ts_us[:-1]) & (eid[1:] == eid[:-1])
            live &= ~dup
            n_late += int((~live).sum())
            types = pdf["event_type"].to_numpy(dtype=object)[live]
            if len(types):
                frm = np.concatenate(([last_type], types[:-1]))
                keep = slice(1, None) if last_type is None else slice(None)
                out["from_state"] = list(frm[keep])
                out["to_state"] = list(types[keep])
                last_type = types[-1]
                last_ts = int(ts_us[live][-1])
                last_eid = int(eid[live][-1])
        state.update((last_type, int(last_ts), int(last_eid), int(n_late)))
        yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=MARKOV_DELTA_OUTPUT,
        stateStructType=MARKOV_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_markov(
    events: DataFrame, state_dir: str, checkpoint_dir: str
) -> "StreamingQuery":
    """Streaming twin of ``ts_markov_transitions`` (operators/
    timeseries.py): incremental maintenance of the transition-count
    matrix. The stateful stage (:func:`markov_transition_deltas`)
    carries each user's last state across micro-batches; this stage
    folds the batch's (from, to) counts ADDITIVELY into a parquet state
    table with the exactly-once batch_id guard of ``run_streaming_cms``
    (an additive merge is not idempotent, so replays must skip). State
    is O(|states|²) counters however long the stream runs — live
    transition probabilities without ever re-scanning history."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # Materialize the stateful stage FIRST, unconditionally, at its
        # native partitioning: the state-store commit protocol requires
        # every partition of the applyInPandasWithState operator to
        # execute and commit per micro-batch — both the skip path
        # (returning without an action) and the coalesce(1) of the
        # state commit (which folds the stateful stage into one task)
        # fail Spark's commit validation otherwise. DISK_ONLY blocks:
        # a micro-batch is data-sized at production scale, and a
        # MEMORY_AND_DISK unroll runs in the SAME tasks as the stage
        # producing the frame — the unroll-starves-execution hazard
        # consistent_materialize's storage_level (operators/advanced.py)
        # exists for; blocks stream to disk instead of holding the pool.
        from pyspark import StorageLevel

        batch = batch.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        prev = statelog.read(spark, state_dir)
        if batch_id <= _applied_batch(prev):
            return  # replay of an already-applied batch: skip the fold
        delta = batch.groupBy("from_state", "to_state").agg(
            F.count("*").cast("bigint").alias("n")
        )
        merged = _merge_state(prev, delta, ("from_state", "to_state"), "n", operator.add)
        statelog.commit(merged.withColumn("batch_id", F.lit(batch_id)).coalesce(1), state_dir)

    return start_fold(markov_transition_deltas(events), fold, checkpoint_dir)


def streaming_markov_result(spark, state_dir: str) -> DataFrame:
    """Transition probabilities from the maintained count matrix through
    the batch finisher ``transition_probabilities``
    (operators/timeseries.py), so after a drain the streaming and batch
    tables agree row-for-row. The counts are the last committed table
    (``statelog.commit``): a crashed commit leaves the previous one."""
    counts = statelog.read(spark, state_dir)
    if counts is None:
        counts = spark.createDataFrame([], "from_state string, to_state string, n bigint")
    return transition_probabilities(counts)


# ---------------------------------------------------------------------------
# streaming event funnel (ordered multi-step state under allowed lateness)
# ---------------------------------------------------------------------------

FUNNEL_OUTPUT = (
    "user_id long, signup_us long, click_us long, purchase_us long,"
    " reached_click boolean, reached_purchase boolean"
)
FUNNEL_STATE = (
    "buf_us array<bigint>, buf_eid array<bigint>, buf_type array<string>,"
    " sig_us bigint, clk_us bigint, pur_us bigint, max_us bigint, n_late bigint"
)

#: the funnel's step types, in funnel order; other event types only
#: advance the user's event-time clock
_FUNNEL_STEPS = ("signup", "click", "purchase")


def funnel_monitor(events: DataFrame, delay_sec: int = 3600) -> DataFrame:
    """Streaming twin of ``ts_funnel`` (operators/timeseries.py): per
    user, min signup time, first click strictly after it, first purchase
    strictly after that — the ordered multi-step funnel (out-of-order
    STEP arrival is the genuinely stateful part —
    a late-but-in-tolerance signup can retro-qualify a click already
    buffered, which can retro-qualify a purchase).

    Event-time semantics under an allowed lateness of ``delay_sec``,
    the same contract as :func:`rate_flag_monitor`:

    - An event FINALIZES once the user's max observed event time
      advances STRICTLY past ``ts + delay_sec``. Finalized events fold
      into the 3-slot funnel state in (ts, event_id) order — and
      because each slot's qualifying condition only compares against
      earlier-or-equal timestamps, an in-order fold sets each slot
      exactly once: first signup, first click with ts > signup, first
      purchase with ts > click. Folded slots equal the batch
      operator's min-aggregation chain on the finalized prefix.
    - A late event AT or INSIDE the horizon (ts ≥ max − delay) slots
      into the buffer and folds at its event-time position when it
      finalizes — out-of-order within tolerance is exact.
    - A late event BEHIND the horizon is dropped and counted
      (``n_late``) — the standard lateness contract.

    Emits (update mode) the user's funnel row whenever a finalized fold
    changes a slot; the LAST row per user after drain equals the batch
    ``ts_funnel`` row on the non-dropped input. State per user: the
    trailing-``delay_sec`` buffer of the three step types (other types
    only advance ``max_us``) plus five scalars.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    delay_us = delay_sec * 1_000_000

    def update(key, pdf_iter, state):
        (user_id,) = key
        if state.exists:
            s = state.get
            buf = list(zip(list(s[0]), list(s[1]), list(s[2])))
            sig, clk, pur = int(s[3]), int(s[4]), int(s[5])
            max_us, n_late = int(s[6]), int(s[7])
        else:
            buf, sig, clk, pur, max_us, n_late = [], -1, -1, -1, -1, 0
        horizon_old = None if max_us < 0 else max_us - delay_us

        pdf = _concat_batches(
            pdf_iter, ts="datetime64[ns]", event_id="int64", event_type="object"
        )
        # vectorized ingest: the only per-row carry is max_us, and max()
        # is order-free — mask the late rows against the PRE-BATCH
        # horizon (horizon_old never moves mid-batch), then buffer the
        # step rows columnwise
        if len(pdf):
            b_us = pdf["ts"].to_numpy(dtype="datetime64[ns]").view("int64") // 1000
            live = (
                b_us >= horizon_old
                if horizon_old is not None
                else np.ones(len(b_us), dtype=bool)
            )
            n_late += int((~live).sum())
            if live.any():
                max_us = max(max_us, int(b_us[live].max()))
                t_arr = pdf["event_type"].to_numpy(dtype=object)
                step = live & np.isin(t_arr, _FUNNEL_STEPS)
                if step.any():
                    b_eid = pdf["event_id"].to_numpy(dtype="int64")
                    buf.extend(
                        zip(
                            (int(x) for x in b_us[step]),
                            (int(e) for e in b_eid[step]),
                            t_arr[step],
                        )
                    )

        out = {c: [] for c in (
            "user_id", "signup_us", "click_us", "purchase_us",
            "reached_click", "reached_purchase",
        )}
        if max_us >= 0:
            horizon_new = max_us - delay_us
            buf.sort()
            changed = False
            # closed-form fold: the in-order
            # each-slot-sets-once recurrence IS the chained min — sig =
            # min finalized signup, clk = min finalized click with
            # ts > sig, pur = min finalized purchase with ts > clk (an
            # earlier-sorted event can never satisfy the strict ts
            # comparison against a later one, so sort position and the
            # min commute) — three masked mins instead of a Python loop
            b_ts = np.fromiter((b[0] for b in buf), dtype=np.int64, count=len(buf))
            fin = b_ts < horizon_new
            if fin.any():
                b_t = np.array([b[2] for b in buf], dtype=object)

                def first_after(kind: str, after: int) -> int:
                    m = fin & (b_t == kind) & (b_ts > after)
                    return int(b_ts[m].min()) if m.any() else -1

                if sig < 0:
                    got = first_after("signup", -1)
                    if got >= 0:
                        sig, changed = got, True
                if clk < 0 and sig >= 0:
                    got = first_after("click", sig)
                    if got >= 0:
                        clk, changed = got, True
                if pur < 0 and clk >= 0:
                    got = first_after("purchase", clk)
                    if got >= 0:
                        pur, changed = got, True
            buf = [b for b in buf if b[0] >= horizon_new]
            if changed and sig >= 0:
                out["user_id"].append(user_id)
                out["signup_us"].append(sig)
                out["click_us"].append(clk if clk >= 0 else None)
                out["purchase_us"].append(pur if pur >= 0 else None)
                out["reached_click"].append(clk >= 0)
                out["reached_purchase"].append(pur >= 0)

        state.update((
            [b[0] for b in buf], [b[1] for b in buf], [b[2] for b in buf],
            int(sig), int(clk), int(pur), int(max_us), int(n_late),
        ))
        yield pd.DataFrame(
            {
                "user_id": pd.array(out["user_id"], dtype="Int64"),
                "signup_us": pd.array(out["signup_us"], dtype="Int64"),
                "click_us": pd.array(out["click_us"], dtype="Int64"),
                "purchase_us": pd.array(out["purchase_us"], dtype="Int64"),
                "reached_click": out["reached_click"],
                "reached_purchase": out["reached_purchase"],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUTPUT,
        stateStructType=FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming STL-style seasonal decomposition (incremental index maintenance)
# ---------------------------------------------------------------------------


def run_streaming_seasonal(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    delay_hours: int = 1,
) -> "StreamingQuery":
    """Streaming twin of ``ts_seasonal_decompose``:
    watermark-bounded incremental maintenance of the hourly series, the
    trend/detrended rows, and (through them) the hour-of-day seasonal
    index, in ``foreachBatch`` with the exactly-once batch_id guard of
    ``run_streaming_cms``.

    Per batch (ordered for replay-safety — the dt append is IDEMPOTENT,
    the hourly commit is the exactly-once marker, and the append runs
    BEFORE the commit, so a crash anywhere replays into an anti-join
    no-op instead of losing the batch's trend rows):

    1. EVENT-level lateness: batch rows whose hour <= the watermark as
       of the PREVIOUS batch are dropped and counted per row (the same
       contract — and the same row-granularity — as Spark's own
       numRowsDroppedByWatermark), then the survivors fold into the
       per-(event_type, hour) rollup state by additive merge.
    2. Advance the watermark: wm_h = max observed hour − delay_hours.
       Hours <= wm_h are FINAL: a later event for them would be late,
       so neither their x nor the SET of such hours can change again.
    3. Emit every newly trend-complete row: ``detrend_hourly`` (the
       IDENTICAL expressions the batch operator uses —
       operators/timeseries.py) over the frozen prefix yields exactly
       the full-data rows whose +HALF'th following ROW lies inside the
       prefix, because a row's centered ROWS frame never reaches past
       that follower; the anti-join against already-emitted (type, h)
       keys makes the append idempotent. THEN commit the hourly state
       with this batch_id.

    The seasonal index is a pure aggregate of the emitted detrended
    rows, so maintaining the rows maintains the index;
    ``streaming_seasonal_result`` materializes it at any point. A true
    unbounded-stream decomposition cannot exist (the index is defined
    over the whole detrended history — same impossibility class as
    streaming LTTB), so the deployable form is exactly this: exact
    incremental trend rows + an index over everything emitted so far.

    State tables under ``state_dir`` (plain parquet; ``hourly`` is
    committed through ``statelog.commit``, ``dt`` is appended —
    production swaps a transactional format, the fold is
    format-agnostic): ``hourly``
    (event_type, h, x, n_late, batch_id) and ``dt`` (event_type, h, x,
    trend_q, detrended). State is O(observed hours), not O(events) —
    the 100 TB shape.
    """
    import os

    from pyspark.sql import functions as F

    from adv_big_data_indexing_spark.operators.timeseries import (
        detrend_hourly,
        hour_bucket,
        hourly_series,
    )

    hourly_dir = os.path.join(state_dir, "hourly")
    dt_dir = os.path.join(state_dir, "dt")

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prev = statelog.read(spark, hourly_dir)
        # ONE driver action for ALL previous-state scalars, guard included
        if prev is not None:
            st = prev.agg(
                F.max("batch_id").alias("bid"),
                F.max("h").alias("mx"),
                F.max("n_late").alias("nl"),
            ).collect()[0]
            applied = -1 if st["bid"] is None else int(st["bid"])
            prev_wm = (int(st["mx"]) - delay_hours) if st["mx"] is not None else None
            n_late_prev = int(st["nl"]) if st["nl"] is not None else 0
        else:
            applied, prev_wm, n_late_prev = -1, None, 0
        if batch_id <= applied:
            return  # replay of an already-applied batch (exactly-once)

        hour = hour_bucket("ts")

        if prev_wm is not None:
            # event-granularity lateness (not rollup-row granularity)
            n_late = n_late_prev + batch.filter(hour <= prev_wm).count()
            merged = _merge_state(
                prev,
                hourly_series(batch.filter(hour > prev_wm)),
                ("event_type", "h"),
                "x",
                lambda px, dx: (px + dx).cast("bigint"),
            )
        else:
            n_late = 0
            merged = hourly_series(batch)
        merged = hold(merged)
        st2 = merged.agg(F.max("h").alias("mx")).collect()[0]
        # idempotent dt append FIRST (see the replay-safety ordering)
        if st2["mx"] is not None:
            wm_h = int(st2["mx"]) - delay_hours
            frozen = merged.filter(F.col("h") <= wm_h)
            ready = detrend_hourly(frozen)
            seen = statelog.read(spark, dt_dir)
            if seen is not None:
                ready = ready.join(
                    seen.select("event_type", "h"),
                    ["event_type", "h"],
                    "left_anti",
                )
            ready.coalesce(1).write.mode("append").parquet(dt_dir)
        # THEN the exactly-once marker
        statelog.commit(
            merged.withColumn("n_late", F.lit(n_late).cast("bigint"))
            .withColumn("batch_id", F.lit(batch_id))
            .coalesce(1),
            hourly_dir,
        )

    return start_fold(events, fold, checkpoint_dir)


def streaming_seasonal_result(
    spark: "SparkSession", state_dir: str, finalize: bool = False
) -> DataFrame:
    """Decomposition over everything the incremental state has emitted:
    ``seasonalize`` (the batch operator's own seasonal-index + join
    expressions) on the maintained ``dt`` rows. With ``finalize=True``
    the stream is declared OVER: the watermark lifts, the tail hours
    (those whose centered window was still awaiting future rows) are
    detrended from the final hourly state and included — the result
    then equals the batch operator on the same data EXACTLY
    (tests/test_streaming.py::test_streaming_seasonal_matches_batch).
    """
    import os

    from adv_big_data_indexing_spark.operators.timeseries import (
        detrend_hourly,
        seasonalize,
    )

    DT_SCHEMA = "event_type string, h bigint, x bigint, trend_q bigint, detrended bigint"
    dt = statelog.read(spark, os.path.join(state_dir, "dt"))
    dt = (
        dt.select("event_type", "h", "x", "trend_q", "detrended")
        if dt is not None
        else spark.createDataFrame([], DT_SCHEMA)
    )
    if finalize:
        hourly = statelog.read(spark, os.path.join(state_dir, "hourly"))
        if hourly is not None:
            tail = detrend_hourly(hourly.select("event_type", "h", "x")).join(
                dt.select("event_type", "h"), ["event_type", "h"], "left_anti"
            )
            dt = dt.unionByName(tail)
    return seasonalize(dt)


def run_streaming_hll(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
) -> "StreamingQuery":
    """Streaming portable-HLL maintenance: live distinct-user counts per
    event type. Each micro-batch folds its (event_type, user_id) rows
    into per-bucket max-rho registers (the md5-derived m=256 sketch of
    ``ext_approx_distinct_portable``, operators/udfs.py) with a MAX
    merge into the parquet state table.

    This is the repo's third state-merge discipline, and the easiest
    one: a register MAX is IDEMPOTENT AND COMMUTATIVE, so an
    at-least-once redelivery — even a whole-stream replay from batch 0
    against warm state — converges to the identical registers with NO
    exactly-once machinery at all. Contrast ``run_streaming_cms``
    (additive merge, needs the batch_id guard). ``batch_id`` is kept on
    the state table as provenance only; the fold never reads it. State is ≤ m rows per
    group forever, and the per-batch update is one map-side-combined
    aggregate of the batch — live cardinality dashboards over a
    100 TB/day stream without re-scanning history.
    """

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prev = statelog.read(spark, state_dir)
        delta = hll_registers(
            batch.selectExpr("event_type AS g", "md5(CAST(user_id AS STRING)) AS h"),
            ("g",),
        )
        merged = _merge_state(prev, delta, ("g", "bucket"), "mj", F.greatest)
        statelog.commit(merged.withColumn("batch_id", F.lit(batch_id)).coalesce(1), state_dir)

    return start_fold(events, fold, checkpoint_dir)


def streaming_hll_result(spark, state_dir: str) -> DataFrame:
    """Distinct-user estimate per event type from the maintained
    registers through the batch finisher ``hll_estimate``
    (operators/udfs.py), so on the same data the streaming and batch
    estimates agree bit-for-bit (tests/test_streaming.py)."""
    st = statelog.read(spark, state_dir)
    if st is None:
        return spark.createDataFrame([], "event_type string, approx_nd double")
    return hll_estimate(st, ("g",)).withColumnRenamed("g", "event_type")


#: Compact the survival frontier's delta log into its base table once
#: this many delta files accumulate (bounds read-side merge fan-in; the
#: amortized compaction cost is Θ(users)/fanin per batch).
SURVIVAL_COMPACT_FANIN = 8


def _survival_frontier(spark, state_dir: str):
    """The per-user frontier from the log-structured survival state:
    max(day) over the compacted base table plus every appended delta
    (streaming/statelog.py). Duplicate rows (replayed appends) cannot
    change a max, so the merge needs no dedup bookkeeping. None when
    no state exists."""
    parts = [p.select("user_id", "day") for p in statelog.read_parts(spark, state_dir)]
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("user_id").agg(F.max("day").alias("day"))


def run_streaming_survival(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    compact_fanin: int = SURVIVAL_COMPACT_FANIN,
) -> "StreamingQuery":
    """Streaming Kaplan-Meier churn maintenance: the state is the
    SEMANTIC MINIMUM for the survival curve — each user's event-time
    frontier (latest event day), nothing else. The curve derives from
    the frontier at READ time (``streaming_survival_result``): a late
    event that moves a user's churn day forward needs no retraction
    machinery, because the day histogram, risk sets, and log-survival
    sum are never materialized as incremental state — only the
    irreducible per-user frontier is.

    WRITE AMPLIFICATION AT SCALE: unlike the constant-size sketch
    states (CMS's d×w counters, HLL's m registers), the frontier is one
    row per user — data-sized — so an overwrite-the-table commit (the
    sketch folds' protocol) would cost Θ(total users) per micro-batch
    however small the batch. The state is therefore LOG-STRUCTURED,
    the same shape production state stores (LSM trees) use: each batch
    APPENDS one Θ(batch)-sized delta of per-user batch maxima — never
    rewriting existing state — and the frontier derives as max(day)
    over base + deltas (the shared streaming/statelog.py protocol).
    Once ``compact_fanin`` delta BATCHES accumulate, they fold into
    the base table (one ``statelog.commit``) and the delta log resets —
    amortized Θ(users)/fanin per batch, and the read-side merge fan-in
    stays bounded. Idempotence of MAX is what makes the log sound with
    zero exactly-once machinery: a replayed batch re-appends DUPLICATE
    delta rows, and duplicate rows cannot change a max; a crash
    between the base commit and the delta-log reset leaves absorbed
    deltas in the log, which re-absorb harmlessly. The guarded additive
    folds (CMS, Markov, seasonal) could not append-without-guard this
    way — a duplicate delta file would double-count; their single-table
    guarded commit IS their correctness.
    """
    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta = churn_frontier(batch)
        # Θ(batch) append at AQE's natural partitioning; the compaction
        # trigger counts delta BATCHES, not part files (statelog.py)
        statelog.append_delta(delta, state_dir, batch_id)
        if statelog.delta_batches(state_dir) >= compact_fanin:
            merged = _survival_frontier(spark, state_dir)
            # None: every delta batch was EMPTY (zero part files
            # written) and no base exists — nothing to fold; leave the
            # empty log for the next trigger rather than committing a
            # base from nothing
            if merged is not None:
                statelog.compact(spark, state_dir, merged, batch_id)

    return start_fold(events, fold, checkpoint_dir)


def streaming_survival_result(spark, state_dir: str) -> DataFrame:
    """KM survival curve from the maintained per-user frontier through
    the batch finisher ``km_curve`` (operators/timeseries.py), so on the
    same data the streaming and batch curves agree exactly
    (tests/test_streaming.py)."""
    churn = _survival_frontier(spark, state_dir)
    if churn is None:
        return spark.createDataFrame(
            [], "day bigint, n_risk bigint, n_churn bigint, log_s_q4 bigint"
        )
    return km_curve(churn)


# ---------------------------------------------------------------------------
# streaming funnel maintenance (the hardest streaming twin: ordered
# multi-step state with out-of-order step arrival)
# ---------------------------------------------------------------------------

#: default lateness tolerance for the funnel twin (events behind a
#: user's frontier by more than this are dropped-and-counted, the same
#: contract as Spark's watermark and the rate-flag/LOCF monitors).
FUNNEL_DELAY_SEC = 86_400

#: compact the funnel log once this many delta batches accumulate.
FUNNEL_COMPACT_FANIN = 8

_FUNNEL_LOG_SCHEMA = "user_id bigint, kind string, val bigint"


def _funnel_log_rows(spark, state_dir: str) -> DataFrame:
    """The row set the funnel log denotes (shared set-log reader)."""
    return statelog.read_set_log(spark, state_dir, _FUNNEL_LOG_SCHEMA)


def _funnel_compacted(log: DataFrame, delay_us: int) -> DataFrame:
    """The pruned row set a compaction commits — the state-compression
    step that makes the log user-sized instead of event-sized.

    Per user (hi = max event ts seen, horizon = hi − delay):

    - one ``s`` row (the min signup; smaller future signups must arrive
      ≥ horizon, so nothing else is needed);
    - ``c`` candidate rows only where val ≤ s (still non-qualifying —
      a future signup < val could make one the first qualifying click)
      AND val > horizon (a future signup is ≥ horizon, so a click at or
      below the horizon can never exceed it) — plus the current
      qualifying frontier;
    - ``p`` candidate rows only where val ≤ c (or c is null) AND
      val > Lc, where Lc = least(c, horizon) when c exists else
      horizon: every possible FUTURE first-qualifying-click is either
      the current c or a retained click candidate (all > horizon by the
      rule above) or a new click (> horizon), so no future c′ < Lc
      exists and purchases ≤ Lc can never qualify — plus the frontier;
    - one ``h`` row; every ``l`` (dropped-event) row is kept — bounded
      by the drop count, and the observable auditors read.
    """
    s, c, p = _funnel_stages(log)
    h = (
        log.filter(F.col("kind") == "h")
        .groupBy("user_id")
        .agg(F.max("val").alias("hi"))
    )
    stats = (
        h.join(s, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .withColumn("horizon", F.col("hi") - F.lit(delay_us))
        .withColumn(
            "lc",
            F.when(F.col("click_us").isNull(), F.col("horizon")).otherwise(
                F.least("click_us", "horizon")
            ),
        )
    )
    keep_c = (
        log.filter(F.col("kind") == "c")
        .join(stats, "user_id")
        .filter(
            (F.col("signup_us").isNull() | (F.col("val") <= F.col("signup_us")))
            & (F.col("val") > F.col("horizon"))
        )
        .select("user_id", "kind", "val")
    )
    keep_p = (
        log.filter(F.col("kind") == "p")
        .join(stats, "user_id")
        .filter(
            (F.col("click_us").isNull() | (F.col("val") <= F.col("click_us")))
            & (F.col("val") > F.col("lc"))
        )
        .select("user_id", "kind", "val")
    )
    frontier = stats.selectExpr(
        "user_id",
        "stack(4, 'h', hi, 's', signup_us, 'c', click_us, 'p', purchase_us)"
        " AS (kind, val)",
    ).filter(F.col("val").isNotNull())
    late = log.filter(F.col("kind") == "l")
    return keep_c.unionByName(keep_p).unionByName(frontier).unionByName(late)


def run_streaming_funnel(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    delay_sec: int = FUNNEL_DELAY_SEC,
    compact_fanin: int = FUNNEL_COMPACT_FANIN,
) -> "StreamingQuery":
    """Streaming signup→click→purchase funnel maintenance — the ordered
    multi-step state under a lateness horizon, out-of-order step
    arrival handled EXACTLY (a purchase can arrive batches before its
    click, the click before its signup; a late-but-accepted earlier
    signup re-qualifies already-seen clicks, which re-qualifies
    already-seen purchases).

    Why this is the hard twin: the funnel's stage thresholds only ever
    MOVE DOWN (min signup; min qualifying click; min qualifying
    purchase), and a threshold moving down can ADMIT events that were
    non-qualifying when they arrived. Exact maintenance therefore
    cannot keep just the three current values — it must retain every
    event that could still become a stage minimum under some future
    threshold. The state is an append-only SET LOG of
    (user_id, kind, val) rows on streaming/statelog.py (Θ(batch)
    appends, bounded-fan-in compaction — the survival frontier's LSM
    protocol with a funnel-aware merge):

    - ``s``: per-batch min signup (only the min can matter);
    - ``c``: click CANDIDATES — batch clicks ≤ the batch's own signup
      min (non-qualifying here, possibly qualifying under a smaller
      merged signup) plus the batch's qualifying frontier (min click
      above it). Extra candidates are always sound (they are real
      events; the read-side chained-min ignores non-minimal ones) —
      compression is an optimization, never a correctness gate;
    - ``p``: purchase candidates, same rule against the batch's
      qualifying click;
    - ``h``: the user's event-time frontier (max ts), the lateness
      horizon's source;
    - ``l``: dropped event ids (ts strictly below the user's PRIOR
      frontier − delay, mirroring Spark's own watermark update-at-
      batch-end: a batch never drops by its own maximum). PER-DELIVERY
      facts, like Spark's own numRowsDroppedByWatermark: an exact
      replay of a batch appends the identical rows (same event_id),
      but a REDELIVERY against a frontier other batches have since
      advanced can drop — and so report — an event whose ORIGINAL
      delivery was accepted. The accepted rows persist, so the RESULT
      is unaffected; the late observable is an at-least-once upper
      bound under replays (exactly-once drop attribution would need
      Θ(events) accepted-id state — the wrong trade at scale;
      tests/test_streaming.py pins both halves of this contract).

    Every row kind is merged by min/max/set-union — idempotent and
    commutative — so replays and crash-retries need zero exactly-once
    machinery (the statelog contract), and ``streaming_funnel_result``
    equals the batch ``ts_funnel`` under any chunking of the same
    events (tests/test_streaming.py). Compaction prunes candidates the
    horizon has made unreachable (see ``_funnel_compacted``), bounding
    state at Θ(users × events-within-horizon).

    100 TB shape: per batch — one Θ(batch) aggregate per stage, one
    broadcast-sized probe of the log's ``h`` rows (column-pruned scan),
    Θ(batch) appends; compaction amortized Θ(state)/fanin. At cluster
    scale the log should additionally be BUCKETED by user_id so the
    frontier probe and the read-side stage joins co-locate. That lever
    is applied on the sibling with the heavier per-batch index
    terms — the dedup index (streaming/corpus.py: broadcast semi
    prunes + dk-partitioned sigs base, measured at a 10⁶-doc index in
    BASELINE.md "Statelog bucketing lever"); the same two moves
    (semi-prune the probe on the batch's own user set, hash-partition
    the base on pmod(xxhash64(user_id), N)) transfer here verbatim
    when the h-probe term starts registering.
    """
    from pyspark import StorageLevel

    from adv_big_data_indexing_spark.functions.exact import epoch_us
    delay_us = int(delay_sec) * 1_000_000

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        ev = batch.select(
            "user_id",
            "event_type",
            "event_id",
            epoch_us(F.col("ts")).alias("us"),
        )
        # frontier probe WITHOUT the set-log distinct: max() is the
        # merge and is duplicate-insensitive, so a distinct would add a
        # Θ(users) shuffle to the per-batch path and change nothing; the
        # kind filter partition-prunes the base
        parts = statelog.read_parts(spark, state_dir)
        if parts:
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            prev_hi = (
                u.filter(F.col("kind") == "h")
                .groupBy("user_id")
                .agg(F.max("val").alias("prev_hi"))
            )
        else:
            prev_hi = spark.createDataFrame([], "user_id bigint, prev_hi bigint")
        # read by the late/accepted splits and the h-row aggregate;
        # released when the micro-batch ends (start_fold)
        ev = hold(ev.join(prev_hi, "user_id", "left"), StorageLevel.DISK_ONLY)
        late = ev.filter(
            F.col("prev_hi").isNotNull()
            & (F.col("us") < F.col("prev_hi") - F.lit(delay_us))
        )
        acc = ev.filter(
            F.col("prev_hi").isNull()
            | (F.col("us") >= F.col("prev_hi") - F.lit(delay_us))
        )

        s_b = (
            acc.filter(F.col("event_type") == "signup")
            .groupBy("user_id")
            .agg(F.min("us").alias("sb"))
        )
        clicks = acc.filter(F.col("event_type") == "click").join(
            s_b, "user_id", "left"
        )
        c_cand = clicks.filter(
            F.col("sb").isNull() | (F.col("us") <= F.col("sb"))
        ).select("user_id", F.lit("c").alias("kind"), F.col("us").alias("val"))
        c_front = (
            clicks.filter(F.col("us") > F.col("sb"))
            .groupBy("user_id")
            .agg(F.min("us").alias("cb"))
        )
        purch = acc.filter(F.col("event_type") == "purchase").join(
            c_front, "user_id", "left"
        )
        p_cand = purch.filter(
            F.col("cb").isNull() | (F.col("us") <= F.col("cb"))
        ).select("user_id", F.lit("p").alias("kind"), F.col("us").alias("val"))
        p_front = (
            purch.filter(F.col("us") > F.col("cb"))
            .groupBy("user_id")
            .agg(F.min("us").alias("pb"))
        )

        delta = (
            s_b.select("user_id", F.lit("s").alias("kind"), F.col("sb").alias("val"))
            .unionByName(c_cand)
            .unionByName(
                c_front.select(
                    "user_id", F.lit("c").alias("kind"), F.col("cb").alias("val")
                )
            )
            .unionByName(p_cand)
            .unionByName(
                p_front.select(
                    "user_id", F.lit("p").alias("kind"), F.col("pb").alias("val")
                )
            )
            .unionByName(
                ev.groupBy("user_id").agg(
                    F.greatest(
                        F.max("us"), F.coalesce(F.max("prev_hi"), F.max("us"))
                    ).alias("val")
                ).select("user_id", F.lit("h").alias("kind"), "val")
            )
            .unionByName(
                late.select(
                    "user_id",
                    F.lit("l").alias("kind"),
                    F.col("event_id").alias("val"),
                )
            )
        )
        statelog.append_delta(delta, state_dir, batch_id)
        # trigger + the zero-row partitioned-commit guard live in
        # statelog.maybe_compact. Base partitioned by kind: the
        # per-batch frontier probe filters
        # kind = 'h', so it partition-prunes to the h directory however
        # large the candidate partitions grow. No repartition: kind has
        # ~4 values — shuffling onto it would serialize the data-sized
        # write into 4 tasks.
        statelog.maybe_compact(
            spark,
            state_dir,
            lambda: _funnel_compacted(_funnel_log_rows(spark, state_dir), delay_us),
            batch_id,
            compact_fanin,
            partition_by="kind",
        )

    return start_fold(events, fold, checkpoint_dir)


def streaming_funnel_result(spark, state_dir: str) -> DataFrame:
    """The funnel table from the maintained log through the batch
    finisher ``funnel_table`` (operators/timeseries.py), so on the same
    accepted events the streaming and batch rows agree exactly."""
    return funnel_table(_funnel_log_rows(spark, state_dir))


def streaming_funnel_late(spark, state_dir: str) -> DataFrame:
    """The drop-and-count observable: one row per dropped event id.
    Per-DELIVERY semantics (see ``run_streaming_funnel``): a redelivery
    arriving behind a since-advanced frontier reports here even when
    the event's original delivery was accepted and its effects are in
    the result — an at-least-once upper bound, the same contract as
    Spark's numRowsDroppedByWatermark."""
    return (
        _funnel_log_rows(spark, state_dir)
        .filter(F.col("kind") == "l")
        .select("user_id", F.col("val").alias("event_id"))
    )


# ---------------------------------------------------------------------------
# streaming cohort-retention maintenance (the funnel's sibling twin)
# ---------------------------------------------------------------------------

RETENTION_COMPACT_FANIN = 8

_RETENTION_LOG_SCHEMA = "user_id bigint, kind string, val bigint"


def _retention_log_rows(spark, state_dir: str) -> DataFrame:
    """The row set the retention log denotes (shared set-log reader)."""
    return statelog.read_set_log(spark, state_dir, _RETENTION_LOG_SCHEMA)


def _retention_state(log: DataFrame):
    """(first, days) per-user frames: min cohort day over ``f`` rows,
    distinct active days over ``d`` rows. Exact under ANY arrival
    order — both kinds are min/set-merged."""
    first = (
        log.filter(F.col("kind") == "f")
        .groupBy("user_id")
        .agg(F.min("val").alias("cohort_day"))
    )
    days = log.filter(F.col("kind") == "d").select(
        "user_id", F.col("val").alias("day")
    ).distinct()
    return first, days


def _retention_window_rows(first: DataFrame, days: DataFrame) -> DataFrame:
    """Log rows for a (first, days) state: one ``f`` row per user's
    cohort day, and the ``d`` rows within RETENTION_MAX_OFFSET days of
    it. A batch's delta is these rows of the batch's own state, and a
    compaction's base is these rows of the merged log's state."""
    d_rows = (
        days.join(first, "user_id")
        .filter(F.col("day") <= F.col("cohort_day") + RETENTION_MAX_OFFSET)
        .select("user_id", F.lit("d").alias("kind"), F.col("day").alias("val"))
    )
    return first.select(
        "user_id", F.lit("f").alias("kind"), F.col("cohort_day").alias("val")
    ).unionByName(d_rows)


def run_streaming_retention_log(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    compact_fanin: int = RETENTION_COMPACT_FANIN,
) -> "StreamingQuery":
    """Streaming cohort-retention maintenance, LOG-STRUCTURED: Θ(batch)
    set-log appends, NO retraction machinery and NO exactly-once guard,
    and the table derived at read time — the survival/funnel
    discipline. (An additive twin — per-user applyInPandasWithState
    retraction/assertion deltas folded into a guarded (cohort, offset)
    table rewritten every micro-batch — measured 3.3× slower at sf1 and
    did not finish sf10 in budget, BASELINE.md "Retention twins
    head-to-head"; it was deleted.) The funnel twin's sibling, with a
    STRICTLY SHRINKING retention window instead of down-moving
    thresholds: a user's cohort day is the min active day,
    and a late event can only move it EARLIER, which makes every other
    day's offset LARGER — so a day already outside the ≤ 7-offset
    window can never re-enter it, and compaction's prune
    (day > current cohort_day + 7) is unconditionally safe. No
    lateness horizon is needed for exactness: the whole state is a
    join-semilattice (min cohort day, set-union day set), so arrival
    order cannot change the result and replays are invisible.

    State log rows (streaming/statelog.py — Θ(batch) appends,
    bounded-fan-in compaction, base partitioned by kind):

    - ``f``: per-batch min active day (only the min can matter);
    - ``d``: day CANDIDATES — the batch's distinct (user, day) pairs
      with day ≤ the batch's own min + 7 (days beyond the batch-local
      window can only move further out under a smaller merged cohort
      day, so they are never emitted at all — the batch-local window
      is already the conservative superset).

    Each batch's delta is built from the batch query's own
    ``retention_state`` over the micro-batch, and the read side
    (``streaming_retention_log_result``) is its finisher
    ``retention_table`` over the merged state (operators/timeseries.py).
    """
    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # layout contract: the stored d-rows are PRUNED at
        # RETENTION_MAX_OFFSET, so resuming with a WIDER
        # window over an existing state dir would read pruned-away days
        # as absent — silently wrong retention counts. Stamp + verify.
        statelog.check_layout(
            state_dir, f"retention_max_offset={RETENTION_MAX_OFFSET}"
        )
        statelog.append_delta(
            _retention_window_rows(*retention_state(batch)), state_dir, batch_id
        )
        # shared trigger + zero-row partitioned-commit guard
        # (statelog.maybe_compact)
        statelog.maybe_compact(
            spark,
            state_dir,
            lambda: _retention_window_rows(
                *_retention_state(_retention_log_rows(spark, state_dir))
            ),
            batch_id,
            compact_fanin,
            partition_by="kind",
        )

    return start_fold(events, fold, checkpoint_dir)


def streaming_retention_log_result(spark, state_dir: str) -> DataFrame:
    """The cohort-retention table from the maintained log through the
    batch finisher ``retention_table`` (operators/timeseries.py), so on
    the same events the streaming and batch tables agree exactly."""
    return retention_table(*_retention_state(_retention_log_rows(spark, state_dir)))
