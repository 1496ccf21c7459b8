"""Event-time operators over the ``events`` table (SURVEY §2.H EXT set).

Batch-mode equivalents of the streaming operators in
``streaming/`` — same windowing semantics, verifiable against the
DuckDB oracle. The true ``readStream`` forms (watermarks, state) are in
``adv_big_data_indexing_spark.streaming`` and covered by pytest.

Window starts are epoch-aligned (Spark's default origin), which the
oracle reproduces with integer epoch arithmetic — exact, tz-free under
the UTC session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from adv_big_data_indexing_spark.contract import query
from adv_big_data_indexing_spark.operators.advanced import (
    consistent_materialize,
)
from adv_big_data_indexing_spark.functions.exact import DUCK_ILOG2_Q4, epoch_us, ilog2_q4, sum_money
from adv_big_data_indexing_spark.sources.catalog import load_table


@query(
    "ts_tumbling_window",
    oracle="""
    SELECT TIMESTAMP '1970-01-01 00:00:00' + ((epoch_us(ts) // 600000000) * 600) * INTERVAL 1 SECOND AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    bench=True,
    doc="EXT tumbling event-time window (10 min) — streaming form: "
    "readStream.withWatermark('ts','10 minutes').groupBy(window(ts,'600 seconds')).",
)
def ts_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "600 seconds").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), sum_money("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@query(
    "ts_sliding_window",
    oracle="""
    WITH slid AS (
      SELECT e.*, TIMESTAMP '1970-01-01 00:00:00' + (((epoch_us(ts) // 300000000) - k) * 300) * INTERVAL 1 SECOND AS window_start
      FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS k)
      WHERE epoch_us(ts) >= ((epoch_us(ts) // 300000000) - k) * 300000000
        AND epoch_us(ts) <  (((epoch_us(ts) // 300000000) - k) * 300 + 600) * 1000000
    )
    SELECT window_start, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM slid GROUP BY 1
    """,
    doc="EXT sliding window 10 min / 5 min slide: each event lands in 2 windows. "
    "The oracle enumerates the window set explicitly (Spark's window() does the same "
    "expansion internally).",
)
def ts_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "600 seconds", "300 seconds").alias("w"))
        .agg(F.count("*").alias("n_events"), sum_money("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


@query(
    "ts_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_seq
    """,
    bench=True,
    doc="EXT gap-based sessionization (30-min gap) via lag + running sum — the batch "
    "analog of session_window(ts, '30 minutes'); streaming form in streaming/events.py.",
)
def ts_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 1800 * 1_000_000
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (epoch_us("ts") - epoch_us(F.lag("ts").over(w)) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.select("*", F.sum("is_new").over(run).alias("session_seq"))
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


@query(
    "ts_dedup_first",
    oracle="""
    SELECT user_id, event_type, event_id, ts FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="EXT keyed dedup keep-first — batch analog of streaming "
    "dropDuplicates(['user_id','event_type']) with deterministic ordering.",
)
def ts_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "event_id", "ts", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _funnel_stages(log: DataFrame):
    """(s, c, p) per-user stage frames from ``(user_id, kind, val)`` rows
    (kind s/c/p = signup/click/purchase, val = epoch µs): min signup,
    min click strictly after it, min purchase strictly after that. A
    min is order-free, so the result is the same for any row order and
    for any superset of rows that keeps every stage minimum — the
    streaming funnel log relies on that (streaming/events.py)."""
    s = (
        log.filter(F.col("kind") == "s")
        .groupBy("user_id")
        .agg(F.min("val").alias("signup_us"))
    )
    c = (
        log.filter(F.col("kind") == "c")
        .join(s, "user_id")
        .filter(F.col("val") > F.col("signup_us"))
        .groupBy("user_id")
        .agg(F.min("val").alias("click_us"))
    )
    p = (
        log.filter(F.col("kind") == "p")
        .join(c, "user_id")
        .filter(F.col("val") > F.col("click_us"))
        .groupBy("user_id")
        .agg(F.min("val").alias("purchase_us"))
    )
    return s, c, p


def funnel_table(log: DataFrame) -> DataFrame:
    """The funnel row per user who signed up, from ``(user_id, kind,
    val)`` rows — the finisher ``ts_funnel`` and the streaming funnel
    reader share."""
    s, c, p = _funnel_stages(log)
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "signup_us",
            "click_us",
            "purchase_us",
            F.col("click_us").isNotNull().alias("reached_click"),
            F.col("purchase_us").isNotNull().alias("reached_purchase"),
        )
    )


@query(
    "ts_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS click_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.ts > s.signup_ts GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS purchase_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY e.user_id
    )
    SELECT s.user_id,
           CAST(epoch_us(s.signup_ts) AS BIGINT) AS signup_us,
           CAST(epoch_us(c.click_ts) AS BIGINT) AS click_us,
           CAST(epoch_us(p.purchase_ts) AS BIGINT) AS purchase_us,
           (c.user_id IS NOT NULL) AS reached_click,
           (p.user_id IS NOT NULL) AS reached_purchase
    FROM s LEFT JOIN c ON s.user_id = c.user_id LEFT JOIN p ON s.user_id = p.user_id
    """,
    doc="EXT event funnel: signup → first later click → first later "
    "purchase, per user. Three keyed min-aggregations chained by "
    "left joins; every stage is a partial-aggregable groupBy.",
)
def ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    kind = (
        F.when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
    )
    log = e.select("user_id", kind.alias("kind"), epoch_us("ts").alias("val"))
    return funnel_table(log.filter(F.col("kind").isNotNull()))


#: the cohort-retention window: offsets beyond this are not reported
RETENTION_MAX_OFFSET = 7


def retention_state(events: DataFrame):
    """(first, days) from events: each user's distinct active epoch days
    and the first of them (``cohort_day``)."""
    day = (epoch_us("ts") / F.lit(86_400_000_000)).cast("bigint")
    days = events.select("user_id", day.alias("day")).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return first, days


def retention_table(first: DataFrame, days: DataFrame) -> DataFrame:
    """Distinct active users per (cohort_day, day_offset ≤
    RETENTION_MAX_OFFSET) — the finisher ``ts_retention_cohort`` and the
    streaming retention reader share."""
    j = days.join(first, "user_id").withColumn(
        "day_offset", F.col("day") - F.col("cohort_day")
    )
    return (
        j.filter(F.col("day_offset") <= RETENTION_MAX_OFFSET)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "ts_retention_cohort",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
    ),
    first_day AS (SELECT user_id, min(day) AS cohort_day FROM daily GROUP BY user_id)
    SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
           count(DISTINCT d.user_id) AS active_users
    FROM daily d JOIN first_day f ON d.user_id = f.user_id
    WHERE d.day - f.cohort_day <= 7
    GROUP BY 1, 2
    """,
    doc="EXT cohort retention: users bucketed by first-active day, "
    "distinct-active counts per day offset — the standard training-data "
    "freshness/engagement rollup.",
)
def ts_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention_table(*retention_state(load_table(spark, sf_dir, "events")))


@query(
    "ts_gap_filled_minutes",
    oracle="""
    WITH bounds AS (
      SELECT (epoch_us(min(ts)) // 3600000000) * 3600 AS t0,
             (epoch_us(max(ts)) // 3600000000) * 3600 AS t1
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(t0, t1, 3600)) AS hour_epoch FROM bounds
    ),
    hourly AS (
      SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_epoch, count(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT s.hour_epoch, coalesce(h.n, 0) AS n_purchases,
           (h.hour_epoch IS NULL) AS was_gap
    FROM spine s LEFT JOIN hourly h USING (hour_epoch)
    """,
    doc="EXT calendar-spine gap filling: generate the full hour spine "
    "between min/max event time and left-join the sparse aggregate — "
    "zero-filled buckets are explicit rows (required for correct "
    "windowed rates / charting). The spine generates distributed "
    "(sequence + explode), never on the driver.",
)
def ts_gap_filled_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hour = ((epoch_us("ts") / F.lit(3_600_000_000)).cast("bigint") * 3600).alias("hour_epoch")
    bounds = e.agg(
        F.min(hour).alias("t0"),
        F.max(((epoch_us("ts") / F.lit(3_600_000_000)).cast("bigint") * 3600)).alias("t1"),
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("t0"), F.col("t1"), F.lit(3600))).alias("hour_epoch")
    )
    hourly = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(hour)
        .agg(F.count("*").alias("n"))
    )
    return spine.join(hourly, "hour_epoch", "left").select(
        "hour_epoch",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_purchases"),
        F.col("n").isNull().alias("was_gap"),
    )


@query(
    "ts_user_stats",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(epoch_us(max(ts)) AS BIGINT) AS last_event_us
    FROM events GROUP BY user_id
    """,
    doc="EXT per-user lifetime stats — the oracle-checked batch twin of the "
    "custom stateful streaming operator (streaming/events.py "
    "user_running_stats): the streaming op's final state must converge to "
    "exactly this aggregate (asserted in tests/test_streaming.py).",
)
def ts_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        sum_money("value", "total_value"),
        F.max(epoch_us("ts")).alias("last_event_us"),
    )


@query(
    "ts_enriched_by_segment",
    oracle="""
    SELECT c_mktsegment, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    doc="EXT stream-static enrichment, batch twin: events pick up the "
    "customer dimension (broadcast — stateless in streaming), then "
    "aggregate per (segment, event_type). The streaming form is "
    "streaming/events.py:enrich_events, exercised in tests/test_streaming.py.",
)
def ts_enriched_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.streaming.events import enrich_events

    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    return (
        enrich_events(e, c)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


@query(
    "ts_rolling_range_frame",
    oracle="""
    SELECT event_id, user_id, ts,
           count(*) OVER w AS n_1h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    """,
    doc="EXT time-based RANGE frame: per-user rolling 1-hour count/sum — "
    "the frame is defined by event-TIME distance, not row count (ties and "
    "bursts handled correctly, unlike a ROWS frame). Ordered on exact "
    "epoch microseconds with an exact-decimal running sum, so frame "
    "boundaries and totals are engine-independent. At scale: one shuffle "
    "on user_id; each user's history sorts locally.",
)
def ts_rolling_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("sum_1h"),
    )


@query(
    "ts_scd2_history",
    oracle="""
    SELECT user_id,
           CAST(value AS DOUBLE) AS value,
           ts AS effective_from,
           lead(ts) OVER w AS effective_to,
           CAST(row_number() OVER w AS BIGINT) AS version,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="EXT SCD2 history build: each user's purchase stream becomes "
    "versioned validity intervals — effective_from/effective_to from "
    "lead() over the per-user timeline, an open interval marking the "
    "current version. This is the batch twin of a CDC MERGE keeping "
    "type-2 dimension history (the reference only ever keeps the latest "
    "state: SURVEY §2.G upserts). One shuffle on user_id; event_id "
    "tie-break makes same-timestamp ordering deterministic.",
)
def ts_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        F.col("value").cast("double").alias("value"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        F.row_number().over(w).cast("bigint").alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@query(
    "ts_hypertable_rollup",
    oracle="""
    SELECT event_type,
           CAST(year(ts) AS INTEGER) AS y,
           CAST(month(ts) AS INTEGER) AS m,
           CAST(day(ts) AS INTEGER) AS d,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type, y, m, d), (event_type, y, m),
                            (event_type, y), (event_type))
    """,
    doc="EXT hypertable rollup: the continuous-aggregate pattern — event "
    "counts and exact value sums at day, month, year and grand-total "
    "grain in one pass (GROUP BY ROLLUP over the calendar hierarchy x "
    "event_type). Spark expands the rollup map-side and partial-aggregates "
    "before the shuffle, so only grouped state crosses the network; at "
    "100 TB this materializes as the day-grain table plus reductions of "
    "it, maintained incrementally by the streaming twin "
    "(streaming/events.py windows).",
)
def ts_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.year("ts").cast("int").alias("y"),
        F.month("ts").cast("int").alias("m"),
        F.dayofmonth("ts").cast("int").alias("d"),
        "value",
    )
    e.createOrReplaceTempView("__events_hypertable")
    return spark.sql(
        """
        SELECT event_type, y, m, d,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM __events_hypertable
        GROUP BY GROUPING SETS ((event_type, y, m, d), (event_type, y, m),
                                (event_type, y), (event_type))
        """
    )


def transition_probabilities(counts: DataFrame) -> DataFrame:
    """(from_state, to_state, n, p = n / Σ_from n) from transition counts
    — the finisher ``ts_markov_transitions`` and the streaming Markov
    reader share. The window sum is over BIGINTs, so the one division is
    correctly rounded in every engine."""
    total = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(total)).alias("p"),
    )


@query(
    "ts_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS from_state,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
      FROM events
    ),
    t AS (
      SELECT from_state, to_state, count(*) AS n
      FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_state, to_state, n,
           CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_state) AS p
    FROM t
    """,
    doc="EXT behavioral sequence analytics: first-order Markov transition "
    "matrix over each user's event stream — lead() per user (one shuffle, "
    "deterministic event_id tie-break), count per (from, to), probability "
    "normalized per from-state. The window sum is over BIGINTs so the "
    "single closing division is correctly rounded in both engines.",
)
def ts_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).filter(F.col("to_state").isNotNull())
    return transition_probabilities(
        seq.groupBy("from_state", "to_state").agg(F.count("*").alias("n"))
    )


@query(
    "ts_max_concurrency",
    oracle="""
    WITH iv AS (
      SELECT ts AS s, ts + INTERVAL 5 MINUTE AS e FROM events
      WHERE event_type = 'view'
    ),
    pts AS (
      SELECT s AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT e AS t, -1 AS delta FROM iv
    ),
    sweep AS (
      SELECT t, sum(delta) AS d FROM pts GROUP BY t
    ),
    run AS (
      SELECT t, CAST(sum(d) OVER (ORDER BY t) AS BIGINT) AS concurrent
      FROM sweep
    )
    SELECT max(concurrent) AS max_concurrent,
           min(t) FILTER (WHERE concurrent = (SELECT max(concurrent) FROM run)) AS at_ts
    FROM run
    """,
    doc="EXT sweep-line interval concurrency: each view event opens a "
    "5-minute interval; +1/-1 deltas collapse per timestamp, one ordered "
    "running sum gives the concurrency profile, and the answer is its max "
    "with the earliest time it is reached. End-exclusive semantics fall "
    "out of summing -1 BEFORE +1 at equal timestamps (the per-timestamp "
    "pre-aggregation makes order within a timestamp irrelevant). The "
    "running sum is DISTRIBUTED: range-partition the distinct-timestamp "
    "sweep (checkpointed for boundary consistency), per-partition "
    "running sums inside a pid-partitioned window, plus broadcast "
    "prefix-of-partition-totals offsets — the former global "
    "single-partition window over every distinct timestamp is gone.",
)
def ts_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    iv = e.select(F.col("ts").alias("s"), (F.col("ts") + F.expr("INTERVAL 5 MINUTE")).alias("e"))
    pts = iv.select(F.col("s").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    from adv_big_data_indexing_spark.operators.advanced import (  # noqa: PLC0415
        global_running_sum,
    )

    sweep = pts.groupBy("t").agg(F.sum("delta").alias("d"))
    run = global_running_sum(sweep, ["t"], "d", "concurrent").select(
        "t", F.col("concurrent").cast("bigint").alias("concurrent")
    )
    mx = run.agg(F.max("concurrent").alias("mc"))
    return (
        run.join(F.broadcast(mx), run.concurrent == F.col("mc"))
        .agg(
            F.max("concurrent").alias("max_concurrent"),
            F.min("t").alias("at_ts"),
        )
    )


@query(
    "ts_point_in_time_join",
    oracle="""
    WITH hist AS (
      SELECT user_id,
             CAST(value AS DOUBLE) AS value,
             ts AS effective_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id, c.ts,
           h.value AS asof_value, h.version AS asof_version
    FROM events c
    LEFT JOIN hist h
      ON c.user_id = h.user_id
     AND c.ts >= h.effective_from
     AND (h.effective_to IS NULL OR c.ts < h.effective_to)
    WHERE c.event_type = 'click'
    """,
    doc="EXT point-in-time (temporal) join — the feature-store lookup: "
    "each click event reads the purchase-derived SCD2 version valid AT "
    "its timestamp (no leakage from the future, no stale reads from "
    "before). Spark-first: because validity intervals partition each "
    "user's timeline, interval containment reduces to an as-of match on "
    "effective_from — the union + single-window-pass composition "
    "(operators/advanced.asof_join), one shuffle on user_id, never the "
    "O(n*m) inequality-join nested loop the naive BETWEEN join plans "
    "into. The oracle verifies with the explicit interval join.",
)
def ts_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.operators.advanced import asof_join

    hist = ts_scd2_history(spark, sf_dir)
    versions = hist.select("user_id", F.col("effective_from").alias("vts"), "value", "version")
    clicks = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
    )
    out = asof_join(
        clicks, versions, on="user_id", left_ts="ts", right_ts="vts",
        right_cols=["value", "version"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_value"),
        F.col("asof_version"),
    )


@query(
    "ts_time_weighted_avg",
    oracle="""
    WITH hist AS (
      SELECT user_id,
             CAST(floor(value * 100) AS BIGINT) AS vc,
             ts AS f,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
      FROM events WHERE event_type = 'purchase'
    ),
    closed AS (
      SELECT user_id, vc,
             (epoch_us(t) - epoch_us(f)) // 1000000 AS dur_s
      FROM hist WHERE t IS NOT NULL
    )
    SELECT user_id,
           count(*) AS n_intervals,
           CAST(sum(dur_s) AS BIGINT) AS total_s,
           CAST(sum(vc * dur_s) AS DOUBLE) / sum(dur_s) / 100 AS twa_value
    FROM closed
    GROUP BY user_id
    HAVING sum(dur_s) > 0
    """,
    doc="EXT time-weighted average over SCD2 validity intervals: each "
    "closed purchase-value version weighs by its duration — the correct "
    "mean for irregularly-sampled state (a plain avg over-weights "
    "rapid-fire updates). All-integer weights (cents x whole seconds, "
    "products < 2^63 by construction), one double division at the end. "
    "One shuffle on user_id for the window, the aggregate is map-side "
    "combined.",
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # plain floor, NOT cents(): events.value is not a 2-decimal money
    # column, so cents()'s round-half-up licensing argument does not
    # hold — floor(x*100) is unambiguous on both engines at any value
    hist = e.select(
        "user_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("vc"),
        F.col("ts").alias("f"),
        F.lead("ts").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    # integer DIV, not double `/` + cast: the double quotient of a large
    # microsecond diff can round across an integer boundary
    closed = hist.select(
        "user_id",
        "vc",
        (epoch_us("t") - epoch_us("f")).alias("dur_us"),
    ).select("user_id", "vc", F.expr("dur_us DIV 1000000").alias("dur_s"))
    return (
        closed.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dur_s").alias("total_s"),
            F.sum(F.col("vc") * F.col("dur_s")).alias("wsum"),
        )
        .filter(F.col("total_s") > 0)
        .select(
            "user_id",
            "n_intervals",
            "total_s",
            (F.col("wsum").cast("double") / F.col("total_s") / 100).alias("twa_value"),
        )
    )


@query(
    "ts_period_over_period",
    oracle="""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
             CAST(month(o_orderdate) AS INTEGER) AS m,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders GROUP BY 1, 2
    )
    SELECT y, m,
           CAST(rev_c AS DOUBLE) / 100 AS revenue,
           CAST(lag(rev_c) OVER w AS DOUBLE) / 100 AS prev_revenue,
           CAST(rev_c - lag(rev_c) OVER w AS DOUBLE)
             / CAST(lag(rev_c) OVER w AS DOUBLE) AS pct_change
    FROM monthly
    WINDOW w AS (ORDER BY y, m)
    """,
    doc="EXT period-over-period reporting: monthly revenue (exact integer "
    "cents) with previous-period value and growth rate via lag() over the "
    "aggregated series. The window runs over the TINY aggregate (one row "
    "per month), so the single-partition sort it needs is trivially safe "
    "at any source scale; the division of two exact cents values is one "
    "correctly-rounded double op.",
)
def ts_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("int").alias("y"),
        F.month("o_orderdate").cast("int").alias("m"),
    ).agg(F.sum(cents("o_totalprice")).alias("rev_c"))
    w = Window.orderBy("y", "m")
    prev = F.lag("rev_c").over(w)
    return monthly.select(
        "y",
        "m",
        (F.col("rev_c").cast("double") / 100).alias("revenue"),
        (prev.cast("double") / 100).alias("prev_revenue"),
        ((F.col("rev_c") - prev).cast("double") / prev.cast("double")).alias("pct_change"),
    )


# --- Rolling-window anomaly detection --------------------------------------

#: value quantization for exact window sums: 1e4 units keep per-window
#: sums of squares below ~3e15 (value <= ~560, window <= 21 rows) — far
#: inside BIGINT, so mean/variance state is exact integers.
ANOM_Q = 10_000
ANOM_WINDOW = 20  # trailing rows (exclusive of current)
ANOM_MIN_N = 10
ANOM_Z = 2.5


@query(
    "ts_anomaly_zscore",
    oracle=f"""
    WITH q AS (
      SELECT user_id, event_id, ts, value,
             CAST(round(value * {ANOM_Q}) AS BIGINT) AS qx
      FROM events
    ),
    w AS (
      SELECT *, count(qx) OVER win AS n,
             CAST(sum(qx) OVER win AS BIGINT) AS s,
             CAST(sum(qx * qx) OVER win AS BIGINT) AS ss
      FROM q WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN {ANOM_WINDOW} PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, ts, value, z FROM (
      SELECT user_id, event_id, ts, value,
             (CAST(qx AS DOUBLE) - CAST(s AS DOUBLE) / n)
               / sqrt(CAST(ss AS DOUBLE) / n
                      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS z
      FROM w
      WHERE n >= {ANOM_MIN_N}
        AND CAST(ss AS DOUBLE) / n
            - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0
    ) WHERE abs(z) > {ANOM_Z}
    """,
    doc="TS rolling-window anomaly detection: each event z-scored against "
    "its user's trailing 20-event window (exclusive), flagging |z| > 2.5 "
    "— the monitoring primitive for metric streams. Window state is "
    "exact integers (quantized sums and sums of squares), so the only "
    "doubles are the final fixed-order mean/variance/z ops — "
    "bit-identical cross-engine despite being a variance computation. "
    "One shuffle on user_id; the window never materializes more than "
    "its frame. Streaming twin: the same state (n, sum, sumsq) is the "
    "applyInPandasWithState accumulator shape in streaming/events.py.",
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    qx = F.round(F.col("value") * ANOM_Q).cast("bigint")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOM_WINDOW, -1)
    )
    w = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        qx.alias("qx"),
        F.count(qx).over(win).alias("n"),
        F.sum(qx).over(win).alias("s"),
        F.sum(qx * qx).over(win).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    z = (F.col("qx").cast("double") - mean) / F.sqrt(var)
    return (
        w.filter((F.col("n") >= ANOM_MIN_N) & (var > 0))
        .select("user_id", "event_id", "ts", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > ANOM_Z)
    )


@query(
    "ts_interval_join",
    oracle="""
    SELECT e.user_id AS e_user,
           e.event_id AS e_id,
           e.ts AS e_ts,
           c.event_id AS c_id,
           c.ts AS c_ts
    FROM events e
    JOIN events c
      ON e.user_id = c.user_id
     AND c.ts >= e.ts - INTERVAL 3600 SECOND
     AND c.ts < e.ts
    WHERE e.event_type = 'error' AND c.event_type = 'click'
    """,
    doc="EXT batch twin of the stream-stream interval join "
    "(streaming/events.py:error_click_interval_join, verified vs this "
    "shape in test_streaming.py): each error paired with the same "
    "user's clicks from the preceding hour. Equi-join on user_id with "
    "the time band as a post-join filter — one shuffle, no range "
    "explosion; the streaming form bounds the identical state with "
    "watermarks. Driver row here = the oracle gate for the streaming "
    "operator's join semantics (VERDICT r3 item 6).",
)
def ts_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.streaming.events import (
        error_click_interval_join,
    )

    e = load_table(spark, sf_dir, "events")
    return error_click_interval_join(
        e.filter(F.col("event_type") == "error"),
        e.filter(F.col("event_type") == "click"),
        window_sec=3600,
    )


# ---------------------------------------------------------------------------
# LTTB downsampling (largest-triangle-three-buckets, exact integer areas)
# ---------------------------------------------------------------------------

#: output points per series: first + (LTTB_T - 2) interior buckets + last.
LTTB_T = 10
_LTTB_B = LTTB_T - 2  # interior bucket count

# x in whole epoch seconds, y in milli-units: the scaled doubled-triangle
# area |(x_a·m − Σx)·(y_c − y_a) − (x_a − x_c)·(Σy − y_a·m)| stays far
# inside int64 (≤ ~10^14 here; the m multiplier replaces the float
# next-bucket AVERAGE with exact integer SUMS, valid because m is constant
# within a bucket's argmax).
_LTTB_XY = """
  CAST(floor(value * 1000) AS BIGINT) AS y,
  epoch_us(ts) // 1000000 AS x
"""

_LTTB_AREA = (
    "abs((r.x * nx.m - nx.sx) * ({c}.y - r.y) - (r.x - {c}.x) * (nx.sy - r.y * nx.m))"
)


def _lttb_step(s: int) -> str:
    """Selection step s (interior bucket s) as static CTE text.

    UNROLLED static steps with a plain min(STRUCT) argmax — neither
    WITH RECURSIVE nor list()/list_reduce: BOTH of those drop rows
    nondeterministically from DuckDB's parallel executor under
    threads>1 (measured: 1494-1500 rows across runs at threads=32,
    always 1500 at threads=1), and the oracle must be correct under the
    driver's settings. B is a compile-time constant, so unrolling is
    free — the same device as the kmeans oracle's Lloyd steps; the
    min(struct(-area, rn, ...)) hash aggregate gives max-area with
    earliest-rn tie-break, matching the Spark kernel's strict-> scan."""
    return f"""
    sel{s + 1} AS (
      SELECT user_id, best.rn AS rn, best.x AS x, best.y AS y FROM (
        SELECT i.user_id,
               min(struct_pack(
                 ma := -{_LTTB_AREA.format(c="i")},
                 rn := i.rn, x := i.x, y := i.y)) AS best
        FROM interior i
        JOIN sel{s} r ON r.user_id = i.user_id
        JOIN nxt nx ON nx.user_id = i.user_id AND nx.b = {s}
        WHERE i.b = {s}
        GROUP BY i.user_id
      )
    )"""


def lttb_kernel(pdf):
    """The LTTB selection over ONE series (columns user_id, event_id, ts,
    value, x, y) → (user_id, bucket, ts, event_id, value). Module-level
    so the streaming window monitor (streaming/events.py:
    lttb_window_monitor) folds the IDENTICAL selection — streaming ==
    batch by construction."""
    import numpy as np  # noqa: PLC0415

    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    n = len(pdf)
    if n <= LTTB_T:
        out = pdf.copy()
        out["bucket"] = range(n)
        return out[["user_id", "bucket", "ts", "event_id", "value"]]
    x = pdf["x"].to_numpy(dtype=np.int64)
    y = pdf["y"].to_numpy(dtype=np.int64)
    # interior rows rn=2..n-1 → 0-based idx 1..n-2; bucket via the
    # same integer formula as the oracle. np.int64 arithmetic is exact
    # at these magnitudes (areas ≤ ~10^14, bounds in the header note).
    interior = np.arange(1, n - 1, dtype=np.int64)
    bkt = (interior - 1) * _LTTB_B // (n - 2)
    buckets = [interior[bkt == b] for b in range(_LTTB_B)]
    sel = [0]
    for b in range(_LTTB_B):
        if b < _LTTB_B - 1:
            nb = buckets[b + 1]
            sx, sy, m = int(x[nb].sum()), int(y[nb].sum()), len(nb)
        else:
            sx, sy, m = int(x[n - 1]), int(y[n - 1]), 1
        a = sel[-1]
        cand = buckets[b]  # ascending → argmax's first-max = earliest
        areas = np.abs(
            (x[a] * m - sx) * (y[cand] - y[a]) - (x[a] - x[cand]) * (sy - y[a] * m)
        )
        sel.append(int(cand[np.argmax(areas)]))
    sel.append(n - 1)
    out = pdf.iloc[sel].copy()
    out["bucket"] = range(LTTB_T)
    return out[["user_id", "bucket", "ts", "event_id", "value"]]



@query(
    "ts_downsample_lttb",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             {_LTTB_XY},
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    big AS (SELECT * FROM ordered WHERE n > {LTTB_T}),
    interior AS (
      SELECT *, CAST(((rn - 2) * {_LTTB_B}) // (n - 2) AS INTEGER) AS b
      FROM big WHERE rn BETWEEN 2 AND n - 1
    ),
    nxt AS (
      -- stats of the bucket AFTER candidate-bucket b: interior bucket b+1,
      -- or the series' last point when b is the final interior bucket
      SELECT user_id, b - 1 AS b, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy, CAST(count(*) AS BIGINT) AS m
      FROM interior WHERE b >= 1 GROUP BY user_id, b - 1
      UNION ALL
      SELECT user_id, {_LTTB_B - 1} AS b, x, y, 1 FROM big WHERE rn = n
    ),
    sel0 AS (SELECT user_id, rn, x, y FROM big WHERE rn = 1),
    {",".join(_lttb_step(s) for s in range(_LTTB_B))},
    picked AS (
      {" UNION ALL ".join(f"SELECT user_id, {s} AS bucket, rn FROM sel{s}" for s in range(_LTTB_B + 1))}
      UNION ALL
      SELECT user_id, {LTTB_T - 1} AS bucket, rn FROM big WHERE rn = n
    )
    SELECT o.user_id, CAST(p.bucket AS INTEGER) AS bucket, o.ts, o.event_id, o.value
    FROM picked p JOIN ordered o ON o.user_id = p.user_id AND o.rn = p.rn
    UNION ALL
    SELECT user_id, CAST(rn - 1 AS INTEGER) AS bucket, ts, event_id, value
    FROM ordered WHERE n <= {LTTB_T}
    """,
    doc=f"TS largest-triangle-three-buckets downsampling to {LTTB_T} points "
    "per series (Steinarsson 2013 — the dashboard/preview decimation that "
    "preserves visual extremes): first and last points kept, each interior "
    "bucket contributes its max-triangle-area point against the previous "
    "selection and the next bucket's centroid. All areas are exact int64 "
    "(seconds × milli-value, next-bucket centroid replaced by sum-and-count "
    "cross-multiplication), so selection is bit-deterministic; ties keep "
    "the earliest point. Sequential per series → grouped-map Arrow kernel "
    "(same escape hatch as EWMA/FFD); the oracle replays the recurrence "
    "as statically UNROLLED per-bucket steps whose argmax is "
    "min(struct_pack(...)) — deliberately NOT a recursive CTE or "
    "list_reduce, both of which drop rows nondeterministically under "
    "DuckDB parallelism (see _lttb_step). Scale: state is one point per series, work "
    "is one pass over each series — series count is the parallelism.",
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("y"),
        # integer DIV, not /1e6: double division rounds-to-nearest and the
        # bigint cast then truncates, off by one at exact boundaries
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000").alias("x"),
    )
    n_part = max(8, spark.sparkContext.defaultParallelism // 2)
    return (
        e.repartition(n_part, "user_id")
        .groupBy("user_id")
        .applyInPandas(
            lttb_kernel,
            schema="user_id long, bucket int, ts timestamp, event_id long, value double",
        )
    )


# ---------------------------------------------------------------------------
# CUSUM change detection (one-sided, integer-exact, restart-on-alarm)
# ---------------------------------------------------------------------------

#: allowance k = mu/KDIV, alarm threshold h = HMUL*mu — per-series
#: self-calibrating (both derive from the series' own integer mean), the
#: standard parameterization for unlabeled drift monitoring.
CUSUM_KDIV = 10
CUSUM_HMUL = 3
#: rows per block of the alarm-segment recompute; bounds the dense-alarm
#: worst case of :func:`cusum_fold` to Θ(rows · block) element ops
_CUSUM_BLOCK = 4096


def cusum_fold(x, mu: int, s0: int = 0):
    """One-sided CUSUM over the in-order int64 milli-values ``x`` against
    target mean ``mu``, resumed from the carried sum ``s0``: s_i =
    max(0, s_(i-1) + x_i − mu − k), alarm and restart at 0 when s_i > h
    (k = mu // CUSUM_KDIV, h = CUSUM_HMUL·mu). Returns (alarm row
    indices, their s values, the carry after the last row). The kernel
    ``ts_cusum_alarm`` and the streaming ``cusum_alarms`` both run.

    Between alarms the clipped recurrence has the closed form s_i =
    max(0, P_i − min(−s0, min_(u<i) P_u)) (P = running sum of the
    drifts), so a segment is one cumsum and one running min, and the
    Python loop runs once per alarm. Each alarm's recompute is bounded
    to a ``_CUSUM_BLOCK``-row block, so a series where every row alarms
    stays linear in its length. The arithmetic is int64, the oracle's
    BIGINT."""
    import numpy as np  # noqa: PLC0415

    k, h = mu // CUSUM_KDIV, CUSUM_HMUL * mu
    d = np.asarray(x, dtype=np.int64) - (mu + k)
    idx, sq = [], []
    n_rows = len(d)
    for b0 in range(0, n_rows, _CUSUM_BLOCK):
        b1 = min(b0 + _CUSUM_BLOCK, n_rows)
        j = b0
        while j < b1:
            p = np.cumsum(d[j:b1])
            m = np.minimum.accumulate(np.concatenate(([np.int64(-s0)], p[:-1])))
            s = np.maximum(0, p - m)
            over = np.nonzero(s > h)[0]
            if not len(over):
                s0 = int(s[-1])
                break
            a = int(over[0])
            idx.append(j + a)
            sq.append(int(s[a]))
            s0 = 0
            j += a + 1
    return idx, sq, s0


@query(
    "ts_cusum_alarm",
    oracle=f"""
    WITH RECURSIVE ordered AS (
      SELECT user_id, event_id, ts, value,
             CAST(floor(value * 1000) AS BIGINT) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    mu AS (
      SELECT user_id, CAST(sum(x) // count(*) AS BIGINT) AS mu
      FROM ordered GROUP BY user_id
    ),
    rec AS (
      SELECT o.user_id, o.event_id, o.ts, o.value, o.rn,
             greatest(CAST(0 AS BIGINT), o.x - m.mu - m.mu // {CUSUM_KDIV}) AS s_raw,
             CASE WHEN greatest(CAST(0 AS BIGINT), o.x - m.mu - m.mu // {CUSUM_KDIV})
                       > {CUSUM_HMUL} * m.mu
                  THEN CAST(0 AS BIGINT)
                  ELSE greatest(CAST(0 AS BIGINT), o.x - m.mu - m.mu // {CUSUM_KDIV})
             END AS s_carry
      FROM ordered o JOIN mu m USING (user_id) WHERE o.rn = 1
      UNION ALL
      SELECT o.user_id, o.event_id, o.ts, o.value, o.rn,
             greatest(CAST(0 AS BIGINT),
                      r.s_carry + o.x - m.mu - m.mu // {CUSUM_KDIV}) AS s_raw,
             CASE WHEN greatest(CAST(0 AS BIGINT),
                                r.s_carry + o.x - m.mu - m.mu // {CUSUM_KDIV})
                       > {CUSUM_HMUL} * m.mu
                  THEN CAST(0 AS BIGINT)
                  ELSE greatest(CAST(0 AS BIGINT),
                                r.s_carry + o.x - m.mu - m.mu // {CUSUM_KDIV})
             END AS s_carry
      FROM rec r
      JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn + 1
      JOIN mu m ON m.user_id = r.user_id
    )
    SELECT user_id, event_id, ts, value, CAST(s_raw AS BIGINT) AS s_q
    FROM rec JOIN mu USING (user_id)
    WHERE s_raw > {CUSUM_HMUL} * mu
    """,
    doc="TS one-sided CUSUM drift detection per user series (Page 1954): "
    "s_i = max(0, s_(i-1) + x_i − μ − k) with alarm + restart when "
    "s_i > h; k = μ/10, h = 3μ self-calibrated from the series' own "
    "integer mean, x in exact milli-units — the whole recurrence is "
    "integer arithmetic, bit-portable by construction. Sequential per "
    "series → grouped-map Arrow kernel (same escape hatch as EWMA); the "
    "oracle replays it with the EWMA-style 1:1 recursive CTE (per-step "
    "equi-join — the recursion shape that IS parallel-safe in DuckDB, "
    "unlike the list_reduce argmax the LTTB oracle had to unroll; both "
    "are pinned by test_recursive_oracles_deterministic_under_parallelism).",
)
def ts_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("x"),
    )

    def cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        xs = pdf["x"].to_numpy(dtype="int64")
        keep, sq, _ = cusum_fold(xs, sum(xs.tolist()) // len(xs))
        out = pdf.iloc[keep].copy()
        out["s_q"] = sq
        return out[["user_id", "event_id", "ts", "value", "s_q"]]

    n_part = max(8, spark.sparkContext.defaultParallelism // 2)
    return (
        e.repartition(n_part, "user_id")
        .groupBy("user_id")
        .applyInPandas(
            cusum,
            schema="user_id long, event_id long, ts timestamp, value double, s_q long",
        )
    )


# ---------------------------------------------------------------------------
# OHLC bars (candlestick downsampling)
# ---------------------------------------------------------------------------


@query(
    "ts_ohlc_bars",
    oracle="""
    WITH b AS (
      SELECT event_type,
             TIMESTAMP '1970-01-01 00:00:00'
               + ((epoch_us(ts) // 600000000) * 600) * INTERVAL 1 SECOND AS bar_start,
             ts, event_id,
             CAST(floor(value * 1000) AS BIGINT) AS x
      FROM events
    ),
    o AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, bar_start
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, bar_start
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT event_type, bar_start,
           CAST(max(CASE WHEN rn_a = 1 THEN x END) AS BIGINT) AS open_m,
           CAST(max(x) AS BIGINT) AS high_m,
           CAST(min(x) AS BIGINT) AS low_m,
           CAST(max(CASE WHEN rn_d = 1 THEN x END) AS BIGINT) AS close_m,
           count(*) AS n_events
    FROM o GROUP BY 1, 2
    """,
    doc="TS OHLC candlestick bars per (event_type, 10-min bucket): "
    "open/close = value at the first/last (ts, event_id) of the bar, "
    "high/low = extrema, all in exact milli-units. Spark plan is ONE "
    "shuffle: a single hash aggregate where open/close are min_by/max_by "
    "over the composite (ts, event_id) order key — min_by/max_by support "
    "partial (map-side) aggregation, so at 100 TB each task reduces its "
    "split to one candidate row per open bar before the exchange. The "
    "oracle reaches the same rows via two row_number windows (DuckDB's "
    "arg_min on a composite key is the same computation).",
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.window("ts", "600 seconds").alias("w"),
        "ts",
        "event_id",
        F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("x"),
    )
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy("event_type", F.col("w.start").alias("bar_start"))
        .agg(
            F.min_by("x", key).alias("open_m"),
            F.max("x").alias("high_m"),
            F.min("x").alias("low_m"),
            F.max_by("x", key).alias("close_m"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (double exponential), integer-exact
# ---------------------------------------------------------------------------

#: alpha = 1/HOLT_ADIV (level gain), beta = 1/HOLT_BDIV (trend gain).
HOLT_ADIV = 4
HOLT_BDIV = 4
#: Offset guard making truncating integer DIV behave as floor division on
#: both engines (DuckDB `//` and Spark `div` truncate toward zero;
#: Python's `//` floors): (e + OFF) // d - OFF // d == floor(e / d) for
#: any e > -OFF. Forecast errors are bounded by the milli-value range
#: (|e| < ~2^31 on any realistic value column), far inside 2^42.
_HOLT_OFF = 1 << 42

_HOLT_D = f"((o.x - r.l - r.b + {_HOLT_OFF}) // {HOLT_ADIV} - {_HOLT_OFF // HOLT_ADIV})"


def holt_fold(xs: list[int], l: int = 0, b: int = 0, n: int = 0) -> tuple[int, int, int]:
    """Holt level/trend recurrence over the in-order milli-value ints
    ``xs``, resumed from (level, trend, observations folded so far); a
    series' first observation seeds the level with trend 0. Returns the
    new (l, b, n). The kernel ``ts_holt_forecast`` and the streaming
    ``holt_forecasts`` both run: one loop of Python int ops per call,
    since each step's floor divisions feed the next step's inputs and
    no closed form exists."""
    start = 0
    if n == 0 and xs:
        l, b, start = xs[0], 0, 1
    for x in xs[start:]:
        d = (x - l - b) // HOLT_ADIV  # Python // floors: matches the guard
        l = l + b + d
        b = b + d // HOLT_BDIV
    return l, b, n + len(xs)


@query(
    "ts_holt_forecast",
    bench=True,
    oracle=f"""
    WITH RECURSIVE ordered AS (
      SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    rec AS (
      SELECT user_id, rn, n, x AS l, CAST(0 AS BIGINT) AS b
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.n,
             r.l + r.b + {_HOLT_D} AS l,
             r.b + (({_HOLT_D}) + {_HOLT_OFF}) // {HOLT_BDIV}
                 - {_HOLT_OFF // HOLT_BDIV} AS b
      FROM rec r JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_obs,
           l AS level_m, b AS trend_m, l + b AS forecast_m
    FROM rec WHERE rn = n
    """,
    doc="TS Holt linear-trend (double exponential) smoothing per user "
    "series — the capacity-planning / rate-forecast primitive: level "
    "l_t = l + b + floor(err/4), trend b_t = b + floor(floor(err/4)/4) "
    "(alpha = beta = 1/4), x in exact milli-units, so the whole "
    "recurrence is integer arithmetic and the one-step-ahead forecast "
    "l + b is bit-portable. Truncating-vs-floor DIV divergence on "
    "negative errors is neutralized by the +2^42 offset guard (same "
    "trick as clustering's centroid DIV). Sequential per series -> "
    "grouped-map Arrow kernel (the EWMA/CUSUM escape hatch); the oracle "
    "replays it with the 1:1 recursive CTE. Scale: state is two bigints "
    "per series; series count is the parallelism.",
)
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("x"),
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        l, b, n = holt_fold(pdf["x"].tolist())
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_obs": [n],
                "level_m": [l],
                "trend_m": [b],
                "forecast_m": [l + b],
            }
        )

    n_part = max(8, spark.sparkContext.defaultParallelism // 2)
    return (
        e.repartition(n_part, "user_id")
        .groupBy("user_id")
        .applyInPandas(
            holt,
            schema="user_id long, n_obs long, level_m long, trend_m long, forecast_m long",
        )
    )


# ---------------------------------------------------------------------------
# Gap-fill to a regular grid + last-observation-carried-forward
# ---------------------------------------------------------------------------


def _hourly_locf_grid(spark: SparkSession, sf_dir: str):
    """Shared gap-fill substrate for ts_gapfill_locf and
    ts_resample_interp: the per-user hourly grid over the observed range
    LEFT-joined with each bucket's last observation (by (ts, event_id),
    exact milli-units). One spelling of the bucketing + grid generation
    for both resample twins."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").alias("bucket"),
        F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("x"),
    )
    hourly = e.groupBy("user_id", "bucket").agg(
        F.max_by("x", F.struct(F.col("ts"), F.col("event_id"))).alias("x_m")
    )
    rng = hourly.groupBy("user_id").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = rng.select(
        "user_id", F.explode(F.sequence("b0", "b1")).alias("bucket")
    )
    return grid.join(hourly, ["user_id", "bucket"], "left")


@query(
    "ts_gapfill_locf",
    oracle="""
    WITH hourly AS (
      SELECT user_id, bucket, CAST(max(CASE WHEN rn = 1 THEN x END) AS BIGINT) AS x_m
      FROM (
        SELECT user_id, epoch_us(ts) // 3600000000 AS bucket,
               CAST(floor(value * 1000) AS BIGINT) AS x,
               row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 3600000000
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      )
      GROUP BY 1, 2
    ),
    rng AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM hourly GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM rng),
    j AS (
      SELECT g.user_id, g.bucket, h.x_m
      FROM grid g LEFT JOIN hourly h ON h.user_id = g.user_id AND h.bucket = g.bucket
    )
    SELECT user_id,
           TIMESTAMP '1970-01-01 00:00:00' + (bucket * 3600) * INTERVAL 1 SECOND AS bucket_start,
           last_value(x_m IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_m,
           x_m IS NULL AS is_gap
    FROM j
    """,
    doc="TS gap-fill + LOCF (the hypertable resample: TimescaleDB's "
    "time_bucket_gapfill/locf semantics): per user, an hourly grid over "
    "the user's own observed range, the last observation in each bucket "
    "(by (ts, event_id), exact milli-units), empty buckets carried "
    "forward from the previous value. Plan: one partial-agg shuffle for "
    "the hourly rollup; the grid is GENERATED per user from the "
    "aggregated range (sequence + explode — rows never leave the "
    "bucket-count scale), and the fill is a per-user running last() "
    "window. No as-of join, no per-gap probing; state per user is one "
    "value. Grid size is bounded by span/bucket, independent of event "
    "volume.",
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _hourly_locf_grid(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.timestamp_seconds(F.col("bucket") * 3600)
        .cast("timestamp_ntz")
        .alias("bucket_start"),
        F.last("x_m", ignorenulls=True).over(w).alias("filled_m"),
        F.col("x_m").isNull().alias("is_gap"),
    )


@query(
    "ts_resample_interp",
    oracle="""
    WITH hourly AS (
      SELECT user_id, bucket, CAST(max(CASE WHEN rn = 1 THEN x END) AS BIGINT) AS x_m
      FROM (
        SELECT user_id, epoch_us(ts) // 3600000000 AS bucket,
               CAST(floor(value * 1000) AS BIGINT) AS x,
               row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 3600000000
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      )
      GROUP BY 1, 2
    ),
    rng AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM hourly GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM rng),
    j AS (
      SELECT g.user_id, g.bucket, h.x_m
      FROM grid g LEFT JOIN hourly h ON h.user_id = g.user_id AND h.bucket = g.bucket
    ),
    sides AS (
      SELECT user_id, bucket, x_m,
             last_value(x_m IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN x_m IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             first_value(x_m IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN x_m IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM j
    )
    SELECT user_id,
           TIMESTAMP '1970-01-01 00:00:00' + (bucket * 3600) * INTERVAL 1 SECOND AS bucket_start,
           CASE WHEN x_m IS NOT NULL THEN x_m
                ELSE pv + (nv - pv) * (bucket - pb) // (nb - pb)
           END AS interp_m,
           x_m IS NULL AS is_gap
    FROM sides
    """,
    doc="TS resample with exact linear interpolation: same per-user "
    "hourly grid as ts_gapfill_locf, but gaps take "
    "v0 + (v1-v0)*(g-t0) DIV (t1-t0) between the surrounding "
    "observations — all int64, and since Spark DIV and DuckDB // BOTH "
    "truncate toward zero, the signed slope needs no offset guard "
    "(unlike the Python-floor recurrences). Interior gaps only by "
    "construction: the grid spans each user's own observed range, so "
    "every gap has both neighbors. Two window passes (running last / "
    "reversed first, both keyed by user), no self-join, no as-of probe.",
)
def ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _hourly_locf_grid(spark, sf_dir)
    back = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the forward fill is expressed as a BACKWARD fill over descending
    # bucket order: Spark's (currentRow, unboundedFollowing) frame
    # recomputes the aggregate from scratch per row — O(n^2) per
    # partition, measured 19.7 s vs 1.05 s for the LOCF twin at sf0.1 —
    # while two running last() frames over opposite sorts are O(n) and
    # share one exchange (same partitioning, second sort only).
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_bucket = F.when(F.col("x_m").isNotNull(), F.col("bucket"))
    sides = j.select(
        "user_id",
        "bucket",
        "x_m",
        F.last("x_m", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_bucket, ignorenulls=True).over(back).alias("pb"),
        F.last("x_m", ignorenulls=True).over(fwd).alias("nv"),
        F.last(obs_bucket, ignorenulls=True).over(fwd).alias("nb"),
    )
    interp = F.when(F.col("x_m").isNotNull(), F.col("x_m")).otherwise(
        F.expr("pv + (nv - pv) * (bucket - pb) DIV (nb - pb)")
    )
    return sides.select(
        "user_id",
        F.timestamp_seconds(F.col("bucket") * 3600)
        .cast("timestamp_ntz")
        .alias("bucket_start"),
        interp.alias("interp_m"),
        F.col("x_m").isNull().alias("is_gap"),
    )


@query(
    "ts_forecast_backtest",
    oracle=f"""
    WITH RECURSIVE ordered AS (
      SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    rec AS (
      SELECT user_id, rn, n, x, x AS l, CAST(0 AS BIGINT) AS b,
             CAST(0 AS BIGINT) AS sae_naive, CAST(0 AS BIGINT) AS sae_holt
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.n, o.x,
             r.l + r.b + {_HOLT_D} AS l,
             r.b + (({_HOLT_D}) + {_HOLT_OFF}) // {HOLT_BDIV}
                 - {_HOLT_OFF // HOLT_BDIV} AS b,
             r.sae_naive + abs(o.x - r.x) AS sae_naive,
             r.sae_holt + abs(o.x - r.l - r.b) AS sae_holt
      FROM rec r JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_obs, sae_naive AS sae_naive_m,
           sae_holt AS sae_holt_m,
           CASE WHEN sae_holt < sae_naive THEN 'holt'
                WHEN sae_holt > sae_naive THEN 'naive'
                ELSE 'tie' END AS winner
    FROM rec WHERE rn = n
    """,
    doc="TS walk-forward forecast backtest: per user series, the summed "
    "absolute one-step-ahead error of the Holt recurrence (level+trend "
    "forecast made BEFORE seeing each point) against the naive "
    "last-value forecast — the model-selection report that says whether "
    "trend-smoothing earns its keep per series, in exact milli-units "
    "(the MASE numerator/denominator pair without the division). Same "
    "grouped-map Arrow kernel family as Holt/CUSUM; the oracle extends "
    "the Holt recursive CTE with two running error accumulators.",
)
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: PLC0415

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("x"),
    )

    def backtest(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        xs = [int(v) for v in pdf["x"]]
        l, b = xs[0], 0
        prev = xs[0]
        sae_naive = sae_holt = 0
        for x in xs[1:]:
            sae_naive += abs(x - prev)
            sae_holt += abs(x - l - b)  # forecast made before seeing x
            d = (x - l - b) // HOLT_ADIV
            l = l + b + d
            b = b + d // HOLT_BDIV
            prev = x
        winner = "holt" if sae_holt < sae_naive else ("naive" if sae_holt > sae_naive else "tie")
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_obs": [len(xs)],
                "sae_naive_m": [sae_naive],
                "sae_holt_m": [sae_holt],
                "winner": [winner],
            }
        )

    n_part = max(8, spark.sparkContext.defaultParallelism // 2)
    return (
        e.repartition(n_part, "user_id")
        .groupBy("user_id")
        .applyInPandas(
            backtest,
            schema="user_id long, n_obs long, sae_naive_m long, sae_holt_m long, winner string",
        )
    )


RATE_WINDOW_SEC = 86400  # 24 h — the synthetic corpus averages ~2 events/user/day
RATE_LIMIT = 6


@query(
    "ts_sliding_rate_flags",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec
      FROM events
    ),
    counted AS (
      SELECT user_id, event_id, ts,
             CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN {RATE_WINDOW_SEC - 1} PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS n_trailing
      FROM e
    )
    SELECT user_id, event_id, ts, n_trailing
    FROM counted WHERE n_trailing > {RATE_LIMIT}
    """,
    doc="TS sliding-rate limiter / burst detector: for every event, the "
    f"count of the user's events in the trailing {RATE_WINDOW_SEC} s "
    f"(inclusive), flagging those past {RATE_LIMIT} — the abuse/DDoS "
    "primitive. ONE range-frame window over epoch seconds: Spark's "
    "bounded-preceding RANGE frame slides both ends monotonically "
    "(O(n) per partition, unlike the unbounded-following trap), one "
    "shuffle on user_id, no self-join, no per-event probe. Ties at the "
    "same second count together on both engines (RANGE frame = peer "
    "rows included).",
)
def ts_sliding_rate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 1000000 AS BIGINT)").alias(
            "sec"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-(RATE_WINDOW_SEC - 1), Window.currentRow)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            "ts",
            F.count("*").over(w).cast("bigint").alias("n_trailing"),
        )
        .filter(F.col("n_trailing") > RATE_LIMIT)
    )


@query(
    "ts_seasonality_profile",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hod
      FROM events
    ),
    c AS (
      SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY 1
    )
    SELECT c.event_type, c.hod, c.n,
           c.n * 1000000 // t.total AS share_ppm,
           c.n * 1000000 // t.total - 1000000 // 24 AS dev_ppm
    FROM c JOIN t USING (event_type)
    """,
    doc="TS seasonality profile: per event type, the hour-of-day "
    "distribution (UTC epoch hours mod 24 — tz-free and exact) with "
    "each hour's share and its signed deviation from the uniform "
    "1/24 in integer ppm — the load-shaping / anomaly-baseline table. "
    "One partial-aggregated groupBy to (type x 24) rows, a type-level "
    "re-aggregate of that tiny table, and a broadcast-sized join back; "
    "the events table is scanned once.",
)
def ts_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CAST((unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000) % 24 AS BIGINT)"
        ).alias("hod"),
    )
    c = (
        e.groupBy("event_type", "hod")
        .agg(F.count("*").cast("bigint").alias("n"))
        .transform(consistent_materialize)  # (type x 24) rows: total and join reuse it
    )
    t = c.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("total"))
    return c.join(F.broadcast(t), "event_type").select(
        "event_type",
        "hod",
        "n",
        F.expr("n * 1000000 DIV total").alias("share_ppm"),
        F.expr("n * 1000000 DIV total - 1000000 DIV 24").alias("dev_ppm"),
    )


# ---------------------------------------------------------------------------
# STL-style seasonal-trend decomposition (trend / seasonal / residual)
# ---------------------------------------------------------------------------

#: centered moving-average half-width: trend over ±12 observed hourly
#: buckets (25-point window, one diurnal cycle).
DECOMP_HALF = 12

#: division guard for signed numerators (same pattern as _HOLT_OFF):
#: (e + OFF*n) DIV n - OFF == floor(e/n) for any e > -OFF*n. Both
#: engines TRUNCATE signed integer division toward zero (measured:
#: DuckDB BIGINT `-27965 // 4 = -6991`, same as Spark DIV — see
#: _HW_OFF), so the shift is not papering over an engine mismatch; it
#: pins FLOOR semantics so the result stays stable even against a
#: flooring dialect.
_DEC_OFF = 1 << 40


@query(
    "ts_seasonal_decompose",
    bench=True,  # r12 headline-set refresh (VERDICT r11 item 2)
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS h,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, h, x,
             CAST(sum(x) OVER w AS BIGINT) AS wsum,
             count(*) OVER w AS wcnt
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {DECOMP_HALF} PRECEDING
                            AND {DECOMP_HALF} FOLLOWING)
    ),
    dt AS (
      SELECT event_type, h, x,
             (wsum + {_DEC_OFF * (2 * DECOMP_HALF + 1)}) // {2 * DECOMP_HALF + 1}
               - {_DEC_OFF} AS trend_q,
             x - ((wsum + {_DEC_OFF * (2 * DECOMP_HALF + 1)}) // {2 * DECOMP_HALF + 1}
                  - {_DEC_OFF}) AS detrended
      FROM tr WHERE wcnt = {2 * DECOMP_HALF + 1}
    ),
    seas AS (
      SELECT event_type, h % 24 AS hod,
             (sum(detrended) + {_DEC_OFF} * count(*)) // count(*)
               - {_DEC_OFF} AS s_raw
      FROM dt GROUP BY 1, 2
    ),
    seas_c AS (
      SELECT event_type, hod,
             s_raw - ((sum(s_raw) OVER (PARTITION BY event_type)
                       + {_DEC_OFF} * count(*) OVER (PARTITION BY event_type))
                      // count(*) OVER (PARTITION BY event_type)
                      - {_DEC_OFF}) AS seasonal_q
      FROM seas
    )
    SELECT d.event_type, d.h, d.x,
           CAST(d.trend_q AS BIGINT) AS trend_q,
           CAST(s.seasonal_q AS BIGINT) AS seasonal_q,
           CAST(d.detrended - s.seasonal_q AS BIGINT) AS resid_q
    FROM dt d JOIN seas_c s
      ON s.event_type = d.event_type AND s.hod = d.h % 24
    """,
    doc="TS STL-style additive decomposition of the hourly load series "
    "per event type: trend = 25-point centered moving average (full "
    "windows only), seasonal = hour-of-day mean of the detrended "
    "series re-centered to sum ~0, residual = remainder — all in exact "
    "integer milli-units with the offset-shift making truncating DIV "
    "equal floor on signed numerators. Scale shape: the hourly rollup "
    "is the only data-sized stage (map-side combined); the trend "
    "window is a BOUNDED sliding frame (O(n) incremental, never the "
    "O(n²) following-frame trap), and the 24-row-per-type seasonal "
    "table joins back broadcast. Unlike ts_seasonality_profile (share "
    "of events per hour), this separates level shifts from diurnal "
    "shape on the value dimension.",
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return seasonalize(detrend_hourly(hourly_series(e)))


def hour_bucket(col: str = "ts"):
    """Epoch-hour bucket — the ONE derivation shared by hourly_series
    and the streaming fold's lateness filter (run_streaming_seasonal),
    so the rollup key and the watermark comparison can never diverge."""
    e = epoch_us(col)
    return ((e - e % 3_600_000_000) / 3_600_000_000).cast("bigint")


def hourly_series(events: DataFrame) -> DataFrame:
    """(event_type, h, x): the exact-integer hourly rollup both the batch
    decompose and its streaming twin fold (map-side combined — the only
    data-sized stage of the decomposition)."""
    return events.groupBy(
        "event_type",
        hour_bucket("ts").alias("h"),
    ).agg(
        F.sum(F.expr("CAST(floor(value * 1000) AS BIGINT)"))
        .cast("bigint")
        .alias("x")
    )


def detrend_hourly(hourly: DataFrame) -> DataFrame:
    """Trend + detrended columns for every hour with a FULL centered
    window (wcnt == 2*HALF+1 over the per-type ROWS frame). Shared by
    the batch query and the streaming twin's per-batch step: a row's
    frame is its ±HALF neighbors in h-order, so running this on any
    h-prefix of the series yields exactly the full-data rows whose 12th
    follower lies inside the prefix — the streaming watermark argument
    (streaming/events.py:run_streaming_seasonal)."""
    m = 2 * DECOMP_HALF + 1
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-DECOMP_HALF, DECOMP_HALF)
    )
    tr = hourly.select(
        "event_type",
        "h",
        "x",
        F.sum("x").over(w).cast("bigint").alias("wsum"),
        F.count("*").over(w).alias("wcnt"),
    )
    # ADVICE r5: the trend division was the one signed division left
    # unoffset — uniform _DEC_OFF shift like every other division here
    return tr.filter(F.col("wcnt") == m).select(
        "event_type",
        "h",
        "x",
        F.expr(f"(wsum + {_DEC_OFF * m}) DIV {m} - {_DEC_OFF}").alias("trend_q"),
        F.expr(f"x - ((wsum + {_DEC_OFF * m}) DIV {m} - {_DEC_OFF})").alias(
            "detrended"
        ),
    )


def seasonalize(dt: DataFrame) -> DataFrame:
    """Hour-of-day seasonal index (re-centered to sum ~0) over the
    detrended rows, joined back broadcast — the final decomposition
    columns. Shared by batch and the streaming finalize."""
    seas = dt.groupBy("event_type", (F.col("h") % 24).alias("hod")).agg(
        F.expr(
            f"(sum(detrended) + {_DEC_OFF} * count(*)) DIV count(*) - {_DEC_OFF}"
        ).alias("s_raw")
    )
    # the centered seasonal needs integer floor division of a window sum;
    # express it as one SQL fragment so both engines share the tree
    seas_c = seas.select(
        F.col("event_type").alias("s_et"),
        "hod",
        F.expr(
            f"s_raw - ((sum(s_raw) OVER (PARTITION BY event_type)"
            f" + {_DEC_OFF} * count(*) OVER (PARTITION BY event_type))"
            f" DIV count(*) OVER (PARTITION BY event_type) - {_DEC_OFF})"
        ).alias("seasonal_q"),
    )
    return (
        dt.join(
            F.broadcast(seas_c),
            (F.col("event_type") == F.col("s_et")) & (F.col("h") % 24 == F.col("hod")),
        )
        .select(
            "event_type",
            "h",
            "x",
            F.col("trend_q").cast("bigint").alias("trend_q"),
            F.col("seasonal_q").cast("bigint").alias("seasonal_q"),
            (F.col("detrended") - F.col("seasonal_q"))
            .cast("bigint")
            .alias("resid_q"),
        )
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (triple exponential)
# ---------------------------------------------------------------------------

#: alpha = beta = gamma = 1/4; seasonal period = 24 hourly buckets.
HW_DIV = 4
HW_PERIOD = 24

#: floor guard: DuckDB's `//` TRUNCATES toward zero on negative
#: numerators (measured on this build — the r5 gotcha note claiming it
#: floors is wrong), so every signed division in the oracle is
#: offset-shifted; the Spark side is Python `//`, which floors natively.
_HW_OFF = 1 << 42


def _hw_fd(e: str) -> str:
    return f"(({e}) + {_HW_OFF}) // {HW_DIV} - {_HW_OFF // HW_DIV}"


def holt_winters_fold(
    hs: list[int],
    xs: list[int],
    l: int = 0,
    b: int = 0,
    n: int = 0,
    s: list[int] | None = None,
):
    """Holt-Winters additive recurrence over in-order hourly buckets
    (hour ``hs``, milli-value ``xs``), resumed from (level, trend,
    buckets folded so far, seasonal vector); a series' first bucket
    seeds the level. Returns (l, b, n, s, fitted), ``fitted`` holding
    each bucket's one-step-ahead fit l + b + s[h % HW_PERIOD] made
    before seeing it (the first bucket fits itself). The seasonal index
    is the true hour of day, so gaps in the grid stay aligned. The
    kernel ``ts_holt_winters`` and the streaming
    ``holt_winters_monitor`` both run; Python ``//`` floors, which the
    oracle reproduces with the offset guard."""
    s = [0] * HW_PERIOD if s is None else list(s)
    fitted = []
    start = 0
    if n == 0 and xs:
        l, b, start = xs[0], 0, 1
        fitted.append(xs[0])
    for h, x in zip(hs[start:], xs[start:]):
        i = h % HW_PERIOD
        s_i = s[i]
        fitted.append(l + b + s_i)
        l_new = l + b + (x - l - b - s_i) // HW_DIV
        b = b + (l_new - l - b) // HW_DIV
        s[i] = s_i + (x - l_new - s_i) // HW_DIV
        l = l_new
    return l, b, n + len(xs), s, fitted


@query(
    "ts_holt_winters",
    bench=True,
    oracle=f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    ordered AS (
      SELECT event_type, h, x,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hourly
    ),
    rec AS (
      SELECT event_type, rn, x AS l, CAST(0 AS BIGINT) AS b,
             [{", ".join(["CAST(0 AS BIGINT)"] + ["0"] * (HW_PERIOD - 1))}] AS s,
             x, x AS fitted, CAST(0 AS BIGINT) AS err
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT event_type, rn,
             l_new,
             b + {_hw_fd("l_new - l - b")},
             list_transform(s, (v, i) -> CASE WHEN i = idx1
                            THEN s_i + {_hw_fd("x - l_new - s_i")} ELSE v END),
             x, fitted, x - fitted
      FROM (
        SELECT r.event_type, o.rn, o.x, r.l, r.b, r.s,
               CAST(o.h % {HW_PERIOD} AS INT) + 1 AS idx1,
               r.s[CAST(o.h % {HW_PERIOD} AS INT) + 1] AS s_i,
               r.l + r.b + r.s[CAST(o.h % {HW_PERIOD} AS INT) + 1] AS fitted,
               r.l + r.b
                 + {_hw_fd(f"o.x - r.l - r.b - r.s[CAST(o.h % {HW_PERIOD} AS INT) + 1]")}
                 AS l_new
        FROM rec r JOIN ordered o
          ON o.event_type = r.event_type AND o.rn = r.rn + 1
      )
    )
    SELECT event_type, CAST(rn AS BIGINT) AS rn, x,
           fitted AS fitted_q, err AS err_q
    FROM rec
    """,
    doc="TS Holt-Winters additive triple-exponential smoothing "
    "(alpha=beta=gamma=1/4, period 24) over each event type's hourly "
    "load series, in exact integer arithmetic: per-step one-step-ahead "
    "fit l+b+s[hod] and its error, with level/trend/seasonal-vector "
    "state updated by floor-divided gains (seasonal index = true "
    "hour-of-day, so gaps in the grid stay aligned). Spark runs the "
    "recurrence as an Arrow-batched applyInPandas over the hourly "
    "AGGREGATE (state per series = 26 ints; the data-sized stage is the "
    "map-side-combined rollup, the sequential part is bucket-count "
    "sized — same shape as ts_holt_forecast/ts_cusum_alarm). The "
    "DuckDB oracle replays it as a recursive CTE carrying the "
    "24-element seasonal LIST, offset-shifted because DuckDB's // "
    "truncates on negatives. Complements ts_seasonal_decompose "
    "(retrospective) with the ONLINE seasonal forecaster.",
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: PLC0415

    hourly = hourly_series(load_table(spark, sf_dir, "events"))

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h").reset_index(drop=True)
        xs = pdf["x"].tolist()
        *_, fitted = holt_winters_fold(pdf["h"].tolist(), xs)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "rn": range(1, len(xs) + 1),
                "x": xs,
                "fitted_q": fitted,
                "err_q": [x - f for x, f in zip(xs, fitted)],
            }
        )

    return hourly.groupBy("event_type").applyInPandas(
        hw, schema="event_type string, rn long, x long, fitted_q long, err_q long"
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (time-to-churn), portable quarter-bit log space
# ---------------------------------------------------------------------------


def churn_frontier(events: DataFrame) -> DataFrame:
    """(user_id, day): each user's churn day, the epoch day of their last
    event. Over a micro-batch it is the batch's frontier delta; the max
    of deltas is the frontier of their union."""
    return events.groupBy("user_id").agg(
        (
            (epoch_us(F.max("ts")) - epoch_us(F.max("ts")) % 86_400_000_000)
            / 86_400_000_000
        ).cast("bigint").alias("day")
    )


def km_curve(frontier: DataFrame) -> DataFrame:
    """Kaplan-Meier curve from the per-user churn frontier: per churn
    day the risk set, the churn count and the quarter-bit log-survival
    sum, NULL from the day S reaches 0 — the finisher ``ts_survival_km``
    and the streaming survival reader share."""
    days = frontier.groupBy("day").agg(F.count("*").alias("n_churn"))
    n_users = frontier.select(F.count("*").alias("n_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk = (
        days.crossJoin(F.broadcast(n_users))
        .select(
            "day",
            "n_churn",
            (
                F.col("n_users")
                - (F.sum("n_churn").over(w) - F.col("n_churn"))
            ).alias("n_risk"),
        )
    )
    alive = F.col("n_risk") > F.col("n_churn")
    terms = risk.select(
        "day",
        "n_risk",
        "n_churn",
        F.when(
            alive,
            ilog2_q4(F.col("n_risk") - F.col("n_churn")) - ilog2_q4(F.col("n_risk")),
        )
        .otherwise(0)
        .alias("term"),
    )
    return terms.select(
        "day",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("n_churn").cast("bigint").alias("n_churn"),
        F.when(alive, F.sum("term").over(w).cast("bigint"))
        .otherwise(F.lit(None))
        .alias("log_s_q4"),
    )


@query(
    "ts_survival_km",
    oracle=f"""
    WITH churn AS (
      SELECT user_id, epoch_us(max(ts)) // 86400000000 AS day
      FROM events GROUP BY 1
    ),
    days AS (
      SELECT day, count(*) AS n_churn FROM churn GROUP BY 1
    ),
    risk AS (
      SELECT day, n_churn,
             (SELECT count(*) FROM churn)
               - (CAST(sum(n_churn) OVER (ORDER BY day) AS BIGINT) - n_churn)
               AS n_risk
      FROM days
    ),
    terms AS (
      SELECT day, n_risk, n_churn,
             CASE WHEN n_risk > n_churn
                  THEN {DUCK_ILOG2_Q4.format(col="n_risk - n_churn")}
                       - {DUCK_ILOG2_Q4.format(col="n_risk")}
                  ELSE 0 END AS term
      FROM risk
    )
    SELECT day, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_churn AS BIGINT) AS n_churn,
           CASE WHEN n_risk > n_churn
                THEN CAST(sum(term) OVER (ORDER BY day) AS BIGINT)
                ELSE NULL END AS log_s_q4
    FROM terms
    """,
    doc="TS Kaplan-Meier survival curve for user churn (churn day = the "
    "user's last event day): per day, the risk set, churn count, and "
    "the log-survival Σ[log2(n_i - d_i) - log2(n_i)] accumulated in the "
    "repo's portable quarter-bit integer log (the sum-of-logs form of "
    "the KM product — the same overflow-free trick as the PMI and BM25 "
    "idf ops), NULL at the final collapse day where S reaches 0. Scale "
    "shape: the per-user max is the only data-sized stage (map-side "
    "combined); the day table is calendar-sized, so its global-ordered "
    "windows are trivially small at any SF.",
)
def ts_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    return km_curve(churn_frontier(load_table(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# out-of-order ingestion audit (watermark sizing evidence)
# ---------------------------------------------------------------------------


@query(
    "ts_ooo_audit",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY event_id) AS prev_us
      FROM events
    )
    SELECT user_id,
           count(prev_us) AS n_pairs,
           CAST(sum(CASE WHEN t_us < prev_us THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inversions,
           CAST(max(CASE WHEN t_us < prev_us THEN prev_us - t_us ELSE 0 END)
                AS BIGINT) AS max_lateness_us,
           CAST(1000000 * sum(CASE WHEN t_us < prev_us THEN 1 ELSE 0 END)
                // count(prev_us) AS BIGINT) AS ooo_ppm
    FROM seq WHERE prev_us IS NOT NULL
    GROUP BY 1
    """,
    doc="TS out-of-order ingestion audit: per user, adjacent event pairs "
    "in ARRIVAL order (event_id) whose event times invert, with the "
    "worst observed lateness — the measurement that sizes §2.H's "
    "streaming watermarks (a watermark below max_lateness_us drops "
    "rows; far above it bloats state). One shuffle on user_id, one "
    "lag window, one partial-agg rollup, one row per user (the "
    "generated data ingests in order, so the audit certifies ZERO "
    "inversions — per-user pair counts keep the contract non-vacuous). "
    "Exact integer microseconds and ppm throughout.",
)
def ts_ooo_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = e.select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("t_us"),
        F.lag(epoch_us("ts")).over(w).alias("prev_us"),
    ).filter(F.col("prev_us").isNotNull())
    inv = F.when(F.col("t_us") < F.col("prev_us"), 1).otherwise(0)
    late = F.when(
        F.col("t_us") < F.col("prev_us"), F.col("prev_us") - F.col("t_us")
    ).otherwise(0)
    return (
        seq.groupBy("user_id")
        .agg(
            F.count("prev_us").alias("n_pairs"),
            F.sum(inv).cast("bigint").alias("n_inversions"),
            F.max(late).cast("bigint").alias("max_lateness_us"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN t_us < prev_us THEN 1 ELSE 0 END)"
                " DIV count(prev_us) AS BIGINT)"
            ).alias("ooo_ppm"),
        )
    )
