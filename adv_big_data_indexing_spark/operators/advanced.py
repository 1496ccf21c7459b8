"""Advanced relational operators the reference lacks entirely (SURVEY
§2.E/§2.C "not present" lists): as-of join, interval/range join, pivot,
grouping sets, ordered string aggregation, arg-max, exact percentiles,
distribution windows, correlated-aggregate filters.

Where Spark has no single built-in (as-of, scalable range join), the
operator is a composition of DataFrame primitives with an explicit
100 TB strategy — never a Python UDF, never a cross join:

- **as-of join**: union both sides, one window pass carrying the last
  match forward (O(n log n) within partitions, one shuffle on the key).
  DuckDB verifies with its native ASOF JOIN.
- **range join**: time-bucket both sides and probe adjacent buckets
  (equi-join), then filter the exact interval — linear work instead of
  the O(n·m) broadcast-nested-loop Spark falls back to for pure
  inequality joins. DuckDB verifies with a plain range join.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from adv_big_data_indexing_spark.contract import query
from adv_big_data_indexing_spark.functions.exact import cents, dec, epoch_us
from adv_big_data_indexing_spark.sources.catalog import load_table, spread, table_rows

# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """For each left row, the right row with the greatest ``right_ts`` ≤
    ``left_ts`` within the same ``on`` key (left join semantics).

    Composition: tag and union both sides, then one window pass with
    ``last(..., ignorenulls)`` carries the most recent right values
    forward. Right side must be unique per (on, right_ts).
    """
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    )
    l = left.select(
        "*",
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        *[F.lit(None).cast(r.schema[f"__r_{c}"].dataType).alias(f"__r_{c}") for c in right_cols],
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    # right rows sort before left at equal ts → "at or before" semantics;
    # the trailing __r_* keys break ties among right rows sharing
    # (on, right_ts) deterministically (left rows carry NULLs there and
    # are order-insensitive among themselves — they all see the same
    # preceding rights), so last() picks the greatest right row instead
    # of a partition-order artifact
    w = (
        Window.partitionBy(on)
        .orderBy("__ts", "__tag", *[f"__r_{c}" for c in right_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_cols
        ],
    )
    return (
        carried.filter(F.col("__tag") == 1)
        .drop("__ts", "__tag", *[f"__r_{c}" for c in right_cols])
    )


@query(
    "ext_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS c_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    errors AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
    )
    SELECT e.event_id, e.user_id,
           CAST(epoch_us(e.ts) AS BIGINT) AS err_us,
           c.c_id AS click_event_id,
           CAST(epoch_us(c.ts) AS BIGINT) AS click_us
    FROM errors e ASOF LEFT JOIN clicks c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    bench=True,
    doc="EXT as-of join: each error event matched to the user's most recent "
    "click at/before it. Spark composition (union + window carry-forward) "
    "verified against DuckDB's native ASOF JOIN.",
)
def ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both sides come from the same table, so instead of the generic
    # asof_join (two scans + a click-dedup groupBy + union) this runs ONE
    # scan and ONE shuffle: tag rows, and let the window's sort order do
    # the per-(user, ts) max(event_id) dedup — at equal ts the clicks sort
    # by event_id, so last(ignorenulls) carries exactly the max one.
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        # clicks sort before errors at equal ts → "at or before" inclusive
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("__tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "__tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("__tag") == 0
    carried = tagged.select(
        "*",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_event_id"),
        F.last(F.when(is_click, F.col("ts")), ignorenulls=True).over(w).alias("click_ts"),
    )
    return carried.filter(F.col("__tag") == 1).select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("err_us"),
        "click_event_id",
        epoch_us(F.col("click_ts")).alias("click_us"),
    )


# ---------------------------------------------------------------------------
# range / interval join (bucketed)
# ---------------------------------------------------------------------------

RANGE_WINDOW_US = 60 * 1_000_000  # clicks within the 60 s before an error


@query(
    "ext_range_join",
    oracle=f"""
    SELECT e.event_id, e.user_id, count(c.event_id) AS n_recent_clicks
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = e.user_id
     AND epoch_us(c.ts) >= epoch_us(e.ts) - {RANGE_WINDOW_US}
     AND epoch_us(c.ts) < epoch_us(e.ts)
    GROUP BY 1, 2
    """,
    doc="EXT interval join: clicks in the 60 s before each error, per user. "
    "Spark path buckets both sides by minute and probes 2 adjacent buckets "
    "(equi-join + residual filter) — linear, shuffle on (user, bucket) — "
    "instead of the O(n·m) nested-loop a raw inequality join triggers. "
    "DuckDB verifies with the plain range join.",
)
def ext_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # exact integral bucketing (repo rule: bare double `/` + bigint cast
    # can round across a boundary): subtracting the modulus first makes
    # the numerator an exact multiple, so the double quotient is exact
    bucket = lambda c: (  # noqa: E731
        (epoch_us(c) - epoch_us(c) % RANGE_WINDOW_US) / RANGE_WINDOW_US
    ).cast("bigint")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_id"),
        epoch_us("ts").alias("c_us"),
        bucket(F.col("ts")).alias("c_bucket"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", epoch_us("ts").alias("e_us"), bucket(F.col("ts")).alias("e_bucket")
    )
    probes = errors.select(
        "*", F.explode(F.array(F.col("e_bucket") - 1, F.col("e_bucket"))).alias("probe")
    )
    joined = probes.join(
        clicks,
        (probes.user_id == clicks.c_user) & (probes.probe == clicks.c_bucket),
        "left",
    )
    in_window = F.col("c_id").isNotNull() & (
        (F.col("c_us") >= F.col("e_us") - RANGE_WINDOW_US) & (F.col("c_us") < F.col("e_us"))
    )
    return (
        joined.groupBy("event_id", "user_id")
        .agg(F.count(F.when(in_window, 1)).alias("n_recent_clicks"))
    )


# ---------------------------------------------------------------------------
# pivot / grouping sets / ordered aggregation
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIAS = {"1-URGENT": "urgent", "2-HIGH": "high", "3-MEDIUM": "medium",
                   "4-NOT SPECIFIED": "notspec", "5-LOW": "low"}


@query(
    "ext_pivot",
    oracle="""
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
           CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
           CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
           CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT)
               AS notspec,
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
    FROM orders GROUP BY o_orderstatus
    """,
    doc="EXT pivot: order counts status × priority. Explicit pivot values → "
    "single-pass aggregation, no value-discovery job.",
)
def ext_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renamed = piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(_PRIORITY_ALIAS[p]) for p in _PRIORITIES],
    )
    return renamed


@query(
    "ext_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="EXT explicit grouping sets (neither pure rollup nor cube).",
)
def ext_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "ext_listagg",
    oracle="""
    SELECT c_nationkey,
           string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY CAST(c_custkey AS VARCHAR)) AS members
    FROM customer WHERE c_custkey < 200 GROUP BY c_nationkey
    """,
    doc="EXT ordered string aggregation (listagg). Deterministic via "
    "explicit element ordering — collect_list alone is partition-order-"
    "dependent, so always sort before joining.",
)
def ext_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    return c.groupBy("c_nationkey").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col("c_custkey").cast("string"))), ","
        ).alias("members")
    )


@query(
    "ext_argmax",
    oracle="""
    SELECT o_custkey,
           arg_max(o_orderkey, o_totalprice) AS best_order,
           max(o_totalprice) AS best_price
    FROM orders GROUP BY o_custkey
    """,
    doc="EXT arg-max aggregate: each customer's highest-value order "
    "(o_totalprice is tie-free in this corpus — verified — so arg_max is "
    "deterministic; with ties, rank+filter with an explicit tie-break).",
)
def ext_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderkey, o_totalprice)").alias("best_order"),
        F.max("o_totalprice").alias("best_price"),
    )


@query(
    "ext_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="EXT exact percentiles (linear interpolation — both engines use the "
    "same index = p·(n−1) definition, verified bit-equal). DISTRIBUTED, "
    "AGGREGATE-FIRST: Spark's percentile() buffers every group member "
    "in one aggregation state (OOM-class at 100 TB); instead one map-"
    "side-combined groupBy(flag, qty) reduces the table to distinct "
    "value counts, global_running_sum prefixes them within each flag, "
    "and a distinct-value row covers 0-based positions "
    "[cum−cnt, cum−1] — the six boundary positions per group are "
    "picked by coverage and interpolated as v_lo + (v_hi − v_lo)·frac "
    "with frac an exact binary quarter, so the two double ops round "
    "identically to both engines' native quantile.",
)
def ext_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    per = l.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("cnt"))
    run = global_running_sum(
        per, ["l_quantity"], "cnt", "_cum", group_cols=("l_returnflag",)
    )
    stats = run.groupBy(F.col("l_returnflag").alias("_flag")).agg(
        F.max("_cum").alias("_gn"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )
    pos = run.join(F.broadcast(stats), F.col("l_returnflag") == F.col("_flag"))
    # index(p) = p·(n−1) = k + frac with k integer, frac ∈ {0,¼,½,¾};
    # this distinct-value row holds positions [cum−cnt, cum−1]
    picks = []
    for tag, num, den in (("25", 1, 4), ("50", 1, 2), ("75", 3, 4)):
        k = F.expr(f"({num} * (_gn - 1)) DIV {den}")
        frac = F.expr(f"CAST(({num} * (_gn - 1)) % {den} AS DOUBLE) / {den}")

        def covers(idx):
            return (idx >= F.col("_cum") - F.col("cnt")) & (idx < F.col("_cum"))

        lo = F.max(F.when(covers(k), F.col("l_quantity")))
        hi = F.max(F.when(covers(k + 1), F.col("l_quantity")))
        picks.append((tag, k, frac, lo, hi, covers))
    cond = F.lit(False)  # OR of the six boundary positions
    for _, k, _, _, _, covers in picks:
        cond = cond | covers(k) | covers(k + 1)
    boundary = pos.filter(cond)
    agg = boundary.groupBy("l_returnflag").agg(
        *[
            (lo + (F.coalesce(hi, lo) - lo) * F.max(frac)).alias(f"p{tag}")
            for tag, k, frac, lo, hi, _ in picks
        ],
        F.max("min_qty").alias("min_qty"),
        F.max("max_qty").alias("max_qty"),
    )
    return agg


@query(
    "ext_window_distribution",
    oracle="""
    SELECT c_custkey,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
    doc="EXT distribution windows: ntile/percent_rank/cume_dist over a "
    "tie-free ordering (exact integer-ratio doubles on both engines). "
    "Distributed: the tie-free total order makes all three pure "
    "functions of (global position, N), both from ordered_rank's one "
    "range shuffle — no whole-table single-partition window, no second "
    "pass for N; quartile = ntile_bucket(4), pct_rank = (rank-1)/(N-1), "
    "cume = rank/N, each a single correctly-rounded division.",
)
def ext_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = ordered_rank(c, ["c_acctbal", "c_custkey"])
    # percent_rank is 0.0 for a one-row frame in both engines, where
    # (rank-1)/(N-1) would be 0/0
    pct_rank = F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
        (F.col("_rank") - 1).cast("double") / (F.col("_n") - 1).cast("double")
    )
    return ranked.select(
        "c_custkey",
        ntile_bucket(4).alias("quartile"),
        pct_rank.alias("pct_rank"),
        (F.col("_rank").cast("double") / F.col("_n").cast("double")).alias("cume"),
    )


@query(
    "ext_correlated_above_avg",
    oracle="""
    WITH avgs AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
      FROM orders GROUP BY o_custkey
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, a.avg_price
    FROM orders o JOIN avgs a ON o.o_custkey = a.o_custkey
    WHERE o.o_totalprice > a.avg_price
    """,
    doc="EXT correlated-aggregate filter: orders above their own customer's "
    "average — the decorrelated join form Catalyst produces for the "
    "correlated subquery.",
)
def ext_correlated_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    avgs = o.groupBy(F.col("o_custkey").alias("a_custkey")).agg(
        (F.sum(dec("o_totalprice")).cast("double") / F.count("*")).alias("avg_price")
    )
    return (
        o.join(avgs, o.o_custkey == avgs.a_custkey)
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "avg_price")
    )


@query(
    "ext_scalar_regex",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           string_split(c_name, '#')[1] AS name_head,
           reverse(c_mktsegment) AS seg_rev,
           left(c_mktsegment, 3) AS seg3,
           repeat('*', CAST(c_nationkey % 4 AS INTEGER)) AS stars,
           (strpos(c_name, '9') > 0) AS has_nine
    FROM customer WHERE c_custkey < 500
    """,
    doc="EXT regex/string coverage: extract, split+index, reverse, left, "
    "repeat, containment.",
)
def ext_scalar_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.split(F.col("c_name"), "#").getItem(0).alias("name_head"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.substring("c_mktsegment", 1, 3).alias("seg3"),
        F.repeat(F.lit("*"), (F.col("c_nationkey") % 4).cast("int")).alias("stars"),
        (F.instr(F.col("c_name"), "9") > 0).alias("has_nine"),
    )


# ---------------------------------------------------------------------------
# array ops / conditionals / moment statistics
# ---------------------------------------------------------------------------


@query(
    "ext_array_ops",
    oracle="""
    WITH t AS (
      SELECT p_partkey, regexp_split_to_array(p_name, ' ') AS name_toks,
             regexp_split_to_array(lower(p_type), '') AS type_chars
      FROM part WHERE p_partkey < 500
    )
    SELECT p_partkey,
           CAST(len(name_toks) AS INTEGER) AS n_toks,
           array_to_string(list_sort(list_distinct(name_toks)), '|') AS toks_sorted,
           coalesce(
               array_to_string(list_sort(list_intersect(name_toks, ['red', 'blue', 'small'])), '|'),
               '') AS color_hits,
           array_to_string(list_sort(name_toks || ['zz']), '|') AS joined
    FROM t
    """,
    doc="EXT array function coverage: split, distinct, sort, intersect, "
    "concat, join — per-row array algebra entirely in codegen. Array results "
    "are serialized with '|' joins so the driver's pandas canonicalizer (which "
    "cannot hash list cells) sees scalar columns on both engines.",
)
def ext_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    toks = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        F.size(toks).alias("n_toks"),
        F.array_join(F.array_sort(F.array_distinct(toks)), "|").alias("toks_sorted"),
        F.array_join(
            F.array_sort(
                F.array_intersect(toks, F.array(F.lit("red"), F.lit("blue"), F.lit("small")))
            ),
            "|",
        ).alias("color_hits"),
        F.array_join(F.array_sort(F.concat(toks, F.array(F.lit("zz")))), "|").alias("joined"),
    )


@query(
    "ext_conditionals",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 400000 THEN 'high'
                WHEN o_totalprice > 200000 THEN 'mid' ELSE 'low' END AS bucket,
           nullif(o_orderstatus, 'O') AS status_or_null,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
           greatest(CAST(o_custkey % 7 AS BIGINT), CAST(o_orderkey % 5 AS BIGINT)) AS g,
           least(CAST(o_custkey % 7 AS BIGINT), CAST(o_orderkey % 5 AS BIGINT)) AS l
    FROM orders WHERE o_orderkey < 2000
    """,
    doc="EXT conditional-expression coverage: CASE ladders, nullif, "
    "coalesce, greatest/least.",
)
def ext_conditionals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 400000, "high")
        .when(F.col("o_totalprice") > 200000, "mid")
        .otherwise("low")
        .alias("bucket"),
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("OPEN")).alias("status_label"),
        F.greatest(F.col("o_custkey") % 7, F.col("o_orderkey") % 5).alias("g"),
        F.least(F.col("o_custkey") % 7, F.col("o_orderkey") % 5).alias("l"),
    )


@query(
    "ext_stats_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq2,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sxy,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sp,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS sp2
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(sq AS DOUBLE) / n AS mean_qty,
           CAST(sq2 AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n) * (CAST(sq AS DOUBLE) / n) AS var_qty,
           (CAST(sxy AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n) * (CAST(sp AS DOUBLE) / n))
             / sqrt((CAST(sq2 AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n) * (CAST(sq AS DOUBLE) / n))
                    * (CAST(sp2 AS DOUBLE) / n - (CAST(sp AS DOUBLE) / n) * (CAST(sp AS DOUBLE) / n))) AS corr_qty_price
    FROM s
    """,
    doc="EXT moment statistics (variance, correlation) from EXACT integer/"
    "decimal power sums with a fixed double-op order — deterministic across "
    "engines and partitionings, unlike streaming Welford updates whose "
    "result depends on merge order. The exact-sums form is also the "
    "map-side-combinable one (one pass, tiny state).",
)
def ext_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = spread(load_table(spark, sf_dir, "lineitem"))
    qi = F.col("l_quantity").cast("bigint")
    pd_ = dec("l_extendedprice")
    s = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qi).alias("sq"),
        F.sum(qi * qi).alias("sq2"),
        F.sum(qi * pd_).cast("decimal(38,2)").alias("sxy"),
        F.sum(pd_).cast("decimal(38,2)").alias("sp"),
        F.sum(pd_ * pd_).cast("decimal(38,4)").alias("sp2"),
    )
    n = F.col("n")
    mq = F.col("sq").cast("double") / n
    mp = F.col("sp").cast("double") / n
    vq = F.col("sq2").cast("double") / n - mq * mq
    vp = F.col("sp2").cast("double") / n - mp * mp
    cov = F.col("sxy").cast("double") / n - mq * mp
    return s.select(
        "l_returnflag",
        "n",
        mq.alias("mean_qty"),
        vq.alias("var_qty"),
        (cov / F.sqrt(vq * vp)).alias("corr_qty_price"),
    )


@query(
    "ext_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
           CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
           count(*) AS n
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="EXT grouping indicators: distinguish 'NULL because rolled up' "
    "from 'NULL in the data' — required for correct rollup consumers.",
)
def ext_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        F.count("*").alias("n"),
    ).select("o_orderstatus", "o_orderpriority", "g_status", "g_prio", "n")


@query(
    "ext_scalar_date_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
           CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS quarter_later,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS woy,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr
    FROM orders WHERE o_orderkey < 1000
    """,
    doc="EXT date arithmetic: interval add, month add (end-of-month "
    "clamped identically in both engines), last_day, day-of-week "
    "(normalized to Spark's 1=Sunday), ISO week, quarter.",
)
def ext_scalar_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.add_months("o_orderdate", 3).cast("timestamp_ntz").alias("quarter_later"),
        F.last_day("o_orderdate").alias("month_end"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.weekofyear("o_orderdate").alias("woy"),
        F.quarter("o_orderdate").alias("qtr"),
    )


@query(
    "ext_posexplode",
    oracle="""
    WITH t AS (SELECT p_partkey, regexp_split_to_array(p_name, ' ') AS toks
               FROM part WHERE p_partkey < 300)
    SELECT p_partkey,
           CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos,
           unnest(toks) AS tok
    FROM t
    """,
    doc="EXT positional explode: array element + 0-based ordinal "
    "(posexplode ≡ unnest WITH ORDINALITY).",
)
def ext_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    return p.select(
        "p_partkey", F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "tok")
    )


@query(
    "ext_union_by_name",
    oracle="""
    SELECT * FROM
      (SELECT c_custkey AS entity_key, c_acctbal AS balance, c_mktsegment AS segment
       FROM customer WHERE c_custkey < 50)
    UNION ALL BY NAME
      (SELECT s_suppkey AS entity_key, s_acctbal AS balance
       FROM supplier WHERE s_suppkey < 50)
    """,
    doc="EXT union-by-name with missing columns (schema evolution's "
    "bread-and-butter: late columns null-fill).",
)
def ext_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 50).select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_acctbal").alias("balance"),
        F.col("c_mktsegment").alias("segment"),
    )
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 50).select(
        F.col("s_suppkey").alias("entity_key"), F.col("s_acctbal").alias("balance")
    )
    return c.unionByName(s, allowMissingColumns=True)


@query(
    "ext_window_values",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER w AS latest_so_far,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="EXT value windows: first/last/nth over an explicit running frame "
    "(deterministic ordering, frame-sensitive last_value semantics).",
)
def ext_window_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("latest_so_far"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


# ---------------------------------------------------------------------------
# similarity join (entity resolution): blocking + edit-distance verify
# ---------------------------------------------------------------------------

FUZZY_MAX_DIST = 3

#: corpus-size cap for the exact (brand, size) block join. The block key
#: is fixed-cardinality (25 brands × 50 sizes), so exact candidates grow
#: Θ(n²/1250) — 158k / 16M / 1.6G at sf0.1/sf1/sf10 (the r9 sf10 sweep
#: paid 810 s). Sized so every calibration SF (≤ sf1 = 200k parts) stays
#: on the exact path; anything bigger routes to positional-token
#: blocking, whose recall ext_fuzzy_join_token_recall prices.
MAX_EXACT_FUZZY_PARTS = 250_000


def _fuzzy_token_candidates(p: DataFrame) -> DataFrame:
    """(key_a, key_b, name_a, name_b) candidate pairs by positional-token
    blocking: same (brand, size) block AND the same word at the same
    name position. The blocking key (brand, size, pos, word) has
    cardinality Θ(blocks × positions × vocabulary) — it GROWS with the
    corpus vocabulary, unlike the fixed 1250-key block join, so bucket
    sizes (and candidate volume) stay Θ(n/vocab) per key instead of
    Θ(n/1250). Candidates are a SUBSET of the exact block join's: a
    qualifying pair that shares no positional word is missed — the
    recall contract measures exactly that (1.0 at every calibration SF;
    sf0.1 measured: 35,232 candidates vs the block join's 157,628 with
    all 7,781 qualifying pairs hit). Length banding (|Δlen| ≤ K) is
    applied in the join condition — implied by ED ≤ K, so it prunes
    candidates without touching results."""
    w = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("key"),
        F.col("p_name").alias("name"),
        F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "word"),
    )
    a = w.select(
        "brand", "size", "pos", "word",
        F.col("key").alias("key_a"), F.col("name").alias("name_a"),
    )
    b = w.select(
        "brand", "size", "pos", "word",
        F.col("key").alias("key_b"), F.col("name").alias("name_b"),
    )
    return (
        a.join(b, ["brand", "size", "pos", "word"])
        .filter(
            (F.col("key_a") < F.col("key_b"))
            & (F.col("name_a") != F.col("name_b"))
            & (
                F.abs(F.length("name_a") - F.length("name_b"))
                <= F.lit(FUZZY_MAX_DIST)
            )
        )
        .select("key_a", "key_b", "name_a", "name_b")
        .distinct()
    )


def _fuzzy_block_pairs(p: DataFrame) -> DataFrame:
    """(key_a, key_b, name_a, name_b) EXACT candidate pairs: every
    same-(brand, size) pair, ordered keys, distinct names — the ground
    truth the recall contract prices the routed blocking against, so it
    is single-sourced here and shared by ext_fuzzy_join_levenshtein's
    below-cap path and ext_fuzzy_join_token_recall (code-review r10)."""
    a = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
    )
    return a.join(b, ["brand", "size"]).filter(
        (F.col("key_a") < F.col("key_b")) & (F.col("name_a") != F.col("name_b"))
    )


def _fuzzy_verify(cand: DataFrame) -> DataFrame:
    """Edit-distance verify over candidate pairs (shared by both routes)."""
    return cand.select(
        "key_a",
        "key_b",
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("bigint").alias("edit_dist"),
    ).filter(F.col("edit_dist") <= FUZZY_MAX_DIST)


@query(
    "ext_fuzzy_join_levenshtein",
    oracle=f"""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE a.p_name <> b.p_name
      AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    """,
    doc="EXT similarity (fuzzy) join — the entity-resolution shape: "
    "blocking keys (brand, size) restrict candidates to same-block "
    "pairs; the edit-distance verify (integer, bit-identical across "
    "engines) runs only inside blocks, as a perfectly-parallel "
    "spillable equi-join (AQE splits skewed blocks). SCALE HONESTY "
    "(r9, measured): on this corpus the ANSWER ITSELF is Θ(n²/c) — "
    "qualifying pairs are 7.8k / 778.1k / ~78M at sf0.1/sf1/sf10, an "
    "exact n² progression — so any exact algorithm is output-bound "
    "quadratic here; the r9 PassJoin segment-pigeonhole experiment "
    "produced 6.7M distinct candidates at sf1 vs the block join's 16M "
    "(bounded name vocabulary keeps segment buckets dense) and ran "
    "SLOWER at every SF, so the simple join stays below the cap. r10: "
    "above MAX_EXACT_FUZZY_PARTS the operator ROUTES to positional-"
    "token blocking (see _fuzzy_token_candidates) — a key whose "
    "cardinality grows with the corpus vocabulary — with the recall "
    "priced by ext_fuzzy_join_token_recall (the ns_dedup_lsh_pair_"
    "recall pattern). Below the cap (every calibration SF) the plan is "
    "unchanged and exact.",
)
def ext_fuzzy_join_levenshtein(
    spark: SparkSession, sf_dir: str, exact_cap: int | None = None
) -> DataFrame:
    cap = MAX_EXACT_FUZZY_PARTS if exact_cap is None else exact_cap
    p = load_table(spark, sf_dir, "part")
    if table_rows(sf_dir, "part") > cap:
        return _fuzzy_verify(_fuzzy_token_candidates(p))
    return _fuzzy_verify(_fuzzy_block_pairs(p))


_DUCK_FUZZY_SLICE = f"""
    ps AS (
      SELECT * FROM part
      WHERE p_partkey % (SELECT GREATEST(1, CAST(CEIL(count(*)
              / {MAX_EXACT_FUZZY_PARTS}.0) AS BIGINT)) FROM part) = 0
    )"""


@query(
    "ext_fuzzy_join_token_recall",
    oracle=f"""
    WITH {_DUCK_FUZZY_SLICE},
    w AS (
      SELECT p_partkey, p_brand, p_size, p_name,
             unnest(string_split(p_name, ' ')) AS word,
             generate_subscripts(string_split(p_name, ' '), 1) AS pos
      FROM ps
    ),
    cand AS (
      SELECT DISTINCT a.p_partkey AS key_a, b.p_partkey AS key_b,
             a.p_name AS name_a, b.p_name AS name_b
      FROM w a JOIN w b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.pos = b.pos AND a.word = b.word
       AND a.p_partkey < b.p_partkey
      WHERE a.p_name <> b.p_name
        AND abs(len(a.p_name) - len(b.p_name)) <= {FUZZY_MAX_DIST}
    ),
    routed AS (
      SELECT key_a, key_b FROM cand
      WHERE levenshtein(name_a, name_b) <= {FUZZY_MAX_DIST}
    ),
    exact AS (
      SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
      FROM ps a JOIN ps b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      WHERE a.p_name <> b.p_name
        AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(r.key_a) AS BIGINT) AS n_hit,
           CASE WHEN count(*) = 0 THEN NULL
                ELSE CAST(count(r.key_a) AS DOUBLE) / count(*) END AS recall
    FROM exact e LEFT JOIN routed r
      ON e.key_a = r.key_a AND e.key_b = r.key_b
    """,
    doc="EXT fuzzy-join pair-recall contract (NEW r10, the "
    "ns_dedup_lsh_pair_recall pattern): the positional-token-blocked "
    "pair set measured against the exact (brand, size) block join's "
    "qualifying pairs — the measurement that justifies "
    "ext_fuzzy_join_levenshtein routing above MAX_EXACT_FUZZY_PARTS. "
    "Both sides are deterministic (integer levenshtein), so the recall "
    "fraction reproduces bit-for-bit in the oracle. The ground-truth "
    "side is the exact quadratic block join, so above the cap the "
    "contract measures on a DETERMINISTIC 1-in-m part slice "
    "(m = ceil(n/cap), p_partkey % m — mirrored in the oracle, exactly "
    "the r9 LSH-recall slicing); below the cap m = 1 and the slice is "
    "the whole corpus, so calibration-SF rows are exact whole-corpus "
    "recall (sf0.1 measured: 7,781/7,781 = 1.0 — every qualifying pair "
    "on this corpus shares a positional word; the contract exists to "
    "DETECT when a corpus stops satisfying that).",
)
def ext_fuzzy_join_token_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table_rows(sf_dir, "part")
    m = max(1, -(-n // MAX_EXACT_FUZZY_PARTS))  # ceil div
    p = load_table(spark, sf_dir, "part")
    if m > 1:
        p = p.filter(F.col("p_partkey") % m == 0)
    routed = _fuzzy_verify(_fuzzy_token_candidates(p)).select(
        F.col("key_a").alias("r_key_a"), F.col("key_b").alias("r_key_b")
    )
    exact = _fuzzy_verify(_fuzzy_block_pairs(p)).select("key_a", "key_b")
    joined = exact.join(
        routed,
        (F.col("key_a") == F.col("r_key_a")) & (F.col("key_b") == F.col("r_key_b")),
        "left",
    )
    # zero-exact guard (ADVICE r10): on a degenerate slice with no
    # qualifying pairs, 0.0/0 is NaN in Spark but NULL in DuckDB —
    # both engines now agree on NULL for the empty-exact edge
    return joined.agg(
        F.count("*").alias("n_exact"),
        F.count("r_key_a").alias("n_hit"),
        F.when(
            F.count("*") == 0, F.lit(None).cast("double")
        )
        .otherwise(F.count("r_key_a").cast("double") / F.count("*"))
        .alias("recall"),
    )


@query(
    "ext_unpivot",
    oracle="""
    SELECT c_custkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT c_custkey,
             unnest(['acctbal', 'nationkey']) AS metric,
             unnest([c_acctbal, CAST(c_nationkey AS DOUBLE)]) AS val
      FROM customer
    )
    WHERE c_custkey < 100
    """,
    doc="EXT unpivot (melt) — wide→long reshape, the inverse of ext_pivot: "
    "each customer row becomes one row per metric via stack(), a "
    "Generate with no shuffle at all (and the key filter still pushes "
    "below it to the scan). The reshape feeding any metric-as-rows "
    "analytics store.",
)
def ext_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return c.selectExpr(
        "c_custkey",
        "stack(2, 'acctbal', c_acctbal,"
        " 'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, val)",
    )


# ---------------------------------------------------------------------------
# salted hot-key join (skew mitigation as an explicit, testable rewrite)
# ---------------------------------------------------------------------------

#: replication factor for the dim side: each hot key spreads over this
#: many reducers. Sized to the executor count at real scale.
SALT_BUCKETS = 16

#: tiny priority→weight dimension (the classic hot-key join: every fact
#: row matches one of five dim rows). VALUES-expressible so the oracle
#: sees the identical dim.
PRIORITY_WEIGHTS = [
    ("1-URGENT", 9),
    ("2-HIGH", 7),
    ("3-MEDIUM", 5),
    ("4-NOT SPECIFIED", 3),
    ("5-LOW", 1),
]


@query(
    "ext_skew_salted_join",
    oracle=f"""
    WITH dim(o_orderpriority, expedite_weight) AS (
      VALUES {", ".join(f"('{p}', {w})" for p, w in PRIORITY_WEIGHTS)}
    )
    SELECT o.o_orderpriority, d.expedite_weight,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)
                    * d.expedite_weight) AS DOUBLE) / 100 AS weighted_revenue
    FROM orders o JOIN dim d USING (o_orderpriority)
    GROUP BY 1, 2
    """,
    doc="EXT salted hot-key join: a 150k-row fact table joins a 5-row dim "
    "on a 5-value key — the maximal-skew shape where a shuffle join puts "
    "20% of the table on one reducer. The rewrite: replicate each dim "
    "row SALT_BUCKETS times, tag each fact row with a deterministic "
    "salt = pmod(hash(o_orderkey), SALT_BUCKETS), join on (key, salt) — "
    "each hot key now spreads over SALT_BUCKETS reducers, and the "
    "result is provably identical to the unsalted join (the oracle IS "
    "the unsalted join). Forced to shuffle_merge via hint so the salt "
    "does real work here; in production the same rewrite rescues any "
    "join AQE's skew handling can't split (e.g. under a required "
    "child distribution). Money stays integer cents so the weighted "
    "sum is exact.",
)
def ext_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = spark.createDataFrame(
        PRIORITY_WEIGHTS, "o_orderpriority string, expedite_weight int"
    )
    salted_dim = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
    )
    fact = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderkey", cents("o_totalprice").alias("pc"))
        .withColumn("salt", F.pmod(F.hash("o_orderkey"), F.lit(SALT_BUCKETS)))
    )
    joined = fact.hint("shuffle_merge").join(
        salted_dim, ["o_orderpriority", "salt"]
    )
    return joined.groupBy("o_orderpriority", "expedite_weight").agg(
        F.count("*").alias("n_orders"),
        (
            F.sum(F.col("pc") * F.col("expedite_weight")).cast("double") / 100
        ).alias("weighted_revenue"),
    )


@query(
    "ext_skew_profile",
    oracle="""
    WITH k AS (
      SELECT o_orderpriority AS key, count(*) AS n
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys,
             CAST(max(n) AS BIGINT) AS max_n
      FROM k
    )
    SELECT k.key,
           CAST(k.n AS BIGINT) AS n,
           CAST(k.n AS DOUBLE) / t.n_rows AS share,
           CAST(k.n * t.n_keys AS DOUBLE) / t.n_rows AS skew_factor,
           k.n = t.max_n AS is_hottest
    FROM k CROSS JOIN tot t
    ORDER BY n DESC, key LIMIT 20
    """,
    doc="EXT join-key skew profiler — the diagnostic run BEFORE choosing a "
    "join strategy: per-key row count, share of table, and skew factor "
    "(count ÷ mean-per-key; 1.0 = uniform, ≫1 = hot key that will "
    "straggle a shuffle join). Pairs with ext_skew_salted_join (the "
    "FIX this detects the need for): profile ≫1 → salt or AQE-split "
    "that key. One map-side-combined aggregate + a broadcast of the "
    "3-number total — the profile costs one scan at any table size, "
    "top-20 via TakeOrderedAndProject.",
)
def ext_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = o.groupBy(F.col("o_orderpriority").alias("key")).agg(F.count("*").alias("n"))
    tot = k.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("n").cast("bigint").alias("max_n"),
    )
    prof = k.crossJoin(F.broadcast(tot)).select(
        "key",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / F.col("n_rows")).alias("share"),
        ((F.col("n") * F.col("n_keys")).cast("double") / F.col("n_rows")).alias(
            "skew_factor"
        ),
        (F.col("n") == F.col("max_n")).alias("is_hottest"),
    )
    return prof.orderBy(F.col("n").desc(), "key").limit(20)


import math as _math

#: floor(log10(1 + 1/d) * 1e6) per leading digit — computed once here and
#: embedded as identical literals in both engines, so parity is by
#: construction (no engine evaluates a log).
BENFORD_PPM = {d: int(_math.floor(_math.log10(1 + 1 / d) * 1_000_000)) for d in range(1, 10)}

_BENFORD_VALUES = ", ".join(f"({d}, {p})" for d, p in BENFORD_PPM.items())


@query(
    "ext_benford_audit",
    oracle=f"""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM lineitem
    ),
    agg AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY digit),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM agg),
    expected AS (SELECT * FROM (VALUES {_BENFORD_VALUES}) AS e(digit, exp_ppm))
    SELECT a.digit, a.n,
           a.n * 1000000 // t.total AS obs_ppm,
           CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
           a.n * 1000000 // t.total - e.exp_ppm AS dev_ppm
    FROM agg a JOIN expected e ON e.digit = a.digit CROSS JOIN t
    """,
    doc="EXT Benford first-digit audit over lineitem prices — the "
    "fabricated-data / ETL-corruption screen: observed leading-digit "
    "distribution (exact integer ppm) against Benford's law, expected "
    "values embedded as shared integer literals so neither engine "
    "evaluates a logarithm. Digit extraction is string-exact on the "
    "integer cents (no float log10 at bucket boundaries). One partial "
    "aggregate over 9 keys + a 1-row broadcast total: the audit costs "
    "one scan at any table size.",
)
def ext_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        F.substring(
            F.expr("CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) AS STRING)"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    # 9-row checkpoint: both the total and the join side derive from it,
    # so the table scan runs exactly once
    agg = (
        c.groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
        .transform(consistent_materialize)
    )
    total = agg.agg(F.sum("n").cast("bigint").alias("total"))
    expected = li.sparkSession.createDataFrame(
        [(d, p) for d, p in BENFORD_PPM.items()], "digit int, exp_ppm bigint"
    )
    return (
        agg.join(F.broadcast(expected), "digit")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 DIV total").alias("obs_ppm"),
            "exp_ppm",
            F.expr("n * 1000000 DIV total - exp_ppm").alias("dev_ppm"),
        )
    )


K_ANON_MIN = 8


@query(
    "ext_k_anonymity_audit",
    oracle=f"""
    WITH g AS (
      SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS k
      FROM customer GROUP BY 1, 2
    ),
    t AS (
      SELECT CAST(sum(k) AS BIGINT) AS total,
             CAST(sum(CASE WHEN k < {K_ANON_MIN} THEN k ELSE 0 END) AS BIGINT) AS at_risk
      FROM g
    )
    SELECT g.c_mktsegment, g.c_nationkey, g.k,
           t.at_risk * 1000000 // t.total AS corpus_at_risk_ppm
    FROM g CROSS JOIN t
    WHERE g.k < {K_ANON_MIN}
    """,
    doc=f"EXT k-anonymity audit over the (mktsegment, nationkey) "
    "quasi-identifier pair: every equivalence class smaller than "
    f"k={K_ANON_MIN} (re-identification risk under linkage attack, "
    "Sweeney 2002) with the corpus-wide at-risk fraction in exact ppm "
    "riding along — the privacy-governance gate that pairs with the "
    "ns_pii_mask scrub step. One partial-aggregated groupBy; the risk "
    "total is a second aggregate over the (tiny) class table, broadcast "
    "back — the base table is scanned once.",
)
def ext_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    g = (
        c.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count("*").cast("bigint").alias("k"))
        # class table: both the total and the filter reuse it
        .transform(consistent_materialize)
    )
    t = g.agg(
        F.sum("k").cast("bigint").alias("total"),
        F.sum(F.when(F.col("k") < K_ANON_MIN, F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("at_risk"),
    )
    return (
        g.filter(F.col("k") < K_ANON_MIN)
        .crossJoin(F.broadcast(t))
        .select(
            "c_mktsegment",
            "c_nationkey",
            "k",
            F.expr("at_risk * 1000000 DIV total").alias("corpus_at_risk_ppm"),
        )
    )


_PROFILE_COLS = (
    ("l_orderkey", "bigint"),
    ("l_partkey", "bigint"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_shipdate", "date"),
    ("l_returnflag", "string"),
)


@query(
    "ext_column_stats",
    oracle="""
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
    """
    + ",\n    ".join(
        f"""        CAST(count({c}) AS BIGINT) AS nn_{c},
        CAST(count(DISTINCT {c}) AS BIGINT) AS ndv_{c},
        CAST(min(CAST({c} AS VARCHAR)) AS VARCHAR) AS min_{c},
        CAST(max(CAST({c} AS VARCHAR)) AS VARCHAR) AS max_{c}"""
        for c, _t in _PROFILE_COLS
    )
    + """
      FROM lineitem
    )
    SELECT * FROM (
    """
    + "\n      UNION ALL\n    ".join(
        f"""  SELECT '{c}' AS col, nn_{c} AS n_nonnull, n_rows - nn_{c} AS n_null,
             ndv_{c} AS ndv, min_{c} AS min_str, max_{c} AS max_str FROM s"""
        for c, _t in _PROFILE_COLS
    )
    + "\n    )",
    doc="EXT ANALYZE-style column profile of lineitem (the stats a "
    "cost-based optimizer or data-quality gate feeds on): per column, "
    "non-null/null counts, exact NDV, and min/max — normalized through "
    "a VARCHAR cast so one schema carries every type and both engines "
    "compare the same rendering. ONE multi-aggregate scan (Spark "
    "expands the distinct counts via a single expand+aggregate plan), "
    "unpivoted to (col, stats) rows presentation-side.",
)
def ext_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread() before the aggregate: the multi-countDistinct compiles to
    # an Expand (7× the rows through the partial agg), and on the
    # single-row-group local testdata that whole pipeline would run in
    # ONE task (measured 11.7 s at sf0.1 → ~1.5 s spread)
    li = spread(load_table(spark, sf_dir, "lineitem"))
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for c, _t in _PROFILE_COLS:
        aggs += [
            F.count(c).cast("bigint").alias(f"nn_{c}"),
            F.countDistinct(c).cast("bigint").alias(f"ndv_{c}"),
            F.min(F.col(c).cast("string")).alias(f"min_{c}"),
            F.max(F.col(c).cast("string")).alias(f"max_{c}"),
        ]
    s = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, n_rows - nn_{c}, ndv_{c}, min_{c}, max_{c}"
        for c, _t in _PROFILE_COLS
    )
    return s.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args})"
        " AS (col, n_nonnull, n_null, ndv, min_str, max_str)"
    )


# ---------------------------------------------------------------------------
# exact AUC (Mann-Whitney rank-sum), integer-exact with tie handling
# ---------------------------------------------------------------------------


@query(
    "ext_auc_exact",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(floor(value * 1000000) AS BIGINT) AS score
      FROM events
    ),
    ranked AS (
      SELECT y,
             2 * rank() OVER (ORDER BY score)
               + count(*) OVER (PARTITION BY score) - 1 AS dbl_rank
      FROM scored
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN y = 1 THEN dbl_rank END) AS BIGINT) AS r2_pos,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(1 - y) AS BIGINT) AS n_neg
      FROM ranked
    )
    SELECT n_pos, n_neg,
           r2_pos - n_pos * (n_pos + 1) AS auc2_num,
           CAST((r2_pos - n_pos * (n_pos + 1)) AS DOUBLE)
             / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
    FROM agg
    """,
    doc="EXT exact ROC-AUC via the Mann-Whitney rank-sum identity, the "
    "model-eval primitive a training pipeline runs after every scoring "
    "job: label = purchase events, score = micro-quantized value. Ties "
    "use average ranks, kept integer by doubling (2*avg_rank = 2*min_rank "
    "+ tie_count - 1), so both engines aggregate identical int64s and "
    "the single final double division is correctly rounded. Scale shape: "
    "AGGREGATE-FIRST — one map-side-combined groupBy(score) reduces the "
    "events to distinct scores, then global_running_sum prefixes that "
    "small frame: rank(tie group) = cum_cnt − cnt + 1, so the former "
    "unpartitioned rank()/count() windows (whole events table through "
    "one WindowExec) are gone and nothing data-sized is ranked row-"
    "by-row. No pairwise O(n_pos*n_neg) comparison ever materializes.",
)
def ext_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.floor(F.col("value") * 1000000).cast("bigint").alias("score"),
    )
    per_score = e.groupBy("score").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("npos")
    )
    run = global_running_sum(per_score, ["score"], "cnt", "_cum")
    # rank() = first position of the tie run = cum − cnt + 1;
    # dbl_rank = 2·rank + cnt − 1 is constant across the run, so the
    # positives contribute npos·dbl_rank
    agg = run.agg(
        F.sum(F.expr("npos * (2 * (_cum - cnt + 1) + cnt - 1)"))
        .cast("bigint")
        .alias("r2_pos"),
        F.sum("npos").cast("bigint").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("npos")).cast("bigint").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (F.col("r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)).alias("auc2_num"),
        (
            (F.col("r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# ordered rank machinery (exact row_number / ntile without a data-sized window)
# ---------------------------------------------------------------------------


def _machinery_parts(df: DataFrame, num_parts: int | None) -> int:
    """Range-partition count for the rank machinery. ``None`` (the
    default everywhere) derives it from ``spark.sql.shuffle.partitions``
    — the same knob that sizes every other shuffle — so a cluster sized
    for 100 TB automatically gets 100 TB-grade parallelism here too; a
    hardcoded 32 would mean ~3 TB per range partition at that scale.
    The rank algebra itself is partition-count-agnostic (property-tested
    across several counts in test_properties.py)."""
    if num_parts is not None:
        return num_parts
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    parsed = _parse_partitions_conf(raw)
    if parsed is not None:
        return parsed
    # Some platforms set this conf to a non-numeric sentinel (e.g.
    # "auto" under runtime-managed AQE — OSS Spark rejects that value,
    # managed runtimes accept it); fall back to the cluster's default
    # parallelism rather than crashing every machinery caller.
    return df.sparkSession.sparkContext.defaultParallelism or 200


def _parse_partitions_conf(raw) -> int | None:
    """int value of ``spark.sql.shuffle.partitions`` or None when the
    platform set a non-numeric sentinel."""
    try:
        return int(raw)
    except (TypeError, ValueError):
        return None


def consistent_materialize(
    df: DataFrame, eager: bool = True, storage_level=None
) -> DataFrame:
    """THE repo-wide checkpoint point: every operator that truncates
    lineage (rank-machinery boundary consistency, iterative frontiers,
    quantized-embedding reuse, BPE merge chains) calls this — usually
    as ``.transform(consistent_materialize)`` inside a method chain —
    so ONE session conf flips the whole engine between local and
    cluster-grade checkpointing.

    For the rank machinery specifically this also pins correctness, not
    just reuse: the range-partitioned frame must materialize ONCE so
    both consumers (the ranked rows and the per-partition counts) read
    identical partition boundaries — RangePartitioner re-samples per
    materialization, so without this the broadcast offsets can disagree
    with the partition sizes they describe (see ordered_rank).

    Two modes, selected by session conf ``spark.advbdi.checkpoint``:

    - ``local`` (default): ``localCheckpoint`` — executor-local block
      storage, no distributed-FS round-trip. Right for local[...] and
      for clusters where the frame fits executor disks and jobs
      tolerate recompute-from-scratch on executor loss (lineage is
      dropped, so a lost block fails the job and it reruns).
    - ``reliable``: ``checkpoint`` to the directory set via
      ``spark.sparkContext.setCheckpointDir`` — survives executor loss
      and doesn't size local disks by the data. The cluster-grade
      setting (docs/RANK_MACHINERY.md §Checkpoint modes). An eager
      checkpoint is one job that computes the frame and writes the
      files; a lazy one is made over a :func:`hold` of the frame.

    ``storage_level`` (the local checkpoint's block store, or the held
    frame under a lazy reliable checkpoint) overrides the block store
    level. Pass ``StorageLevel.DISK_ONLY`` for DATA-SIZED frames: the
    default MEMORY_AND_DISK unrolls every block through the storage
    pool in the same tasks that are still aggregating, and at sf10 the
    24M-row negative-sampling edge frame's unroll starved its own
    distinct's final hash-agg to literally zero grantable execution
    memory ([UNABLE_TO_ACQUIRE_MEMORY] got 0 — r9 probe). Disk-only
    streams blocks straight out, removing the contention; consumers
    re-read at disk bandwidth, which a data-sized frame pays anyway.
    """
    mode = df.sparkSession.conf.get("spark.advbdi.checkpoint", "local")
    if mode == "reliable":
        if eager:
            return df.checkpoint()  # one job computes the frame and writes the files
        return hold(df, storage_level or StorageLevel.MEMORY_AND_DISK_DESER, checkpoint=True)
    return df.localCheckpoint(eager=eager, storageLevel=storage_level)


#: SparkSession -> [(held frame, lazy reliable checkpoint over it or None)]
_held: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def hold(df: DataFrame, level=StorageLevel.MEMORY_AND_DISK_DESER, checkpoint: bool = False) -> DataFrame:
    """Persist ``df`` at ``level`` until the work that holds it ends, and
    return the held frame — with ``checkpoint``, a lazy reliable
    checkpoint over it instead.

    Lifetime rule: a held frame lives until the end of the work that
    held it. For a query that is the start of the session's next query
    build: every registered build first calls :func:`release_held`
    (``contract.query``), so all branches of one build share the held
    frame's single execution, and a rebuild of the same query recomputes
    from its inputs instead of reading the previous build's cache (the
    CacheManager matches canonicalized plans across rebuilds and would
    otherwise pin the frame for the session's lifetime). A frame held
    outside any registered build lives until the session's next build.
    For a streaming fold it is the end of the micro-batch:
    ``streaming.events.start_fold`` releases the batch's session (its
    own wrapper per batch) after the fold returns or raises.

    A lazy reliable checkpoint writes its files in a separate job after
    the caller's first action; the held frame makes that job read the
    computed rows instead of computing them again (a checkpoint planned
    before the persist would never read the cache, so ``hold`` makes it).

    One build at a time per session: a result executed after a later
    build of the same session has started recomputes its held frames —
    the same rows, only slower."""
    held = df.persist(level)
    barrier = held.checkpoint(eager=False) if checkpoint else None
    _held.setdefault(df.sparkSession, []).append((held, barrier))
    return held if barrier is None else barrier


def release_held(spark: SparkSession) -> None:
    """Unpersist every frame :func:`hold` recorded for ``spark``.

    A held checkpoint is first counted: Spark writes a lazy checkpoint
    after the first job that computes it, so after the count its files
    are written from the held rows, and dropping the cache can no longer
    let the writer recompute a nondeterministic lineage into files that
    differ from what the caller read. When the caller already acted, the
    count is one read of the checkpointed files; it is paid only by
    reliable-mode lazy checkpoints."""
    for held, barrier in _held.pop(spark, ()):
        if barrier is not None:
            try:
                barrier.count()
            except Exception:
                pass  # a failed count (deleted input, exhausted retries)
                #       must not skip the unpersist below
        try:
            held.unpersist()
        except Exception:
            pass  # the frame's session is stopped: nothing left to free


def release_superseded_materializations(spark) -> None:
    """Reclaim the PREVIOUS iteration's checkpoint blocks and shuffle
    files inside an iterative loop that materializes a frame per
    iteration (connected components, k-means).

    Spark's ContextCleaner only removes localCheckpoint blocks and
    shuffle files once the JVM-side RDD object is garbage — which needs
    BOTH a Python GC (to drop the Py4J handle the superseded DataFrame
    held) and a JVM GC cycle. Neither is guaranteed to run during a
    tight driver loop, so disk grows O(iterations × frame + iterations ×
    shuffle): ns_dedup_components at sf10's adversarial density (~24M
    true near-dup pairs, one giant component) accumulated the full 77 GB
    of free disk as spill and died ENOSPC (BASELINE r8, VERDICT r7
    item 6 — 'any fix that falls out'). Called once per iteration AFTER
    rebinding the loop variable, this pins the reclaim to the loop
    boundary; cost is one driver GC cycle per iteration, negligible next
    to a data-sized iteration. Advisory only — semantics are identical
    without it, it just bounds peak disk at O(one iteration)."""
    import gc  # noqa: PLC0415

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # JVM GC is advisory; worst case is the old reclaim timing


def ordered_rank(
    df: DataFrame,
    order_cols: list,
    group_cols: tuple = (),
    num_parts: int | None = None,
) -> DataFrame:
    """Adds ``_rank`` = ``row_number() OVER (PARTITION BY group_cols
    ORDER BY order_cols)`` and ``_n`` = the row count of the row's group
    (of the whole frame when ``group_cols`` is empty), with ONE range
    shuffle and no data-sized window: no task ever ranks a whole group,
    whatever the group count or skew. Every exact rank consumer
    (``ntile_bucket``, positions, percent_rank/cume_dist) composes it.

    1. ``repartitionByRange(group_cols, order_cols)`` + local sort: a
       group is a contiguous ordered run across ascending partitions,
       every partition ~|df|/P rows.
    2. ``monotonically_increasing_id()`` is (partition index << 33) +
       offset in iteration order, so the pid and the local position come
       out of one narrow project — a ``Window.partitionBy(pid)`` would
       add a hash shuffle (the range exchange does not satisfy it). The
       id is nondeterministic-tagged, so Catalyst never pushes it below
       the sort.
    3. per-(pid, group) count and min id: ~num_parts + |groups| rows at
       any data scale. One window over that tiny frame gives each cell
       its exclusive prefix offset within the group and the group total
       ``_n``; it rides a broadcast join back.
    4. ``_rank`` = offset + (id − min id + 1).

    The partitioned frame is materialized once (consistent_materialize):
    RangePartitioner seeds its boundary sampling with the RDD id, so two
    materializations of the "same" exchange can pick different
    boundaries when exchange reuse misses, and the broadcast offsets
    would then describe other partitions than the rows they join
    (docs/RANK_MACHINERY.md).

    ``(group_cols, order_cols)`` must be a total order for deterministic
    ranks (callers tie-break on a key column); without one, any per-tie
    aggregate of ``_rank`` (min / max / count) is still deterministic.
    ``group_cols`` are non-null column names (the offsets join on them);
    ``order_cols`` may be ordered Columns (``F.col(x).desc()``). For
    high-cardinality groups a plain partitioned window is already
    parallel and needs none of this."""
    keys = [*group_cols, *order_cols]
    parts = consistent_materialize(
        df.repartitionByRange(_machinery_parts(df, num_parts), *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_or_mid", F.monotonically_increasing_id())
        .withColumn("_or_pid", F.expr("CAST(_or_mid DIV 8589934592 AS INT)"))
    )
    cells = parts.groupBy("_or_pid", *group_cols).agg(
        F.count("*").alias("_or_c"), F.min("_or_mid").alias("_or_min")
    )
    group = Window.partitionBy(*group_cols)
    before = group.orderBy("_or_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = cells.select(
        "_or_pid",
        *group_cols,
        "_or_min",
        F.coalesce(F.sum("_or_c").over(before), F.lit(0)).alias("_or_off"),
        F.sum("_or_c").over(group).alias("_n"),
    )
    return (
        parts.join(F.broadcast(offs), ["_or_pid", *group_cols])
        .withColumn("_rank", F.expr("_or_off + _or_mid - _or_min + 1"))
        .drop("_or_mid", "_or_pid", "_or_min", "_or_off")
    )


def ntile_bucket(k: int) -> Column:
    """``ntile(k)`` from :func:`ordered_rank`'s ``_rank``/``_n``, as
    ntile's exact fill rule in int64 arithmetic: with q = n div k and
    r = n % k, the first r buckets hold q + 1 rows. When n < k (q = 0)
    every rank is <= r(q + 1) = n, so the q divisor is never reached."""
    q, r = f"(_n DIV {k})", f"(_n % {k})"
    lead = f"{r} * ({q} + 1)"
    return F.expr(
        f"CAST(CASE WHEN _rank <= {lead} THEN (_rank - 1) DIV ({q} + 1)"
        f" ELSE {r} + (_rank - {lead} - 1) DIV {q} END AS INT) + 1"
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list,
    val_col: str,
    out_name: str,
    group_cols: tuple = (),
    num_parts: int | None = None,
) -> DataFrame:
    """Distributed running (inclusive-prefix) sum of ``val_col`` over the
    global ``order_cols`` order, optionally restarting per
    ``group_cols`` group. The intended call pattern is AGGREGATE-FIRST:
    pre-reduce the data to one row per distinct key, then prefix the
    (much smaller) distinct frame — so the range shuffle here moves
    distinct keys, not raw rows.

    Deterministic for NON-distinct (group, order) keys too: the within-
    partition prefix uses a RANGE frame, so every row of a tie run gets
    the run-inclusive prefix (standard SQL RANGE semantics) — a pure
    function of the key, whatever the physical row order. For distinct
    keys (every current caller) RANGE and ROWS coincide; a ROWS frame
    would hand tied rows arbitrary intermediate prefixes.

    Mechanism: range-partition by (group_cols, order_cols) so groups are
    contiguous and ordered (equal keys always land in one partition);
    consistent materialization for boundary stability (see
    :func:`ordered_rank`); per-(pid, group) totals → exclusive
    offsets via a window over the tiny totals frame; within-partition
    prefix via a pid-partitioned window (the checkpoint drops the range
    partitioning info, so this costs one hash exchange of the
    distinct-key frame — measured: LogicalRDD preserves hash, not
    range, partitioning)."""
    keys = [*group_cols, *order_cols]
    parts = consistent_materialize(
        df.repartitionByRange(_machinery_parts(df, num_parts), *keys)
        .withColumn("_rs_pid", F.spark_partition_id())
    )
    ptot = parts.groupBy("_rs_pid", *group_cols).agg(
        F.sum(val_col).alias("_rs_pt")
    )
    w_off = (
        Window.partitionBy(*group_cols).orderBy("_rs_pid")
        if group_cols
        else Window.orderBy("_rs_pid")
    ).rowsBetween(Window.unboundedPreceding, -1)
    offs = ptot.select(
        "_rs_pid",
        *group_cols,
        F.coalesce(F.sum("_rs_pt").over(w_off), F.lit(0)).alias("_rs_off"),
    )
    # RANGE, not ROWS: CURRENT ROW means "last peer", so tied keys all
    # read the tie-run-inclusive prefix — deterministic without a
    # distinctness precondition (no offset bound, so multi-column
    # ordering is fine).
    w_run = (
        Window.partitionBy("_rs_pid", *group_cols)
        .orderBy(*order_cols)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        parts.join(F.broadcast(offs), ["_rs_pid", *group_cols])
        .withColumn(out_name, F.col("_rs_off") + F.sum(val_col).over(w_run))
        .drop("_rs_pid", "_rs_off")
    )


def grouped_topk(df: DataFrame, group_col: str, order_cols, k: int) -> DataFrame:
    """Per-group top-k without ranking any group's full frame in one
    task — the POOLING sibling of :func:`ordered_rank` for when
    only k rows per group survive (per-language top terms, per-source
    preference pools).

    Rank twice: first inside each (group, physical-slice) cell — each
    cell is ~|df|/P rows whatever the group skew — keep each cell's
    top-k, then rank the pooled <= k*P rows per group. Output is
    identical to the direct per-group rank window because a group's
    global top-k is contained in the union of its per-slice top-k sets,
    and the (order, tiebreak) ordering is total. Adds column ``rnk``
    (int), filtered to rnk <= k."""
    local = Window.partitionBy(group_col, "_tk_slice").orderBy(*order_cols)
    pooled = (
        df.withColumn("_tk_slice", F.spark_partition_id())
        .withColumn("_tk_rk", F.row_number().over(local))
        .filter(F.col("_tk_rk") <= k)
        .drop("_tk_slice", "_tk_rk")
    )
    final = Window.partitionBy(group_col).orderBy(*order_cols)
    return pooled.withColumn("rnk", F.row_number().over(final).cast("int")).filter(
        F.col("rnk") <= k
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quartiles)
# ---------------------------------------------------------------------------


@query(
    "ext_rfm_segmentation",
    bench=True,
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             epoch_us(max(o_orderdate)) AS last_us,
             count(*) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT ntile(4) OVER (ORDER BY last_us DESC, o_custkey) AS r_q,
             ntile(4) OVER (ORDER BY n_orders DESC, o_custkey) AS f_q,
             ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS m_q,
             cents
      FROM per_cust
    )
    SELECT r_q, f_q, m_q,
           count(*) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY 1, 2, 3
    """,
    doc="EXT RFM segmentation — the classic customer-analytics rollup: per "
    "customer recency (last order timestamp), frequency (order count), "
    "monetary (exact cents), each cut into quartiles by ntile over a "
    "fully tie-broken order (metric, custkey) so bucket assignment is "
    "bit-deterministic in both engines; segments then aggregated to "
    "(r,f,m) cells. Scale shape: the per-customer aggregate is the "
    "data-sized stage (partial-agg shuffle on custkey); each quartile "
    "cut is ordered_rank grouped by metric over the melted metrics (one "
    "range shuffle + broadcast per-(partition, metric) offsets) and "
    "ntile_bucket — no customer-count frame ever collapses into a single "
    "WindowExec partition.",
)
def ext_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        epoch_us(F.max("o_orderdate")).alias("last_us"),
        F.count("*").alias("n_orders"),
        F.sum(cents("o_totalprice")).cast("bigint").alias("cents"),
    )
    # MELT the three metrics into one (m_id, value, custkey) long frame
    # and rank it once with m_id as the group: ONE orders scan, ONE
    # data-sized range shuffle. Three separate rank branches re-joined
    # on custkey would triple the scan, because each branch prunes
    # different columns and defeats exchange reuse.
    long = per_cust.select(
        "o_custkey",
        "cents",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("m_id"), F.col("last_us").alias("val")),
                F.struct(F.lit(1).alias("m_id"), F.col("n_orders").alias("val")),
                F.struct(F.lit(2).alias("m_id"), F.col("cents").alias("val")),
            )
        ).alias("mv"),
    ).select("o_custkey", "cents", "mv.m_id", "mv.val")
    bucketed = ordered_rank(
        long, [F.col("val").desc(), F.col("o_custkey")], group_cols=("m_id",)
    ).withColumn("bucket", ntile_bucket(4))
    scored = bucketed.groupBy("o_custkey").agg(
        F.max(F.when(F.col("m_id") == 0, F.col("bucket"))).alias("r_q"),
        F.max(F.when(F.col("m_id") == 1, F.col("bucket"))).alias("f_q"),
        F.max(F.when(F.col("m_id") == 2, F.col("bucket"))).alias("m_q"),
        F.max("cents").alias("cents"),
    )
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("segment_cents"),
    )


# ---------------------------------------------------------------------------
# equi-depth histogram (optimizer-grade quantile buckets)
# ---------------------------------------------------------------------------

#: bucket count for the equi-depth histogram (ext_equidepth_histogram).
EQUIDEPTH_BUCKETS = 8


@query(
    "ext_equidepth_histogram",
    bench=True,
    oracle=f"""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ),
    b AS (
      SELECT cents,
             ntile({EQUIDEPTH_BUCKETS}) OVER (ORDER BY cents, o_orderkey) AS bucket
      FROM c
    )
    SELECT bucket,
           CAST(min(cents) AS BIGINT) AS lo_cents,
           CAST(max(cents) AS BIGINT) AS hi_cents,
           count(*) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM b GROUP BY bucket
    """,
    doc="EXT equi-depth histogram of order value (8 buckets of equal row "
    "count), the statistic a cost-based optimizer stores per column — "
    "complements ext_histogram's equi-WIDTH buckets. ntile over the "
    "fully tie-broken (cents, orderkey) order makes boundaries exact "
    "and bit-stable. Scale shape: ONE repartitionByRange pass — the "
    "range partitions approximate the equi-depth split and ordered_rank "
    "turns per-partition ranks + broadcast prefix offsets into exact "
    "ranks, ntile_bucket into bucket ids; no single-partition sort "
    "anywhere.",
)
def ext_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("cents"), "o_orderkey"
    )
    b = ordered_rank(o, ["cents", "o_orderkey"]).withColumn(
        "bucket", ntile_bucket(EQUIDEPTH_BUCKETS)
    )
    return b.groupBy("bucket").agg(
        F.min("cents").cast("bigint").alias("lo_cents"),
        F.max("cents").cast("bigint").alias("hi_cents"),
        F.count("*").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# chi-square contingency test (2x2, exact rational arithmetic)
# ---------------------------------------------------------------------------


@query(
    "ext_chi2_contingency",
    oracle="""
    WITH cells AS (
      SELECT CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type <> 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN user_id % 2 = 1 AND event_type <> 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM events
    )
    SELECT a, b, c, d,
           CAST((1000000 * CAST(a + b + c + d AS HUGEINT)
                 * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
                 * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c))
                // (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d))
                AS BIGINT) AS chi2_ppm
    FROM cells
    """,
    doc="EXT chi-square independence test on a 2x2 contingency table "
    "(user-cohort parity x purchase outcome) — the A/B-test primitive. "
    "chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) evaluated as EXACT "
    "integer arithmetic in 128-bit intermediates (Spark DECIMAL(38,0), "
    "DuckDB HUGEINT; N*(ad-bc)^2*1e6 stays under 1e34 even at sf100), "
    "surfaced as integer ppm so both engines hash identically — no "
    "float chi2, no p-value approximation to diverge. Scale shape: ONE "
    "map-side-combined scan to 4 cells; the test itself is O(1).",
)
def ext_chi2_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    is_even = F.col("user_id") % 2 == 0
    is_buy = F.col("event_type") == "purchase"
    one = lambda p: F.sum(F.when(p, 1).otherwise(0)).cast("bigint")  # noqa: E731
    cells = e.agg(
        one(is_even & is_buy).alias("a"),
        one(is_even & ~is_buy).alias("b"),
        one(~is_even & is_buy).alias("c"),
        one(~is_even & ~is_buy).alias("d"),
    )
    big = "DECIMAL(38,0)"
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.expr(
            f"CAST((CAST(1000000 AS {big}) * CAST(a + b + c + d AS {big})"
            f" * (CAST(a AS {big}) * d - CAST(b AS {big}) * c)"
            f" * (CAST(a AS {big}) * d - CAST(b AS {big}) * c))"
            f" DIV (CAST(a + b AS {big}) * (c + d) * (a + c) * (b + d))"
            " AS BIGINT)"
        ).alias("chi2_ppm"),
    )


# ---------------------------------------------------------------------------
# zone-map pruning simulation (data-skipping effectiveness audit)
# ---------------------------------------------------------------------------

#: rows per simulated storage block (zone) for ext_zonemap_prune.
ZONE_BLOCK = 4096

#: the probe predicate: ship dates inside calendar 1995.
ZONE_LO = "1995-01-01 00:00:00"
ZONE_HI = "1996-01-01 00:00:00"


@query(
    "ext_zonemap_prune",
    oracle=f"""
    WITH zones AS (
      SELECT l_orderkey // {ZONE_BLOCK} AS zone,
             min(l_shipdate) AS zmin,
             max(l_shipdate) AS zmax,
             count(*) AS n_rows
      FROM lineitem GROUP BY 1
    )
    SELECT count(*) AS n_zones,
           CAST(sum(CASE WHEN zmax < TIMESTAMP '{ZONE_LO}'
                          OR zmin >= TIMESTAMP '{ZONE_HI}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
           CAST(sum(n_rows) AS BIGINT) AS n_rows_total,
           CAST(sum(CASE WHEN zmax < TIMESTAMP '{ZONE_LO}'
                          OR zmin >= TIMESTAMP '{ZONE_HI}'
                         THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_skipped,
           CAST(1000000 * sum(CASE WHEN zmax < TIMESTAMP '{ZONE_LO}'
                                    OR zmin >= TIMESTAMP '{ZONE_HI}'
                                   THEN n_rows ELSE 0 END)
                // sum(n_rows) AS BIGINT) AS skip_ppm
    FROM zones
    """,
    doc="EXT zone-map (min/max data-skipping) effectiveness audit: "
    "simulate parquet row-group zone maps as 4096-row blocks keyed by "
    "orderkey, and measure what fraction a ship-date range predicate "
    "could prune — the report that decides whether a table is worth "
    "re-clustering (pairs with ns_layout_zorder). One partial-agg scan "
    "to block-count rows, then an O(blocks) summary; the same two-level "
    "rollup a file-skipping planner runs over footer stats at 100 TB.",
)
def ext_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr(f"l_orderkey DIV {ZONE_BLOCK}").alias("zone"),
        "l_shipdate",
    )
    zones = li.groupBy("zone").agg(
        F.min("l_shipdate").alias("zmin"),
        F.max("l_shipdate").alias("zmax"),
        F.count("*").alias("n_rows"),
    )
    pruned = (F.col("zmax") < F.lit(ZONE_LO).cast("timestamp_ntz")) | (
        F.col("zmin") >= F.lit(ZONE_HI).cast("timestamp_ntz")
    )
    return zones.agg(
        F.count("*").alias("n_zones"),
        F.sum(F.when(pruned, 1).otherwise(0)).cast("bigint").alias("n_pruned"),
        F.sum("n_rows").cast("bigint").alias("n_rows_total"),
        F.sum(F.when(pruned, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_skipped"),
        F.expr(
            "CAST(1000000 * sum(CASE WHEN zmax < TIMESTAMP"
            f" '{ZONE_LO}' OR zmin >= TIMESTAMP '{ZONE_HI}'"
            " THEN n_rows ELSE 0 END) DIV sum(n_rows) AS BIGINT)"
        ).alias("skip_ppm"),
    )


# ---------------------------------------------------------------------------
# data-quality expectation suite (one-scan rule evaluation)
# ---------------------------------------------------------------------------


@query(
    "ext_dq_expectations",
    oracle="""
    WITH agg AS (
      SELECT count(*) AS n,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS f_notnull,
             CAST(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice >= 1000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS f_range,
             CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                           THEN 1 ELSE 0 END) AS BIGINT) AS f_regex,
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                           THEN 1 ELSE 0 END) AS BIGINT) AS f_domain,
             count(*) - count(DISTINCT o_orderkey) AS f_unique
      FROM orders
    )
    SELECT rule, n AS n_checked, n_failed,
           CAST(CASE WHEN n_failed = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
    FROM (
      SELECT n, unnest(['custkey_not_null', 'totalprice_in_range',
                        'priority_format', 'status_domain', 'orderkey_unique'])
               AS rule,
             unnest([f_notnull, f_range, f_regex, f_domain, f_unique])
               AS n_failed
      FROM agg
    )
    """,
    doc="EXT data-quality expectation suite (the Great-Expectations-style "
    "contract gate a pipeline runs before publishing a table): five rule "
    "families — not-null, numeric range, regex format, value domain, "
    "key uniqueness — evaluated in ONE multi-aggregate scan (the "
    "uniqueness rule rides the same pass as a count-distinct), then "
    "unpivoted to one row per rule with pass/fail. At 100 TB this is a "
    "single partial-agg pass regardless of rule count; adding a rule "
    "adds a column, not a scan.",
)
def ext_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    flag = lambda p: F.sum(F.when(p, 1).otherwise(0)).cast("bigint")  # noqa: E731
    agg = o.agg(
        F.count("*").alias("n"),
        flag(F.col("o_custkey").isNull()).alias("f_notnull"),
        flag(
            (F.col("o_totalprice") <= 0) | (F.col("o_totalprice") >= 1000000)
        ).alias("f_range"),
        flag(~F.col("o_orderpriority").rlike("^[1-5]-")).alias("f_regex"),
        flag(~F.col("o_orderstatus").isin("O", "F", "P")).alias("f_domain"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("f_unique"),
    )
    return agg.selectExpr(
        "stack(5,"
        " 'custkey_not_null', f_notnull,"
        " 'totalprice_in_range', f_range,"
        " 'priority_format', f_regex,"
        " 'status_domain', f_domain,"
        " 'orderkey_unique', f_unique) AS (rule, n_failed)",
        "n AS n_checked",
    ).select(
        "rule",
        "n_checked",
        "n_failed",
        F.when(F.col("n_failed") == 0, 1).otherwise(0).cast("bigint").alias("passed"),
    )


# ---------------------------------------------------------------------------
# partial-aggregate state merge (incremental rollup algebra)
# ---------------------------------------------------------------------------


@query(
    "ext_rollup_merge",
    oracle="""
    WITH part1 AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             o_orderpriority AS priority, count(*) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS s,
             CAST(min(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS mn,
             CAST(max(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS mx
      FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1, 2
    ),
    part2 AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             o_orderpriority AS priority, count(*) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS s,
             CAST(min(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS mn,
             CAST(max(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS mx
      FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1, 2
    ),
    merged AS (
      SELECT month, priority,
             CAST(sum(n) AS BIGINT) AS n_orders,
             CAST(sum(s) AS BIGINT) AS sum_cents,
             CAST(min(mn) AS BIGINT) AS min_cents,
             CAST(max(mx) AS BIGINT) AS max_cents
      FROM (SELECT * FROM part1 UNION ALL SELECT * FROM part2)
      GROUP BY 1, 2
    )
    SELECT month, priority, n_orders, sum_cents, min_cents, max_cents,
           sum_cents // n_orders AS avg_cents
    FROM merged
    """,
    doc="EXT incremental-rollup state merge — the re-aggregation algebra "
    "behind every 100 TB materialized view: two disjoint partitions "
    "(simulated by orderkey parity, standing in for daily partial "
    "states) are aggregated independently to mergeable states "
    "(count/sum/min/max in exact cents), then MERGED (sum-of-counts, "
    "sum-of-sums, min-of-mins, max-of-maxes) instead of rescanning raw "
    "rows — the merge stage's input is state-table-sized, not "
    "data-sized. avg derives from merged state by exact integer "
    "division. The oracle replays the identical two-phase plan, so a "
    "non-decomposable aggregate sneaking in would hash-mismatch.",
)
def ext_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.col("o_orderpriority").alias("priority"),
        ).agg(
            F.count("*").alias("n"),
            F.sum(cents("o_totalprice")).cast("bigint").alias("s"),
            F.min(cents("o_totalprice")).cast("bigint").alias("mn"),
            F.max(cents("o_totalprice")).cast("bigint").alias("mx"),
        )

    p1 = partial(o.filter(F.col("o_orderkey") % 2 == 0))
    p2 = partial(o.filter(F.col("o_orderkey") % 2 == 1))
    merged = (
        p1.unionAll(p2)
        .groupBy("month", "priority")
        .agg(
            F.sum("n").cast("bigint").alias("n_orders"),
            F.sum("s").cast("bigint").alias("sum_cents"),
            F.min("mn").cast("bigint").alias("min_cents"),
            F.max("mx").cast("bigint").alias("max_cents"),
        )
    )
    return merged.select(
        "*", F.expr("sum_cents DIV n_orders").alias("avg_cents")
    )


# ---------------------------------------------------------------------------
# Wilson confidence interval for conversion rates (A/B arm readout)
# ---------------------------------------------------------------------------

#: z and z² for a 95% interval, written as double literals (`e0`) so
#: BOTH parsers bind them as float64 — DuckDB would otherwise type bare
#: `1.96` as DECIMAL(3,2) and diverge the op tree.
_WILSON_EXPR = {
    "ci_lo": (
        "((CAST(c AS DOUBLE) / n + 3.8416e0 / (2e0 * n))"
        " - 1.96e0 * sqrt((CAST(c AS DOUBLE) / n"
        " * (1e0 - CAST(c AS DOUBLE) / n) + 3.8416e0 / (4e0 * n)) / n))"
        " / (1e0 + 3.8416e0 / n)"
    ),
    "ci_hi": (
        "((CAST(c AS DOUBLE) / n + 3.8416e0 / (2e0 * n))"
        " + 1.96e0 * sqrt((CAST(c AS DOUBLE) / n"
        " * (1e0 - CAST(c AS DOUBLE) / n) + 3.8416e0 / (4e0 * n)) / n))"
        " / (1e0 + 3.8416e0 / n)"
    ),
}


@query(
    "ext_ab_wilson_ci",
    oracle=f"""
    WITH arms AS (
      SELECT user_id % 4 AS arm, count(*) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM events GROUP BY 1
    )
    SELECT arm, n, c,
           {_WILSON_EXPR["ci_lo"]} AS ci_lo,
           {_WILSON_EXPR["ci_hi"]} AS ci_hi
    FROM arms
    """,
    doc="EXT Wilson-score 95% confidence interval on conversion rate per "
    "experiment arm (user-id mod 4) — the A/B readout that, unlike the "
    "normal approximation, stays inside [0,1] at small n. Cross-engine "
    "bit determinism WITHOUT integer-only arithmetic: the counts are "
    "exact int64 and the double expression TREE is the same literal SQL "
    "text on both sides (every +,*,/,sqrt is IEEE correctly rounded, so "
    "identical trees over identical ints give identical bits; z² spelled "
    "as an e0 literal so neither parser types it DECIMAL). One "
    "map-side-combined scan to 4 arm rows; the CI math is O(arms).",
)
def ext_ab_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy((F.col("user_id") % 4).alias("arm")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
    )
    return arms.select(
        "arm",
        "n",
        "c",
        F.expr(_WILSON_EXPR["ci_lo"]).alias("ci_lo"),
        F.expr(_WILSON_EXPR["ci_hi"]).alias("ci_hi"),
    )
