"""UDF-surface operators (SURVEY §2.I) — the sanctioned escape hatches.

Policy: native Column expressions first; when Python is genuinely
needed, Arrow-batched Pandas UDFs (grouped-map ``applyInPandas`` /
``mapInPandas``), never row-at-a-time Python UDFs. This module holds
the demonstration operators:

- ``ns_udf_group_zscore``: per-group z-score normalization via
  applyInPandas. The arithmetic uses exact integer sums + a fixed
  IEEE double op order, so even the Python-side result matches the
  DuckDB oracle bit-for-bit — proving UDF operators can stay inside
  the engine's determinism contract.
- approx aggregates: the 100 TB substitutes for their exact cousins.
  HLL distinct is engine-specific by construction → rows-only check +
  pytest error bound. The GK percentile sketch is exact below its
  accuracy knob, so it IS oracle-backed (hash-exact vs quantile_disc)
  at test scale and degrades to epsilon-bounded beyond it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.contract import query
from adv_big_data_indexing_spark.functions.text import DUCK_TOKENS, tokens
from adv_big_data_indexing_spark.sources.catalog import load_table, spread

ZSCORE_SCHEMA = "doc_id long, source string, n_chars long, zscore double"


def group_zscore(documents: DataFrame) -> DataFrame:
    """Grouped-map Pandas UDF: z-score of n_chars within each source.

    Exact recipe: integer sums (Python ints, arbitrary precision), then
    mean = S/n, msq = Q/n, var = msq - mean*mean, z = (x - mean)/sqrt(var)
    — every double op correctly rounded and order-fixed, so any engine
    evaluating the same formula produces identical bits.
    """

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        xs = [int(v) for v in pdf["n_chars"]]
        n, s, q = len(xs), sum(xs), sum(v * v for v in xs)
        mean = s / n
        var = q / n - mean * mean
        std = math.sqrt(var)
        z = [(float(x) - mean) / std if std > 0 else 0.0 for x in xs]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "source": pdf["source"],
                "n_chars": pdf["n_chars"],
                "zscore": z,
            }
        )

    return documents.select("doc_id", "source", "n_chars").groupBy("source").applyInPandas(
        per_group, schema=ZSCORE_SCHEMA
    )


@query(
    "ns_udf_group_zscore",
    oracle="""
    WITH stats AS (
      SELECT source,
             CAST(sum(n_chars) AS BIGINT) AS s,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS q,
             count(*) AS n
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, d.n_chars,
           CASE WHEN sqrt(CAST(q AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) > 0
                THEN (CAST(d.n_chars AS DOUBLE) - CAST(s AS DOUBLE) / n)
                     / sqrt(CAST(q AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                ELSE 0.0 END AS zscore
    FROM documents d JOIN stats USING (source)
    """,
    doc="NS grouped-map Pandas UDF (applyInPandas): per-source z-score "
    "normalization, Arrow-batched, one Python worker per group partition — "
    "and still bit-identical to the SQL oracle via exact-order arithmetic.",
)
def ns_udf_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return group_zscore(load_table(spark, sf_dir, "documents"))


@query(
    "ext_approx_distinct",
    oracle=None,  # HLL estimates are engine-specific by construction
    doc="EXT approx_count_distinct (HyperLogLog++) — the 100 TB form of "
    "count(DISTINCT): one pass, fixed memory, no distinct expansion. "
    "Error bound vs exact asserted in tests/test_udfs.py.",
)
def ext_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_suppkey", 0.02).alias("approx_supps"),
    )


# --- Portable HLL: a distinct sketch defined by US, not the engine --------
#
# h = first 15 hex chars of md5(value) → 60 bits. bucket = top 8 bits
# (2 hex chars, m=256); rho = leading-zero count of the low 52-bit field
# + 1, computed on the binary STRING (exact in any engine). Estimate:
#   sum_total = Σ_buckets 2^(50 - M_j) as exact BIGINT (empty bucket: 2^50;
#               M_j > 50 truncates to 0 — a deterministic < 2^-50 loss)
#   E = C / double(sum_total), C = alpha_m * m^2 * 2^50 (one literal)
# Linear counting when E <= 2.5m and empty buckets exist: m * ln(m/zeros).
# Every intermediate is integer or a single correctly-rounded double op,
# so Spark and DuckDB produce the SAME bits — an approx aggregate the
# driver can hash-verify, unlike engine-native HLL.

HLL_P = 8
HLL_M = 1 << HLL_P
_HLL_C = repr(0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * float(1 << 50))
_HLL_THRESH = 2.5 * HLL_M

# conv() stays inside whole-stage codegen; the equivalent higher-order
# aggregate/transform parse is interpreted per row and was ~20× slower.
_SPARK_HEX = "CAST(conv(substr(h, 3, 13), 16, 10) AS BIGINT)"
_SPARK_BUCKET = "CAST(conv(substr(h, 1, 2), 16, 10) AS BIGINT)"
_DUCK_HEX = (
    "CAST(list_sum(list_transform(generate_series(3, 15),"
    " p -> (strpos('0123456789abcdef', substr(h, p, 1)) - 1)"
    " * (16.0 ** (15 - p)))) AS BIGINT)"
)
_DUCK_BUCKET = (
    "(strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)"
)
_HLL_ESTIMATE = (
    f"CASE WHEN {_HLL_C} / CAST(sum_total AS DOUBLE) <= {_HLL_THRESH} AND zeros > 0"
    f" THEN CAST({HLL_M} AS DOUBLE) * ln(CAST({HLL_M} AS DOUBLE) / zeros)"
    f" ELSE {_HLL_C} / CAST(sum_total AS DOUBLE) END AS approx_nd"
)


def hll_registers(hashed: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """(keys, bucket, mj): the max-rho register of every non-empty bucket
    per ``keys`` group, from md5 hex strings ``h``. Registers merge by
    max, so the registers of a union are the max of each part's."""
    return (
        hashed.selectExpr(*keys, f"({_SPARK_BUCKET}) AS bucket", f"({_SPARK_HEX}) AS hv")
        .selectExpr(
            *keys,
            "bucket",
            "CASE WHEN hv = 0 THEN 53 ELSE 53 - length(trim(LEADING '0' FROM bin(hv))) END AS rho",
        )
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("mj"))
    )


def hll_estimate(registers: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """(keys, approx_nd): the distinct-count estimate per ``keys`` group
    from its registers — the finisher ``ext_approx_distinct_portable``
    and the streaming HLL reader share."""
    agg = registers.groupBy(*keys).agg(
        F.sum(
            F.expr("CASE WHEN mj <= 50 THEN shiftleft(CAST(1 AS BIGINT), 50 - mj) ELSE 0 END")
        ).alias("s_present"),
        F.count("*").alias("n_buckets"),
    )
    return agg.selectExpr(
        *keys,
        f"s_present + ({HLL_M} - n_buckets) * shiftleft(CAST(1 AS BIGINT), 50) AS sum_total",
        f"{HLL_M} - n_buckets AS zeros",
    ).selectExpr(*keys, _HLL_ESTIMATE)


@query(
    "ext_approx_distinct_portable",
    oracle=f"""
    WITH v AS (
      SELECT l_returnflag AS g, key, md5(val) AS h FROM (
        SELECT l_returnflag, 'l_partkey' AS key, CAST(l_partkey AS VARCHAR) AS val FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_orderkey', CAST(l_orderkey AS VARCHAR) FROM lineitem
      )
    ), r AS (
      SELECT g, key, {_DUCK_BUCKET} AS bucket, {_DUCK_HEX} AS hv FROM v
    ), pb AS (
      SELECT g, key, bucket,
             max(CASE WHEN hv = 0 THEN 53 ELSE 53 - length(ltrim(bin(hv), '0')) END) AS mj
      FROM r GROUP BY 1, 2, 3
    ), agg AS (
      SELECT g, key,
             CAST(sum(CASE WHEN mj <= 50 THEN CAST(2 ** (50 - mj) AS BIGINT) ELSE 0 END)
                  + ({HLL_M} - count(*)) * CAST(2 ** 50 AS BIGINT) AS BIGINT) AS sum_total,
             {HLL_M} - count(*) AS zeros
      FROM pb GROUP BY 1, 2
    )
    SELECT g AS l_returnflag, key, {_HLL_ESTIMATE} FROM agg
    """,
    doc="EXT portable HLL distinct sketch (m=256, md5-derived): the same "
    "sketch algorithm runs in both engines on the same 60-bit hashes, so the "
    "estimate is bit-identical and hash-verifiable — the oracle-checkable "
    "counterpart to engine-native approx_count_distinct. One pass, fixed "
    "2^p-bucket state per group, two tiny shuffles; rel. error ~1.04/sqrt(m).",
)
def ext_approx_distinct_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: 2 md5+parses per input row must not run inside a single scan
    # task (the test parquet is one row group)
    l = spread(load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey", "l_orderkey"
    ))
    v = l.selectExpr(
        "l_returnflag AS g",
        "stack(2, 'l_partkey', CAST(l_partkey AS STRING),"
        " 'l_orderkey', CAST(l_orderkey AS STRING)) AS (key, val)",
    ).selectExpr("g", "key", "md5(val) AS h")
    keys = ("g", "key")
    return hll_estimate(hll_registers(v, keys), keys).withColumnRenamed("g", "l_returnflag")


# Sketch is EXACT below this many rows per group (sf0.01 gate: ~20k/group,
# 5x margin). Oversizing the knob (e.g. 10M) makes the sketch buffer the
# whole group — 4x slower and memory-heavy at sweep time for zero accuracy
# gain at the gate scale.
PCT_ACCURACY = 100_000


@query(
    "ext_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.5) AS approx_median_price,
           quantile_disc(l_quantity, 0.9) AS approx_p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="EXT approx_percentile (GK sketch) — the scale substitute for exact "
    "percentiles (no per-group sort, fixed memory). Accuracy is set above the "
    "per-group row count at test scale, where the sketch degenerates to the "
    "exact discrete percentile — verified hash-exact against DuckDB's "
    "quantile_disc; at 100 TB the same plan degrades gracefully to an "
    "epsilon-bounded estimate (epsilon = 1/accuracy), still one pass.",
)
def ext_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, PCT_ACCURACY).alias("approx_median_price"),
        F.percentile_approx("l_quantity", 0.9, PCT_ACCURACY).alias("approx_p90_qty"),
    )


EWMA_SCHEMA = "user_id long, event_id long, ts timestamp, value double, ewma double"


def user_value_ewma(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values —
    a sequential recurrence (ewma_i = α·x_i + (1−α)·ewma_{i−1}) that no
    distributive aggregate expresses. Grouped-map Pandas UDF: each user's
    history sorts inside one Arrow batch; state never crosses groups, so
    the operator scales with the number of users, not events-per-shuffle.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # Explicit scalar recurrence, NOT pandas ewm(adjust=False): ewm
        # skips the update when y_{i−1} already equals x_i (y stays
        # exactly x), while the oracle CTE always computes
        # α·x + (1−α)·y — 1 ulp apart for e.g. x = 0.1. The loop below
        # performs the same three correctly-rounded IEEE ops in the same
        # order as the CTE on every step, so parity holds on any data,
        # including equal consecutive values.
        x = pdf["value"].to_numpy(dtype=np.float64)
        y = np.empty_like(x)
        if len(x):
            acc = x[0]
            y[0] = acc
            beta = 1.0 - alpha
            for i in range(1, len(x)):
                acc = alpha * x[i] + beta * acc
                y[i] = acc
        pdf["ewma"] = y
        return pdf[["user_id", "event_id", "ts", "value", "ewma"]]

    # Pre-hash-partition on the group key with FEWER, fatter partitions:
    # groupBy only needs ClusteredDistribution, which this satisfies, so
    # no second exchange is inserted — and the Arrow transfer runs as a
    # handful of big batches instead of shuffle.partitions tiny ones
    # (3× wall-clock on local[32]; same principle caps per-task batch
    # count on a real cluster).
    n = max(8, events.sparkSession.sparkContext.defaultParallelism // 2)
    return (
        events.select("user_id", "event_id", "ts", "value")
        .repartition(n, "user_id")
        .groupBy("user_id")
        .applyInPandas(per_user, schema=EWMA_SCHEMA)
    )


@query(
    "ns_udf_ewma",
    # The recurrence y_i = 0.3·x_i + (1−0.3)·y_{i−1} is three correctly-
    # rounded IEEE double ops per step in a deterministic order (the UDF
    # runs the explicit scalar loop — tests/test_udfs.py asserts it with
    # rel=0, including equal consecutive values where pandas ewm would
    # skip the update), so a DuckDB recursive CTE replaying the
    # identical op sequence reproduces every bit.
    oracle="""
    WITH RECURSIVE ordered AS (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, event_id, ts, value, rn, CAST(value AS DOUBLE) AS ewma
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.event_id, o.ts, o.value, o.rn,
             CAST(0.3 AS DOUBLE) * o.value
               + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * r.ewma
      FROM rec r JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts, value, ewma FROM rec
    """,
    doc="NS per-user EWMA via grouped-map Pandas UDF — the recurrence "
    "pattern (sessionized decay, momentum features) that only the "
    "Arrow-batched escape hatch expresses cleanly. Oracle-backed: the "
    "DuckDB recursive CTE replays the same IEEE op sequence bit-for-bit.",
)
def ns_udf_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_value_ewma(load_table(spark, sf_dir, "events"))


PACK_SCHEMA = "doc_id long, shard int, bin_idx int, n_tokens long"
PACK_CAPACITY = 256  # tokens per context window (docs are 10..99 tokens)
PACK_SHARDS = 64


def pack_documents(
    docs: DataFrame, capacity: int = PACK_CAPACITY, n_shards: int = PACK_SHARDS
) -> DataFrame:
    """Sequence packing: place documents into fixed-capacity context
    windows (bins) with first-fit-decreasing — the training-prep step
    that turns a curated corpus into dense, fixed-length examples.

    Packing is inherently sequential, so it runs per SHARD: docs hash to
    ``doc_id % n_shards`` shards (deterministic, rerun-stable), each
    shard packs independently inside one Arrow batch via grouped-map
    applyInPandas. Bin density is within ~11/9 of optimal per shard
    (FFD's classic bound); global optimality is deliberately traded for
    shard parallelism — the same trade every distributed packer makes.
    At 100 TB: n_shards scales with the cluster, state never leaves a
    task, and the output is (doc → bin) assignments, not payload copies.
    """

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        bins: list[int] = []  # remaining capacity per bin
        assign = []
        for n in pdf["n_tokens"]:
            n = int(n)
            for i, rem in enumerate(bins):
                if n <= rem:
                    bins[i] = rem - n
                    assign.append(i)
                    break
            else:
                bins.append(capacity - n)
                assign.append(len(bins) - 1)
        pdf["bin_idx"] = assign
        return pdf[["doc_id", "shard", "bin_idx", "n_tokens"]]

    sized = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    ).filter(F.col("n_tokens") <= capacity)
    n = max(8, docs.sparkSession.sparkContext.defaultParallelism // 2)
    return (
        sized.repartition(n, "shard")
        .groupBy("shard")
        .applyInPandas(pack, schema=PACK_SCHEMA)
    )


# First-fit-decreasing is a deterministic integer-state recurrence, so a
# DuckDB recursive CTE can replay it exactly: per shard, docs arrive in
# (n_tokens DESC, doc_id) order; the carried state is the list of
# remaining bin capacities; `fit` = 1-based index of the first bin with
# room (list_filter over the index range), NULL → open a new bin.
_PACK_ORACLE = f"""
WITH RECURSIVE sized AS (
  SELECT doc_id,
         CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard,
         CAST(len({DUCK_TOKENS.format(col="text")}) AS BIGINT) AS n_tokens
  FROM documents
  WHERE len({DUCK_TOKENS.format(col="text")}) <= {PACK_CAPACITY}
),
ord AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY n_tokens DESC, doc_id) AS rn
  FROM sized
),
rec AS (
  SELECT shard, rn, doc_id, n_tokens, 0 AS bin_idx,
         [{PACK_CAPACITY} - n_tokens] AS rem
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
         CAST(coalesce(
           list_filter(range(1, len(r.rem) + 1), i -> r.rem[i] >= o.n_tokens)[1] - 1,
           len(r.rem)) AS INTEGER) AS bin_idx,
         CASE WHEN list_filter(range(1, len(r.rem) + 1),
                               i -> r.rem[i] >= o.n_tokens)[1] IS NULL
              THEN list_append(r.rem, {PACK_CAPACITY} - o.n_tokens)
              ELSE list_transform(range(1, len(r.rem) + 1),
                     j -> CASE WHEN j = list_filter(range(1, len(r.rem) + 1),
                                         i -> r.rem[i] >= o.n_tokens)[1]
                               THEN r.rem[j] - o.n_tokens ELSE r.rem[j] END)
         END AS rem
  FROM rec r JOIN ord o ON o.shard = r.shard AND o.rn = r.rn + 1
)
SELECT doc_id, shard, CAST(bin_idx AS INTEGER) AS bin_idx, n_tokens FROM rec
"""


@query(
    "ns_pack_sequences",
    oracle=_PACK_ORACLE,
    doc="NS sequence packing (FFD per doc_id%64 shard, 256-token windows) "
    "via grouped-map Pandas UDF — deterministic, rerun-stable doc→bin "
    "assignment for dense fixed-length training examples. Oracle-backed: "
    "FFD is an integer-state recurrence, replayed exactly by a DuckDB "
    "recursive CTE carrying the per-shard remaining-capacity list.",
)
def ns_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_documents(load_table(spark, sf_dir, "documents"))


@query(
    "ext_winsorized_stats",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
      FROM lineitem
    ),
    bounds AS (
      SELECT l_returnflag,
             quantile_disc(pc, 0.05) AS lo,
             quantile_disc(pc, 0.95) AS hi
      FROM c GROUP BY l_returnflag
    )
    SELECT c.l_returnflag,
           count(*) AS n,
           CAST(b.lo AS DOUBLE) / 100 AS p05,
           CAST(b.hi AS DOUBLE) / 100 AS p95,
           CAST(sum(least(greatest(c.pc, b.lo), b.hi)) AS DOUBLE) / 100 / count(*)
             AS winsorized_mean
    FROM c JOIN bounds b ON c.l_returnflag = b.l_returnflag
    GROUP BY c.l_returnflag, b.lo, b.hi
    """,
    doc="EXT winsorized robust mean per group: discrete p5/p95 bounds "
    "(quantile_disc = an actual data value, so bounds are integer cents "
    "and the clamped sum stays exact BIGINT — interpolated bounds would "
    "poison the sum with order-dependent doubles). Spark computes the "
    "bounds with the GK sketch at gate-exact accuracy, broadcasts the "
    "per-group bounds back, and clamps inline in the scan projection. "
    "The outlier-robust aggregation every feature pipeline needs before "
    "normalizing skewed monetary columns.",
)
def ext_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.functions.exact import cents

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", cents("l_extendedprice").alias("pc")
    )
    bounds = l.groupBy("l_returnflag").agg(
        F.percentile_approx("pc", 0.05, PCT_ACCURACY).alias("lo"),
        F.percentile_approx("pc", 0.95, PCT_ACCURACY).alias("hi"),
    )
    j = l.join(F.broadcast(bounds), "l_returnflag")
    return (
        j.groupBy("l_returnflag", "lo", "hi")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.least(F.greatest(F.col("pc"), F.col("lo")), F.col("hi"))).alias("s"),
        )
        .select(
            "l_returnflag",
            "n",
            (F.col("lo").cast("double") / 100).alias("p05"),
            (F.col("hi").cast("double") / 100).alias("p95"),
            ((F.col("s").cast("double") / 100) / F.col("n")).alias("winsorized_mean"),
        )
    )


@query(
    "ext_mad_outliers",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
      FROM lineitem
    ),
    med AS (
      SELECT l_returnflag, quantile_disc(pc, 0.5) AS med FROM c GROUP BY 1
    ),
    mad AS (
      SELECT c.l_returnflag, m.med, quantile_disc(abs(c.pc - m.med), 0.5) AS mad
      FROM c JOIN med m USING (l_returnflag) GROUP BY 1, 2
    )
    SELECT c.l_returnflag,
           CAST(x.med AS DOUBLE) / 100 AS median,
           CAST(x.mad AS DOUBLE) / 100 AS mad,
           count(*) FILTER (WHERE abs(c.pc - x.med) > 3 * x.mad) AS n_outliers,
           count(*) AS n
    FROM c JOIN mad x USING (l_returnflag)
    GROUP BY c.l_returnflag, x.med, x.mad
    """,
    doc="EXT robust outlier detection: median + MAD (median absolute "
    "deviation) per group, flagging |x - med| > 3*MAD. Everything stays "
    "integer cents (discrete quantiles are data values), so the whole "
    "chain is bit-deterministic — no sigma-based rule's float variance. "
    "MAD inherently needs a second quantile over deviations, so the plan "
    "re-reads the source once per stage; at 100 TB cache the projected "
    "cents column or compute both quantiles from one sorted shuffle.",
)
def ext_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.functions.exact import cents

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", cents("l_extendedprice").alias("pc")
    )
    med = l.groupBy("l_returnflag").agg(
        F.percentile_approx("pc", 0.5, PCT_ACCURACY).alias("med")
    )
    with_med = l.join(F.broadcast(med), "l_returnflag")
    mad = with_med.groupBy("l_returnflag", "med").agg(
        F.percentile_approx(F.abs(F.col("pc") - F.col("med")), 0.5, PCT_ACCURACY).alias(
            "mad"
        )
    )
    j = l.join(F.broadcast(mad), "l_returnflag")
    return (
        j.groupBy("l_returnflag", "med", "mad")
        .agg(
            F.count_if(F.abs(F.col("pc") - F.col("med")) > 3 * F.col("mad")).alias(
                "n_outliers"
            ),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            (F.col("med").cast("double") / 100).alias("median"),
            (F.col("mad").cast("double") / 100).alias("mad"),
            "n_outliers",
            "n",
        )
    )


@query(
    "ns_pack_stats",
    oracle=f"""
    SELECT shard,
           count(*) AS n_docs,
           count(DISTINCT bin_idx) AS n_bins,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_packed,
           CAST(sum(n_tokens) AS DOUBLE) / (count(DISTINCT bin_idx) * {PACK_CAPACITY})
             AS fill_rate
    FROM ({_PACK_ORACLE}) packed
    GROUP BY shard
    """,
    doc="NS packing-efficiency report: per-shard bin count and fill rate "
    "of the FFD packing — the metric that tells you whether your context "
    "windows are dense (padding waste = 1 - fill_rate directly prices "
    "training compute). Composes the packing operator with a tiny "
    "per-shard aggregate; FFD guarantees fill within 11/9 of optimal, "
    "and this query is how you check it on real data.",
)
def ns_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = pack_documents(load_table(spark, sf_dir, "documents"))
    return packed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("bin_idx").alias("n_bins"),
        F.sum("n_tokens").alias("tokens_packed"),
        (
            F.sum("n_tokens").cast("double")
            / (F.countDistinct("bin_idx") * PACK_CAPACITY)
        ).alias("fill_rate"),
    )
