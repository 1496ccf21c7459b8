"""Reference-parity relational operators + EXT relational set.

Each ``OP-*`` id maps to SURVEY.md §2's inventory of the reference
(paurush11/Adv-Big-Data-Indexing). The reference expresses these against
Redis/Elasticsearch (src/utils/apiLogicForSearch.ts, apiLogicForCRUD.ts);
here they are declarative DataFrame plans over the star-schema test
tables so Catalyst gets pushdown/pruning/join-selection for free.

Parent-child analogy used throughout (FIXTURES.md §B): customer ≈ plan
root, orders ≈ child objects, lineitem ≈ grandchildren; `routing` (the
reference's shard co-location key, src/utils/elasticSearch.ts:135-147)
≈ the parent-key column.

Scale notes are inline per operator: broadcast the dimension side,
semi-joins instead of join+distinct, aggregates exact-decimal so results
are deterministic under any partitioning/order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.contract import query
from adv_big_data_indexing_spark.functions.exact import avg_money, cents, dec, epoch_us, rev_c2, sum_money
from adv_big_data_indexing_spark.sources.catalog import load_table, spread

# ---------------------------------------------------------------------------
# 2.A — scans, sources, sinks (read-side analogs)
# ---------------------------------------------------------------------------


@query(
    "op_a1_point_lookup",
    oracle="SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = 7",
    doc="OP-A1 point lookup by key (ref: fetchObjectFromRedis, apiLogicForCRUD.ts:360-363). "
    "Key filter pushed to parquet stats → only matching row-groups scanned.",
)
def op_a1_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") == 7)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


@query(
    "op_a2_existence_probe",
    oracle="SELECT count(*) > 0 AS exists_flag FROM orders WHERE o_orderkey = 7",
    doc="OP-A2 EXISTS probe (ref: checkObjectExists, apiLogicForCRUD.ts:356-359).",
)
def op_a2_existence_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") == 7)
        .agg((F.count("*") > 0).alias("exists_flag"))
    )


@query(
    "op_a3_point_lookup_hash",
    oracle="""
    SELECT o_orderkey,
           md5(concat_ws('|', o_orderkey, o_orderstatus, o_orderpriority,
                         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR))) AS content_hash
    FROM orders WHERE o_orderkey = 7
    """,
    doc="OP-A3 point lookup + content-equality hash (ref: ObjectExists compares stored "
    "vs supplied body, elasticSearch.ts:216-238; ETag md5 jwtAuth.ts:71-73).",
)
def op_a3_point_lookup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") == 7)
    return o.select(
        "o_orderkey",
        F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey"),
                F.col("o_orderstatus"),
                F.col("o_orderpriority"),
                dec("o_totalprice").cast("string"),
            )
        ).alias("content_hash"),
    )


@query(
    "op_a5_full_scan_limit",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation LIMIT 1000",
    doc="OP-A5 full scan with the reference's fixed 1000-doc cap "
    "(match_all size:1000, elasticSearch.ts:201-215). Limit pushes into the scan.",
)
def op_a5_full_scan_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey").limit(1000)


# ---------------------------------------------------------------------------
# 2.B — projections, filters, predicates
# ---------------------------------------------------------------------------


@query(
    "op_b1_conjunctive_filter",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_nationkey FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_nationkey = 5
    """,
    doc="OP-B1 conjunctive exact-match search (/search/plans bool.must of match_phrase, "
    "apiLogicForSearch.ts:295-326). Both predicates push to parquet.",
)
def op_b1_conjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") == 5))
        .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    )


@query(
    "op_b2_filter_by_id",
    oracle="SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = 77",
    doc="OP-B2 match_phrase on _id (apiLogicForSearch.ts:44-55).",
)
def op_b2_filter_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") == 77).select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "op_b3_filter_by_routing",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem WHERE l_orderkey = 7",
    doc="OP-B3 filter by routing/parent key — all children co-routed with a parent "
    "(match _routing, apiLogicForSearch.ts:56-67). Parent key ≡ partition column at scale.",
)
def op_b3_filter_by_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") == 7)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@query(
    "op_b4_range_predicate",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity < 3.0
    """,
    doc="OP-B4 strict range predicate on a child attribute (range lt/gt DSL, "
    "apiLogicForSearch.ts:193-221; strict per the DSL, not the README prose).",
)
def op_b4_range_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") < 3.0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@query(
    "op_b5_projection",
    oracle="SELECT p_partkey, p_name, p_retailprice FROM part",
    doc="OP-B5 projection / column pruning (_source projection, "
    "apiLogicForSearch.ts:275-279). ReadSchema in the scan should show only 3 columns.",
)
def op_b5_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_retailprice")


@query(
    "op_b6_prefix_scan",
    oracle="""
    SELECT p_partkey, p_name FROM part WHERE p_name LIKE 'red%' AND p_name NOT LIKE '%bolt'
    """,
    doc="OP-B6 key-prefix scan with exclusions (ref ops scan: KEYS * minus prefixes, README.md:18).",
)
def op_b6_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.filter(F.col("p_name").like("red%") & ~F.col("p_name").like("%bolt")).select(
        "p_partkey", "p_name"
    )


# ---------------------------------------------------------------------------
# 2.C — joins (the heart of the reference)
# ---------------------------------------------------------------------------


@query(
    "op_c1_reconstruct_flat",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
           l.l_linenumber, l.l_quantity, l.l_extendedprice
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey < 100
    """,
    doc="OP-C1 reconstruction join, flat form (reconstructObject recursive lookup "
    "elasticSearch.ts:257-300 → one set-oriented equi-join; the N+1 loop disappears). "
    "Nested form is op_c1_reconstruct_nested (rows-only check).",
)
def op_c1_reconstruct_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    l = load_table(spark, sf_dir, "lineitem")
    return o.join(l, o.o_orderkey == l.l_orderkey).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query(
    "op_c1_reconstruct_nested",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
           COALESCE(la.lineitems_ser, '') AS lineitems_ser
    FROM orders o
    LEFT JOIN (
      SELECT l_orderkey,
             string_agg(
               CAST(l_linenumber AS BIGINT) || ':' ||
               CAST(round(l_quantity * 100) AS BIGINT) || ':' ||
               CAST(round(l_extendedprice * 100) AS BIGINT),
               '|' ORDER BY l_linenumber, l_quantity, l_extendedprice
             ) AS lineitems_ser
      FROM lineitem GROUP BY l_orderkey
    ) la ON o.o_orderkey = la.l_orderkey
    WHERE o.o_orderkey < 100
    """,
    doc="OP-C1 faithful nested reconstruction: parent rows re-nested with an "
    "objectId-sorted array of children (collect_list(struct(...)) after sort), "
    "mirroring reconstructObject's output shape (elasticSearch.ts:257-300). "
    "The nested array<struct> is built for real, then serialized at the edge "
    "(transform → concat_ws → array_join, integer-cents) because the driver's "
    "pandas canonicalizer cannot sort array cells (CORRECTNESS_r02 crash); "
    "the true nested schema is round-trip-tested in tests/test_document_pipeline.py.",
)
def op_c1_reconstruct_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    l = load_table(spark, sf_dir, "lineitem")
    children = (
        l.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", "l_quantity", "l_extendedprice"))
            ).alias("lineitems")
        )
    )
    nested = o.join(children, o.o_orderkey == children.l_orderkey, "left").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "lineitems"
    )
    ser = F.array_join(
        F.transform(
            "lineitems",
            lambda x: F.concat_ws(
                ":",
                x["l_linenumber"].cast("bigint"),
                F.round(x["l_quantity"] * 100).cast("bigint"),
                F.round(x["l_extendedprice"] * 100).cast("bigint"),
            ),
        ),
        "|",
    )
    return nested.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.coalesce(ser, F.lit("")).alias("lineitems_ser"),
    )


@query(
    "op_c2_has_child_eq",
    oracle="""
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
    bench=True,
    doc="OP-C2 has_child semi-join, equality predicate (allParentsHaving, "
    "apiLogicForSearch.ts:245-294). left_semi: parents stream once, no fan-out dedup.",
)
def op_c2_has_child_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "op_c3_has_child_range",
    oracle="""
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000.0)
    """,
    doc="OP-C3 has_child semi-join with range predicate "
    "(allChildrenHavingCopayLessOrGreater, apiLogicForSearch.ts:182-244).",
)
def op_c3_has_child_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "op_c4_has_parent",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
    """,
    doc="OP-C4 has_parent semi-join — children whose parent matches. The reference "
    "never got this working (two attempts labeled 'Failed Query', "
    "apiLogicForSearch.ts:123-162); trivial as a Spark left_semi, shipped working.",
)
def op_c4_has_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return l.join(o, l.l_orderkey == o.o_orderkey, "left_semi").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "op_c5_edges",
    oracle="""
    SELECT concat_ws('_', 'order', o_orderkey) AS child_id,
           concat_ws('_', 'customer', o_custkey) AS parent_id,
           'customer_order' AS rel_name
    FROM orders
    UNION ALL
    SELECT concat_ws('_', 'lineitem', l_orderkey, l_linenumber) AS child_id,
           concat_ws('_', 'order', l_orderkey) AS parent_id,
           'order_lineitem' AS rel_name
    FROM lineitem
    """,
    doc="OP-C5 relationship-edge derivation (generateRelationships/updateChildWithParent, "
    "elasticSearch.ts:50-151) as a pure projection+union — no imperative walk, and the "
    "key synthesis is OP-F1 (objectType_objectId, elasticSearch.ts:44).",
)
def op_c5_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    order_edges = o.select(
        F.concat_ws("_", F.lit("order"), F.col("o_orderkey")).alias("child_id"),
        F.concat_ws("_", F.lit("customer"), F.col("o_custkey")).alias("parent_id"),
        F.lit("customer_order").alias("rel_name"),
    )
    line_edges = l.select(
        F.concat_ws("_", F.lit("lineitem"), F.col("l_orderkey"), F.col("l_linenumber")).alias("child_id"),
        F.concat_ws("_", F.lit("order"), F.col("l_orderkey")).alias("parent_id"),
        F.lit("order_lineitem").alias("rel_name"),
    )
    return order_edges.unionAll(line_edges)


# ---------------------------------------------------------------------------
# 2.D — aggregation surface of the reference
# ---------------------------------------------------------------------------


@query(
    "op_d1_hit_count",
    oracle="SELECT count(*) AS n_hits FROM lineitem WHERE l_quantity < 10.0",
    doc="OP-D1 hit count (hits.total.value, apiLogicForSearch.ts:274). "
    "Partial counts map-side, one exchange of a single long.",
)
def op_d1_hit_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") < 10.0)
        .agg(F.count("*").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# 2.F — scalar functions
# ---------------------------------------------------------------------------


@query(
    "op_f1_key_synthesis",
    oracle="""
    SELECT concat_ws('_', 'order', o_orderkey) AS pk, o_orderkey FROM orders WHERE o_orderkey < 50
    """,
    doc="OP-F1 primary-key synthesis objectType_objectId (elasticSearch.ts:44).",
)
def op_f1_key_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 50)
    return o.select(
        F.concat_ws("_", F.lit("order"), F.col("o_orderkey")).alias("pk"), "o_orderkey"
    )


@query(
    "op_f2_content_hash",
    oracle="""
    SELECT n_nationkey, md5(concat_ws('|', n_nationkey, n_name, n_regionkey)) AS etag FROM nation
    """,
    doc="OP-F2 content hash / ETag = md5 of the serialized row (generateEtag, "
    "jwtAuth.ts:71-73). Deterministic field order via explicit concat.",
)
def op_f2_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.md5(F.concat_ws("|", F.col("n_nationkey"), F.col("n_name"), F.col("n_regionkey"))).alias(
            "etag"
        ),
    )


@query(
    "op_f3_date_validation",
    oracle="""
    WITH raw AS (
      SELECT CAST(o_orderkey AS BIGINT) AS src_id, strftime(o_orderdate, '%d-%m-%Y') AS date_str
      FROM orders WHERE o_orderkey < 100
      UNION ALL SELECT -1, '31-02-2024'
      UNION ALL SELECT -2, '99-99-9999'
      UNION ALL SELECT -3, '15-06-2020'
    )
    SELECT src_id, date_str,
           CAST(try_strptime(date_str, '%d-%m-%Y') AS DATE) AS parsed,
           (try_strptime(date_str, '%d-%m-%Y') IS NOT NULL
            AND regexp_matches(date_str, '^[0-9]{2}-[0-9]{2}-[0-9]{4}$')) AS is_valid
    FROM raw
    """,
    doc="OP-F3 DD-MM-YYYY date validation incl. real-calendar check — rejects 31-02 "
    "(dateValidator.ts:1-14, schema.txt:16-19). try_to_date does calendar validity; "
    "rlike enforces the format.",
)
def op_f3_date_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 100)
        .select(
            F.col("o_orderkey").cast("bigint").alias("src_id"),
            F.date_format("o_orderdate", "dd-MM-yyyy").alias("date_str"),
        )
    )
    spark_extra = spark.createDataFrame(
        [(-1, "31-02-2024"), (-2, "99-99-9999"), (-3, "15-06-2020")], "src_id bigint, date_str string"
    )
    raw = o.unionAll(spark_extra)
    parsed = F.expr("try_to_date(date_str, 'dd-MM-yyyy')")
    return raw.select(
        "src_id",
        "date_str",
        parsed.alias("parsed"),
        (parsed.isNotNull() & F.col("date_str").rlike(r"^[0-9]{2}-[0-9]{2}-[0-9]{4}$")).alias(
            "is_valid"
        ),
    )


# ---------------------------------------------------------------------------
# 2.G — mutation/merge analogs expressed as selects
# ---------------------------------------------------------------------------


@query(
    "op_g2_merge_patch",
    oracle="""
    WITH patch AS (
      SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) + 100 AS new_acctbal,
             'PATCHED' AS new_segment
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT c.c_custkey,
           c.c_name,
           CAST(coalesce(p.new_acctbal, CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal,
           coalesce(p.new_segment, c.c_mktsegment) AS mktsegment,
           (p.c_custkey IS NOT NULL) AS was_patched
    FROM customer c LEFT JOIN patch p ON c.c_custkey = p.c_custkey
    """,
    doc="OP-G2 merge-patch: scalar fields overwritten when present in the patch, "
    "otherwise kept (modifyObject.ts:32-87) — set-oriented as left-join + coalesce. "
    "Keyed array-merge semantics live in operators/mutate.py (pytest-verified).",
)
def op_g2_merge_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    patch = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            F.col("c_custkey").alias("p_custkey"),
            (dec("c_acctbal") + 100).alias("new_acctbal"),
            F.lit("PATCHED").alias("new_segment"),
        )
    )
    joined = c.join(patch, c.c_custkey == patch.p_custkey, "left")
    return joined.select(
        "c_custkey",
        "c_name",
        F.coalesce(F.col("new_acctbal"), dec("c_acctbal")).cast("double").alias("acctbal"),
        F.coalesce(F.col("new_segment"), F.col("c_mktsegment")).alias("mktsegment"),
        F.col("p_custkey").isNotNull().alias("was_patched"),
    )


@query(
    "op_g4_cascade_closure",
    oracle="""
    SELECT 'customer' AS entity_type, CAST(c_custkey AS VARCHAR) AS entity_id
    FROM customer WHERE c_custkey = 7
    UNION ALL
    SELECT 'order', CAST(o_orderkey AS VARCHAR) FROM orders WHERE o_custkey = 7
    UNION ALL
    SELECT 'lineitem', concat_ws('_', l.l_orderkey, l.l_linenumber)
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_custkey = 7
    """,
    doc="OP-G4 cascading-delete closure (deleteObject recursion, "
    "elasticSearch.ts:311-357): the id set to delete, computed by 2 joins since the "
    "hierarchy depth is schema-bounded — no recursion.",
)
def op_g4_cascade_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    root = c.filter(F.col("c_custkey") == 7).select(
        F.lit("customer").alias("entity_type"), F.col("c_custkey").cast("string").alias("entity_id")
    )
    child_orders = o.filter(F.col("o_custkey") == 7)
    order_ids = child_orders.select(
        F.lit("order").alias("entity_type"), F.col("o_orderkey").cast("string").alias("entity_id")
    )
    line_ids = (
        l.join(child_orders.select("o_orderkey"), l.l_orderkey == F.col("o_orderkey"), "inner")
        .select(
            F.lit("lineitem").alias("entity_type"),
            F.concat_ws("_", F.col("l_orderkey"), F.col("l_linenumber")).alias("entity_id"),
        )
    )
    return root.unionAll(order_ids).unionAll(line_ids)


# ---------------------------------------------------------------------------
# EXT — aggregations (SURVEY §2.D extension set)
# ---------------------------------------------------------------------------


@query(
    "ext_agg_groupby",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(q) AS DOUBLE) / 100 AS sum_qty,
           CAST(sum(e) AS DOUBLE) / 100 AS sum_base_price,
           CAST(sum(e * (100 - d)) AS DOUBLE) / 10000 AS sum_disc_price,
           CAST(sum(e * (100 - d) * (100 + t)) AS DOUBLE) / 1000000 AS sum_charge,
           CAST(sum(q) AS DOUBLE) / 100 / count(*) AS avg_qty,
           CAST(sum(e) AS DOUBLE) / 100 / count(*) AS avg_price,
           count(*) AS count_order
    FROM (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity * 100) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS e,
             CAST(round(l_discount * 100) AS BIGINT) AS d,
             CAST(round(l_tax * 100) AS BIGINT) AS t
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
    )
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
    doc="EXT hash aggregate (TPC-H Q1 shape). Money is exact integer cents, so the "
    "whole aggregate is long arithmetic inside whole-stage codegen — ~2x faster than "
    "decimal(18,2) sums, still order-independent and bit-identical to the oracle "
    "(DuckDB sums BIGINT into exact int128). Product sums (scale 1e4/1e6, up to "
    "~1.2e11 per row) are split into hi/lo longs around 1e9 so each partial sum "
    "stays below 2^63 out to ~1e14 rows per group (100 TB-safe); the exact total "
    "is reassembled in decimal(38,0) over the few grouped rows only. Partial "
    "aggregation is map-side; only the tiny grouped state shuffles.",
)
def ext_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = F.lit(1_000_000_000)
    # no spread(): the cents math is cheaper than a round-robin exchange of
    # 600k raw rows (measured 0.64-0.94s unspread vs 0.94-1.33s spread at
    # sf0.1); the single-task scan is the parquet single-row-group floor,
    # which multi-file tables at real scale don't have.
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select(
            "l_returnflag",
            "l_linestatus",
            cents("l_quantity").alias("q"),
            cents("l_extendedprice").alias("e"),
            (cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))).alias("disc"),
            (
                cents("l_extendedprice")
                * (F.lit(100) - cents("l_discount"))
                * (F.lit(100) + cents("l_tax"))
            ).alias("charge"),
        )
    )
    # row values are non-negative, so DIV/% decompose exactly
    agg = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("q").alias("q_sum"),
        F.sum("e").alias("e_sum"),
        F.sum(F.expr("disc DIV 1000000000")).alias("disc_hi"),
        F.sum(F.expr("disc % 1000000000")).alias("disc_lo"),
        F.sum(F.expr("charge DIV 1000000000")).alias("charge_hi"),
        F.sum(F.expr("charge % 1000000000")).alias("charge_lo"),
        F.count("*").alias("count_order"),
    )

    def _reassemble(hi: str, lo: str) -> Column:
        return (F.col(hi).cast("decimal(38,0)") * split + F.col(lo)).cast("double")

    return agg.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("q_sum").cast("double") / 100).alias("sum_qty"),
        (F.col("e_sum").cast("double") / 100).alias("sum_base_price"),
        (_reassemble("disc_hi", "disc_lo") / 10000).alias("sum_disc_price"),
        (_reassemble("charge_hi", "charge_lo") / 1000000).alias("sum_charge"),
        (F.col("q_sum").cast("double") / 100 / F.col("count_order")).alias("avg_qty"),
        (F.col("e_sum").cast("double") / 100 / F.col("count_order")).alias("avg_price"),
        F.col("count_order"),
    )


@query(
    "ext_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT l_partkey) AS n_part,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="EXT multi-distinct aggregate. Spark expands distinct aggregates "
    "(3× rows here) but partial-aggregates the distinct combos map-side, "
    "so ONE scan feeds a tiny shuffle — the right 100 TB shape (a "
    "per-distinct split would re-scan the table per column). No spread(): "
    "the expand+dedup is cheaper than a round-robin exchange of the raw "
    "rows (measured 2× at sf0.1). At scale prefer approx_count_distinct "
    "(HLL) — exact here for the oracle.",
)
def ext_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "ext_agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="EXT rollup (hierarchical grouping-sets).",
)
def ext_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), sum_money("o_totalprice", "sum_price"))
    )


@query(
    "ext_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="EXT cube over both grouping dims.",
)
def ext_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spread(load_table(spark, sf_dir, "lineitem"))
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), sum_money("l_quantity", "sum_qty"))
    )


# ---------------------------------------------------------------------------
# EXT — window functions, sorts, limits, set ops (SURVEY §2.E)
# ---------------------------------------------------------------------------


@query(
    "ext_window_rank",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
    bench=True,
    doc="EXT ranking window: top-3 orders per customer. Deterministic rank via "
    "the unique o_orderkey tie-break. One shuffle on the partition key.",
)
def ext_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.rank().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "ext_window_lag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                - coalesce(CAST(lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DECIMAL(18,2)), 0) AS DOUBLE) AS price_delta
    FROM orders
    """,
    doc="EXT lag/lead navigation window with exact-decimal delta.",
)
def ext_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        prev.alias("prev_price"),
        (dec("o_totalprice") - F.coalesce(dec(prev), F.lit(0))).cast("double").alias("price_delta"),
    )


@query(
    "ext_window_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
    """,
    doc="EXT running aggregate with an explicit ROWS frame; exact decimal running sum.",
)
def ext_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


@query(
    "ext_topk_orderby",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="EXT global top-k. Spark runs TakeOrderedAndProject — per-partition heaps, "
    "no full sort; deterministic via the o_orderkey tie-break.",
)
def ext_topk_orderby(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "ext_setops",
    oracle="""
    SELECT 'both' AS tag, c_custkey FROM
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       INTERSECT
       SELECT c_custkey FROM customer WHERE c_nationkey < 10)
    UNION ALL
    SELECT 'building_only', c_custkey FROM
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       EXCEPT
       SELECT c_custkey FROM customer WHERE c_nationkey < 10)
    """,
    doc="EXT set operations (intersect / except, distinct semantics).",
)
def ext_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    low_nation = c.filter(F.col("c_nationkey") < 10).select("c_custkey")
    both = building.intersect(low_nation).select(F.lit("both").alias("tag"), "c_custkey")
    only = building.exceptAll(low_nation).distinct().select(
        F.lit("building_only").alias("tag"), "c_custkey"
    )
    return both.unionAll(only)


@query(
    "ext_join_left_null",
    oracle="""
    SELECT c.c_custkey, count(o.o_orderkey) AS n_big_orders
    FROM customer c LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey AND o.o_totalprice > 490000.0
    GROUP BY c.c_custkey
    """,
    doc="EXT left outer join with nulls on the probe side, then count-skipping-nulls.",
)
def ext_join_left_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 490000.0)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


@query(
    "ext_join_anti",
    oracle="""
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
    doc="EXT anti join (guarded-insert OP-A7's building block: left-anti before append).",
)
def ext_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "ext_join_full_outer",
    oracle="""
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_name, o.n_orders, o.spend
    FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 500) c
    FULL OUTER JOIN (
      SELECT o_custkey, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM orders WHERE o_custkey <= 1000 GROUP BY 1
    ) o ON c.c_custkey = o.o_custkey
    """,
    doc="EXT full outer join with genuine null rows on BOTH sides (customers "
    "≤500 without orders; order groups 501–1000 without a customer row). "
    "Completes the join matrix (inner/left/semi/anti/broadcast elsewhere). "
    "Full outer cannot broadcast — Spark picks a shuffle join on the key, "
    "which is the right plan at any scale.",
)
def ext_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 500)
        .select("c_custkey", "c_name")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 1000)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), sum_money("o_totalprice", "spend"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        "n_orders",
        "spend",
    )


@query(
    "ext_not_in_null",
    oracle="""
    SELECT 'not_in' AS variant, count(*) AS n FROM customer
    WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders)
    UNION ALL
    SELECT 'not_exists', count(*) FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE nullif(o.o_custkey, 7) = c.c_custkey)
    """,
    doc="EXT three-valued-logic anti joins: NOT IN over a subquery containing "
    "a NULL returns no rows (UNKNOWN for every probe), while the NOT EXISTS "
    "rewrite returns the real anti set — the classic null trap, surfaced as "
    "two labeled counts. Spark plans the NOT IN as a null-aware anti join "
    "(a distinct physical operator from plain left_anti).",
)
def ext_not_in_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("__nn_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__nn_orders")
    return spark.sql(
        """
        SELECT 'not_in' AS variant, count(*) AS n FROM __nn_customer
        WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM __nn_orders)
        UNION ALL
        SELECT 'not_exists', count(*) FROM __nn_customer c
        WHERE NOT EXISTS (SELECT 1 FROM __nn_orders o
                          WHERE nullif(o.o_custkey, 7) = c.c_custkey)
        """
    )


@query(
    "ext_map_ops",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           count(*) AS n_types,
           max(CASE WHEN event_type = 'click' THEN c END) AS n_clicks,
           string_agg(event_type, ',' ORDER BY event_type) AS types_csv
    FROM per GROUP BY user_id
    """,
    doc="EXT map-typed column surface: per-user event_type→count map built "
    "with map_from_entries over a key-sorted collect_list, probed with "
    "element_at (missing key → NULL, matching the oracle's CASE-with-no-else) "
    "and rendered via map_keys/cardinality. The oracle verifies the same "
    "semantics in plain SQL — map construction is the Spark surface on test.",
)
def ext_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("c"))
    )
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "c")))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.expr("cardinality(m)").cast("bigint").alias("n_types"),
        F.element_at("m", F.lit("click")).alias("n_clicks"),
        F.concat_ws(",", F.map_keys("m")).alias("types_csv"),
    )


@query(
    "ext_window_ntile",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS quartile
    FROM customer
    """,
    doc="EXT ntile bucketing (quartiles of account balance within each market "
    "segment); deterministic via the c_custkey tie-break. Scale shape: "
    "c_mktsegment has FIVE values, so Window.partitionBy(segment) is a "
    "customer-table-sized frame through one task per segment — "
    "ordered_rank (operators/advanced.py) grouped by segment instead "
    "range-partitions by (segment, balance, key) and reassembles exact "
    "per-segment ranks from broadcast per-(partition, segment) offsets, "
    "ntile_bucket turns them into quartiles; no task ever holds a "
    "segment's full frame.",
)
def ext_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.operators.advanced import (  # noqa: PLC0415
        ntile_bucket,
        ordered_rank,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", "c_acctbal"
    )
    return ordered_rank(
        c,
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
        group_cols=("c_mktsegment",),
    ).select("c_mktsegment", "c_custkey", ntile_bucket(4).alias("quartile"))


@query(
    "ext_join_broadcast_star",
    oracle="""
    SELECT r.r_name, n.n_name,
           count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    bench=True,
    doc="EXT star join through two broadcast dimensions — nation/region are "
    "fixed-cardinality, so the fact side never shuffles for the join.",
)
def ext_join_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), sum_money("c_acctbal", "sum_acctbal"))
    )


# ---------------------------------------------------------------------------
# EXT — scalar function coverage (SURVEY §2.F extension)
# ---------------------------------------------------------------------------


@query(
    "ext_scalar_string",
    oracle="""
    SELECT c_custkey,
           upper(c_mktsegment) AS seg_upper,
           lower(c_name) AS name_lower,
           CAST(length(c_name) AS INTEGER) AS name_len,
           substr(c_name, 10, 9) AS digits,
           replace(c_name, 'Customer#', 'C#') AS short_name,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
           concat_ws(':', c_mktsegment, c_custkey) AS tagged
    FROM customer
    """,
    doc="EXT string scalar coverage: case, length, substring, replace, pad, concat.",
)
def ext_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.lower("c_name").alias("name_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 10, 9).alias("digits"),
        F.replace(F.col("c_name"), F.lit("Customer#"), F.lit("C#")).alias("short_name"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded"),
        F.concat_ws(":", F.col("c_mktsegment"), F.col("c_custkey")).alias("tagged"),
    )


@query(
    "ext_scalar_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(month(o_orderdate) AS INTEGER) AS o_month,
           CAST(dayofmonth(o_orderdate) AS INTEGER) AS o_day,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS days_since_epoch_start,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS ts_micros
    FROM orders WHERE o_orderkey < 1000
    """,
    doc="EXT date/time scalar coverage; epoch micros is the tz-free exchange format.",
)
def ext_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_epoch_start"),
        epoch_us("o_orderdate").alias("ts_micros"),
    )


@query(
    "ext_scalar_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(abs(CAST(l_discount AS DECIMAL(18,2)) - 0.05) AS DOUBLE) AS disc_dev,
           CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
           CAST(floor(l_quantity / 7) AS BIGINT) AS qty_bucket,
           l_orderkey % 7 AS key_mod,
           sqrt(l_quantity) AS qty_sqrt,
           CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), -2) AS DOUBLE) AS price_100
    FROM lineitem WHERE l_orderkey < 500
    """,
    doc="EXT math scalar coverage. sqrt/division are IEEE correctly-rounded (bit-stable "
    "across engines); rounding happens on exact decimals, never raw doubles.",
)
def ext_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(dec("l_discount") - F.lit(0.05).cast("decimal(18,2)")).cast("double").alias("disc_dev"),
        F.ceil("l_quantity").cast("bigint").alias("qty_ceil"),
        F.floor(F.col("l_quantity") / 7).cast("bigint").alias("qty_bucket"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.round(dec("l_extendedprice"), -2).cast("double").alias("price_100"),
    )


@query(
    "ext_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           event_type
    FROM events WHERE event_id < 2000
    """,
    doc="EXT JSON path extraction (the reference's JSON.parse boundary, OP-F4, "
    "as a column op).",
)
def ext_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
        "event_type",
    )


# ---------------------------------------------------------------------------
# 2.A sink-side analogs (upsert / guarded insert / keyed + predicate delete)
# expressed as the SELECT shapes that a MERGE/DELETE would compute
# ---------------------------------------------------------------------------


@query(
    "op_a6_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS price, 2 AS version
      FROM orders WHERE o_orderkey % 100 = 0
    ),
    unioned AS (
      SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price, 1 AS version FROM orders
      UNION ALL
      SELECT o_orderkey, CAST(price AS DOUBLE), version FROM updates
    )
    SELECT o_orderkey, price, version FROM unioned
    QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) = 1
    """,
    doc="OP-A6/A8 keyed upsert (SET key / ES index-by-_id, "
    "elasticSearch.ts:3-11, rabbitMq.ts:43-49): last-writer-wins resolved "
    "set-oriented — union + row_number per key, the exact state a Delta "
    "MERGE would leave. Idempotent under replay (max version wins).",
)
def op_a6_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.operators.mutate import upsert_last_writer

    o = load_table(spark, sf_dir, "orders")
    existing = o.select(
        "o_orderkey", dec("o_totalprice").cast("double").alias("price"), F.lit(1).alias("version")
    )
    updates = o.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        (dec("o_totalprice") + 1).cast("double").alias("price"),
        F.lit(2).alias("version"),
    )
    return upsert_last_writer(existing, updates, "o_orderkey", "version")


@query(
    "op_a7_guarded_insert",
    oracle="""
    WITH incoming AS (SELECT o_orderkey + 14000 AS o_orderkey FROM orders WHERE o_orderkey < 2000)
    SELECT i.o_orderkey, NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = i.o_orderkey) AS insertable
    FROM incoming i
    """,
    doc="OP-A7 guarded insert (insert-iff-absent else 409, "
    "apiLogicForCRUD.ts:390-416): membership probe as an anti-join flag — "
    "no row data moves for the existence test.",
)
def op_a7_guarded_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    incoming = o.filter(F.col("o_orderkey") < 2000).select(
        (F.col("o_orderkey") + 14000).alias("o_orderkey")
    )
    existing = o.select(F.col("o_orderkey").alias("e_key"))
    return (
        incoming.join(existing, incoming.o_orderkey == existing.e_key, "left")
        .select("o_orderkey", F.col("e_key").isNull().alias("insertable"))
    )


@query(
    "op_a9_keyed_delete",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 1000 = 0)
    """,
    doc="OP-A9 keyed delete (DEL key, apiLogicForCRUD.ts:364-389): the "
    "surviving set after an anti-join against the delete keys — what "
    "DELETE WHERE key IN (...) rewrites to on immutable storage.",
)
def op_a9_keyed_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    delete_keys = o.filter(F.col("o_orderkey") % 1000 == 0).select(
        F.col("o_orderkey").alias("d_key")
    )
    return o.join(delete_keys, o.o_orderkey == delete_keys.d_key, "left_anti").select(
        "o_orderkey", "o_orderstatus"
    )


@query(
    "op_a10_predicate_delete",
    oracle="""
    SELECT count(*) AS surviving FROM lineitem WHERE NOT (l_quantity < 5.0)
    """,
    doc="OP-A10 bulk delete by predicate (deleteByQuery, "
    "elasticSearch.ts:186-200): survivors of DELETE WHERE pred.",
)
def op_a10_predicate_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(~(F.col("l_quantity") < 5.0)).agg(F.count("*").alias("surviving"))


@query(
    "ext_scalar_hash",
    oracle="""
    SELECT n_nationkey,
           md5(n_name) AS h_md5,
           sha256(n_name) AS h_sha256,
           CAST(length(md5(concat_ws('|', n_nationkey, n_name))) AS INTEGER) AS md5_len
    FROM nation
    """,
    doc="EXT hash-function coverage beyond the ETag md5: sha256 for "
    "content addressing where collision resistance matters (dataset "
    "lineage ids), with the portable-hex contract.",
)
def ext_scalar_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.md5("n_name").alias("h_md5"),
        F.sha2(F.col("n_name"), 256).alias("h_sha256"),
        F.length(F.md5(F.concat_ws("|", F.col("n_nationkey"), F.col("n_name")))).alias("md5_len"),
    )


@query(
    "ext_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255 AS low_byte,
           l_orderkey | 4096 AS with_flag,
           xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS mixed,
           CAST(bit_count(l_orderkey) AS INTEGER) AS popcount
    FROM lineitem WHERE l_orderkey < 200
    """,
    doc="EXT bitwise coverage: and/or/xor/popcount — the primitive layer "
    "under the SimHash/LSH signature operators.",
)
def ext_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("l_orderkey").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_linenumber").cast("bigint")).alias("mixed"),
        F.bit_count("l_orderkey").cast("int").alias("popcount"),
    )


@query(
    "ext_join_tpch_q5",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="EXT six-table star join (TPC-H Q5 shape): local-supplier revenue "
    "per nation for one region-year. Scale plan: region/nation/supplier "
    "broadcast; the selective region+date predicates reduce orders BEFORE "
    "the lineitem join (Catalyst pushes both), so the only big shuffle is "
    "lineitem⋈orders on orderkey. Exact decimal revenue.",
)
def ext_join_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(asia_nations),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "c_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    # orders shrink to ~one region-year (~3% of orders) before touching
    # lineitem — explicitly broadcast as the probe-side build: left to its
    # own size estimates Spark picks the pruned LINEITEM scan as the build
    # side here (backwards — the fact table never broadcasts at scale).
    # The reduced orders set stays |orders|·region_frac·year_frac at every
    # SF; if a deployment's reduction no longer fits the driver, drop the
    # hint and AQE falls back to a shuffle join on orderkey.
    co = F.broadcast(
        orders.join(cust, orders.o_custkey == cust.c_custkey).select(
            "o_orderkey", "c_nationkey", "n_name"
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    # no spread(): with every join broadcast, lineitem needs no
    # redistribution — scan, probe, and partial agg pipeline in one stage
    # (a real multi-file table parallelizes by split; the testdata
    # single-row-group file wouldn't benefit from the extra shuffle here)
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    j = l.join(co, l.l_orderkey == co.o_orderkey).join(
        F.broadcast(supp),
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("s_nationkey") == F.col("c_nationkey")),
    )
    revenue = F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
    return j.groupBy("n_name").agg(revenue.cast("double").alias("revenue"))


@query(
    "ext_histogram",
    oracle="""
    SELECT CAST(least(floor(o_totalprice / 25000.0), 19) AS INTEGER) AS bin,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_price
    FROM orders
    GROUP BY bin
    """,
    doc="EXT equi-width histogram: 20 bins of 25k over o_totalprice with "
    "exact integer-cents bin sums. floor of an IEEE division is identical "
    "in both engines, so bin assignment is deterministic. One map-side "
    "combined aggregate — the profiling primitive behind range-partition "
    "boundary picking and skew detection at 100 TB.",
)
def ext_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bin_col = F.least(F.floor(F.col("o_totalprice") / 25000.0), F.lit(19)).cast("int")
    return (
        o.groupBy(bin_col.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents("o_totalprice")).cast("double") / 100).alias("sum_price"),
        )
    )


@query(
    "ext_referential_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey -> orders' AS edge,
           (SELECT count(*) FROM lineitem) AS child_rows,
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphan_rows
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c WHERE NOT EXISTS
             (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    """,
    doc="EXT referential-integrity audit: orphan counts for every foreign-key "
    "edge of the star schema via anti joins — the data-quality gate a "
    "pipeline runs before publishing a snapshot (the engine analog of the "
    "reference's one-parent-per-child invariant, SURVEY §1.4). Dimension "
    "sides broadcast; the fact side streams through each anti join "
    "without shuffling.",
)
def ext_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    edges = [
        ("lineitem.l_orderkey -> orders", l, "l_orderkey", o, "o_orderkey"),
        ("lineitem.l_partkey -> part", l, "l_partkey", load_table(spark, sf_dir, "part"), "p_partkey"),
        ("lineitem.l_suppkey -> supplier", l, "l_suppkey", load_table(spark, sf_dir, "supplier"), "s_suppkey"),
        ("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey"),
        ("customer.c_nationkey -> nation", c, "c_nationkey", load_table(spark, sf_dir, "nation"), "n_nationkey"),
    ]
    parts = []
    for name, child, fk, parent, pk in edges:
        orphans = child.join(
            F.broadcast(parent.select(pk)), child[fk] == F.col(pk), "left_anti"
        )
        parts.append(
            child.agg(F.count("*").alias("child_rows")).crossJoin(
                orphans.agg(F.count("*").alias("orphan_rows"))
            ).select(F.lit(name).alias("edge"), "child_rows", "orphan_rows")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "ext_table_diff",
    oracle="""
    WITH snap_a AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 97 <> 0
    ),
    snap_b AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 100 = 0
                  THEN CAST(round(o_totalprice * 100) + 100 AS DOUBLE) / 100
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderkey % 89 <> 0
    )
    SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           count(*) AS n_rows
    FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_orderstatus <> b.o_orderstatus
       OR a.o_totalprice <> b.o_totalprice
    GROUP BY 1
    """,
    doc="EXT snapshot reconciliation (table diff): two snapshots of the "
    "orders table (deterministically perturbed: keys %97 missing from A, "
    "%89 missing from B, %100 repriced by one cent) full-outer-join on "
    "the key; rows classify as added/removed/changed. The anti-entropy "
    "primitive behind CDC validation and replica repair — at 100 TB both "
    "sides hash-partition on the key once, and unchanged rows (the vast "
    "majority) drop before the aggregate, so output is proportional to "
    "the drift, not the table. The cent perturbation is exact integer "
    "arithmetic, so 'changed' detection is bit-deterministic.",
)
def ext_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_a = o.filter(F.col("o_orderkey") % 97 != 0)
    snap_b = o.filter(F.col("o_orderkey") % 89 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 100 == 0,
            (cents("o_totalprice") + 100).cast("double") / 100,
        ).otherwise(F.col("o_totalprice")),
    )
    a = snap_a.select(
        F.col("o_orderkey").alias("key_a"),
        F.col("o_orderstatus").alias("st_a"),
        F.col("o_totalprice").alias("pr_a"),
    )
    b = snap_b.select(
        F.col("o_orderkey").alias("key_b"),
        F.col("o_orderstatus").alias("st_b"),
        F.col("o_totalprice").alias("pr_b"),
    )
    j = a.join(b, a.key_a == b.key_b, "full_outer").filter(
        F.col("key_a").isNull()
        | F.col("key_b").isNull()
        | (F.col("st_a") != F.col("st_b"))
        | (F.col("pr_a") != F.col("pr_b"))
    )
    return (
        j.select(
            F.when(F.col("key_a").isNull(), F.lit("added"))
            .when(F.col("key_b").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("change_type")
        )
        .groupBy("change_type")
        .agg(F.count("*").alias("n_rows"))
    )


@query(
    "ext_tpch_q3_shape",
    oracle="""
    SELECT l.l_orderkey,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000
             AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    doc="EXT TPC-H Q3 shape (shipping priority): segment-filtered customers "
    "broadcast into orders, date-filtered both sides at the scan "
    "(PushedFilters), exact integer-cents revenue, global top-10 via "
    "TakeOrderedAndProject — no full sort ever materializes. The classic "
    "join+agg+topk composition a reference user runs daily.",
)
def ext_tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    revenue_units = F.sum(rev_c2())
    return (
        l.join(F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
               l.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((revenue_units.cast("double") / 10000).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "ext_tpch_q18_shape",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 12000
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    doc="EXT TPC-H Q18 shape (large-volume orders): the HAVING-subquery "
    "semi-join — per-order quantity sums (map-side combined) filter to "
    "big orders, which then drive the customer/lineitem re-join; exact "
    "integer-cents quantities; top-100 via TakeOrderedAndProject. At "
    "scale the `big` aggregate shuffles once on l_orderkey and the "
    "re-join reuses that partitioning.",
)
def ext_tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("q_units"))
        .filter(F.col("q_units") > 12000)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(l.withColumnRenamed("l_orderkey", "lk"), F.col("o_orderkey") == F.col("lk"))
    )
    return (
        j.groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg((F.sum(cents("l_quantity")).cast("double") / 100).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "ext_join_size_estimate",
    oracle="""
    WITH a AS (SELECT l_orderkey AS k, count(*) AS ca FROM lineitem GROUP BY 1),
    b AS (SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1)
    SELECT CAST(sum(ca * cb) AS BIGINT) AS join_rows,
           CAST(count(*) AS BIGINT) AS matching_keys,
           CAST(max(ca * cb) AS BIGINT) AS max_key_fanout
    FROM a JOIN b USING (k)
    """,
    doc="EXT join-size profiling: |A join B| computed from per-key "
    "multiplicity histograms (sum of count products) WITHOUT executing "
    "the join — plus the hottest key's fan-out, the number a planner "
    "(or an engineer sizing a shuffle) actually needs before running a "
    "100 TB join. Two map-side-combined aggregates and a join over "
    "distinct keys: cost is O(distinct keys), not O(output rows).",
)
def ext_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count("*").alias("ca"))
    )
    b = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count("*").alias("cb"))
    )
    return a.join(b, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("join_rows"),
        F.count("*").alias("matching_keys"),
        F.max(F.col("ca") * F.col("cb")).alias("max_key_fanout"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: multi-correlated EXISTS / NOT EXISTS
# ---------------------------------------------------------------------------

#: "late" threshold for the waiting-supplier query (the data's ship
#: dates run to 2001-11; the tail past this date is the late set).
Q21_LATE = "2001-01-01 00:00:00"


@query(
    "ext_tpch_q21_shape",
    oracle=f"""
    SELECT l1.l_suppkey AS suppkey,
           count(DISTINCT l1.l_orderkey) AS numwait
    FROM lineitem l1
    WHERE l1.l_shipdate > TIMESTAMP '{Q21_LATE}'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > TIMESTAMP '{Q21_LATE}'
      )
    GROUP BY 1
    ORDER BY numwait DESC, suppkey
    LIMIT 20
    """,
    doc="EXT TPC-H Q21 shape — the hardest correlated-subquery pattern in "
    "the suite (EXISTS + NOT EXISTS, both correlated on two columns): "
    "suppliers who were the SOLE late supplier on a multi-supplier "
    "order. The DataFrame formulation compiles the quantifiers to their "
    "physical duals — EXISTS(other supplier) = left-SEMI join, NOT "
    "EXISTS(other late supplier) = left-ANTI join — on the deduplicated "
    "(order, supplier) edge set — and the shipped form goes one rewrite "
    "further, to the pure AGGREGATE: per (order, supplier) a late flag, "
    "per order (n_suppliers, n_late, the late supplier's key); a row "
    "waits iff n_suppliers >= 2 AND n_late = 1, so BOTH quantifiers "
    "collapse into one groupBy and the plan has NO join at all — two "
    "keyed partial-agg shuffles (the semi/anti formulation sorts the "
    "sf1 edge set twice: 13 s vs ~2 s). Top-20 is a "
    "TakeOrderedAndProject; the oracle keeps the literal "
    "EXISTS/NOT-EXISTS SQL, proving both rewrites.",
)
def ext_tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    late_ts = F.lit(Q21_LATE).cast("timestamp_ntz")
    # per (order, supplier): did this supplier ship anything late?
    edges = (
        li.select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > late_ts).cast("int").alias("late_line"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late_line").alias("late"))
    )
    # per order: supplier count, late-supplier count, and the (unique
    # when n_late = 1) late supplier's key
    per_order = edges.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("late").alias("n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("late_sk"),
    )
    waiting = per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    return (
        waiting.groupBy(F.col("late_sk").alias("suppkey"))
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: nested IN + correlated scalar aggregate
# ---------------------------------------------------------------------------

Q20_PTYPE = "PROMO"


@query(
    "ext_tpch_q20_shape",
    oracle=f"""
    SELECT DISTINCT s.s_suppkey AS suppkey, s.s_name AS s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey FROM lineitem l
      WHERE l.l_partkey IN (
        SELECT p_partkey FROM part WHERE p_type = '{Q20_PTYPE}'
      )
      AND CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT)
          * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
          > (SELECT CAST(sum(CAST(floor(l3.l_quantity * 100 + 0.5) AS BIGINT))
                     AS BIGINT)
             FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)
    )
    ORDER BY suppkey
    """,
    doc="EXT TPC-H Q20 shape — nested IN plus a correlated scalar "
    "aggregate: suppliers who shipped a PROMO-type part in "
    "above-that-part's-average quantity. The above-average predicate is "
    "exact integer algebra (qty·n > Σqty in cents — no division at "
    "all), the part filter broadcasts into the fact scan, the per-part "
    "(n, Σ) statistics come from ONE partial-agg groupBy joined back, "
    "and the final IN is a left-SEMI join into supplier. The oracle "
    "keeps the literal doubly-nested subquery form.",
)
def ext_tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q20_PTYPE)
    s = load_table(spark, sf_dir, "supplier")
    qli = li.select(
        "l_suppkey", "l_partkey", cents("l_quantity").alias("q_cents")
    )
    stats = qli.groupBy("l_partkey").agg(
        F.count("*").alias("n_ship"),
        F.sum("q_cents").cast("bigint").alias("sum_cents"),
    )
    promo = qli.join(F.broadcast(p.select("p_partkey")),
                     qli.l_partkey == F.col("p_partkey"))
    above = promo.join(stats, "l_partkey").filter(
        F.col("q_cents") * F.col("n_ship") > F.col("sum_cents")
    )
    return (
        s.join(
            above.select(F.col("l_suppkey").alias("s_suppkey")),
            "s_suppkey",
            "left_semi",
        )
        .select(F.col("s_suppkey").alias("suppkey"), "s_name")
        .distinct()
        .orderBy("suppkey")
    )
