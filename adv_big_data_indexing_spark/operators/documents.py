"""Document-pipeline operators wired into the driver contract.

The faithful plan-document operators (shred/reconstruct/merge-patch,
operators/{shred,reconstruct,mutate}.py) are pytest-verified on the
reference's own fixture shape. For the DuckDB-oracle gate they are also
exercised here on plan documents SYNTHESIZED from the star tables
(customer ≈ plan, orders ≈ linkedPlanServices — the FIXTURES.md §B
parent-child analogy), so the oracle can recompute every output from
the same parquet: nested-document construction, shredding to
entities/edges, and the shred∘reconstruct identity — all checked
bit-for-bit through flat projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.contract import query
from adv_big_data_indexing_spark.functions.exact import dec
from adv_big_data_indexing_spark.operators.reconstruct import etag
from adv_big_data_indexing_spark.sources.catalog import load_table

PLAN_CUST_LIMIT = 100  # customers with c_custkey < 100 become plans


def synth_plans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested plan documents from customer (root) + orders (children).

    Deterministic mapping: objectId 'p<custkey>'; costshare copay :=
    acctbal; one linkedPlanService per order (objectId 'ps<orderkey>',
    service name := order priority, planservice-costshare copay :=
    totalprice). Children sorted by objectId (canonical form).
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < PLAN_CUST_LIMIT)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < PLAN_CUST_LIMIT)
    lps = o.select(
        "o_custkey",
        F.struct(
            F.concat(F.lit("ps"), F.col("o_orderkey")).alias("objectId"),
            F.struct(
                F.lit("example.com").alias("_org"),
                F.concat(F.lit("svc"), F.col("o_orderkey")).alias("objectId"),
                F.lit("service").alias("objectType"),
                F.col("o_orderpriority").alias("name"),
            ).alias("linkedService"),
            F.struct(
                F.lit(10.0).alias("deductible"),
                F.lit("example.com").alias("_org"),
                F.col("o_totalprice").alias("copay"),
                F.concat(F.lit("pscs"), F.col("o_orderkey")).alias("objectId"),
                F.lit("membercostshare").alias("objectType"),
            ).alias("planserviceCostShares"),
            F.lit("example.com").alias("_org"),
            F.lit("planservice").alias("objectType"),
        ).alias("lps"),
    )
    nested = lps.groupBy("o_custkey").agg(
        F.array_sort(F.collect_list("lps")).alias("linkedPlanServices")
    )
    return (
        c.join(nested, c.c_custkey == nested.o_custkey, "left")
        .select(
            F.concat(F.lit("p"), F.col("c_custkey")).alias("objectId"),
            F.lit("plan").alias("objectType"),
            F.lit("example.com").alias("_org"),
            F.col("c_mktsegment").alias("planType"),
            F.lit("01-01-2024").alias("creationDate"),
            F.struct(
                F.lit(0.0).alias("deductible"),
                F.lit("example.com").alias("_org"),
                F.col("c_acctbal").alias("copay"),
                F.concat(F.lit("cs"), F.col("c_custkey")).alias("objectId"),
                F.lit("membercostshare").alias("objectType"),
            ).alias("planCostShares"),
            F.coalesce(F.col("linkedPlanServices"), F.array()).alias("linkedPlanServices"),
        )
    )


@query(
    "doc_shred_entities",
    oracle=f"""
    SELECT concat('plan_p', c_custkey) AS id, 'plan' AS object_type,
           concat('p', c_custkey) AS object_id, NULL AS parent_key
    FROM customer WHERE c_custkey < {PLAN_CUST_LIMIT}
    UNION ALL
    SELECT concat('membercostshare_cs', c_custkey), 'membercostshare',
           concat('cs', c_custkey), concat('plan_p', c_custkey)
    FROM customer WHERE c_custkey < {PLAN_CUST_LIMIT}
    UNION ALL
    SELECT concat('planservice_ps', o_orderkey), 'planservice',
           concat('ps', o_orderkey), concat('plan_p', o_custkey)
    FROM orders WHERE o_custkey < {PLAN_CUST_LIMIT}
    UNION ALL
    SELECT concat('service_svc', o_orderkey), 'service',
           concat('svc', o_orderkey), concat('planservice_ps', o_orderkey)
    FROM orders WHERE o_custkey < {PLAN_CUST_LIMIT}
    UNION ALL
    SELECT concat('membercostshare_pscs', o_orderkey), 'membercostshare',
           concat('pscs', o_orderkey), concat('planservice_ps', o_orderkey)
    FROM orders WHERE o_custkey < {PLAN_CUST_LIMIT}
    """,
    doc="OP-G1 document shredding, oracle-checked: nested docs built from the "
    "star tables, decomposed via the real shredder (explode/select, "
    "operators/shred.py ≈ saveObjectRecursive elasticSearch.ts:12-49) into "
    "one row per object at any nesting level + parent keys.",
)
def doc_shred_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.operators.shred import shred

    tables = shred(synth_plans(spark, sf_dir))
    parts = []
    for name in ("plans", "membercostshares", "planservices", "services"):
        df = tables[name]
        parent = (
            F.col("parent_key") if "parent_key" in df.columns else F.lit(None).cast("string")
        )
        parts.append(
            df.select(
                "id",
                F.col("objectType").alias("object_type"),
                F.col("objectId").alias("object_id"),
                parent.alias("parent_key"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "doc_roundtrip_flat",
    oracle=f"""
    SELECT concat('p', c.c_custkey) AS plan_object_id,
           c.c_mktsegment AS plan_type,
           c.c_acctbal AS plan_copay,
           concat('ps', o.o_orderkey) AS ps_object_id,
           o.o_orderpriority AS service_name,
           o.o_totalprice AS ps_copay
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey < {PLAN_CUST_LIMIT}
    """,
    doc="OP-C1/G1 round-trip identity, oracle-checked: nested docs → "
    "shred() → reconstruct() → re-flattened; the composition must equal a "
    "plain customer⋈orders join. Proves shredder and reconstructor are "
    "mutually inverse on every row (the reference's ObjectExists md5 "
    "round-trip check, elasticSearch.ts:224-225, as a set property).",
)
def doc_roundtrip_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.operators.reconstruct import reconstruct
    from adv_big_data_indexing_spark.operators.shred import shred

    rec = reconstruct(shred(synth_plans(spark, sf_dir)))
    return rec.select(
        F.col("objectId").alias("plan_object_id"),
        F.col("planType").alias("plan_type"),
        F.col("planCostShares.copay").alias("plan_copay"),
        F.explode("linkedPlanServices").alias("lps"),
    ).select(
        "plan_object_id",
        "plan_type",
        "plan_copay",
        F.col("lps.objectId").alias("ps_object_id"),
        F.col("lps.linkedService.name").alias("service_name"),
        F.col("lps.planserviceCostShares.copay").alias("ps_copay"),
    )


@query(
    "doc_parents_having",
    oracle=f"""
    SELECT concat('p', c.c_custkey) AS plan_object_id, c.c_mktsegment AS plan_type
    FROM customer c
    WHERE c.c_custkey < {PLAN_CUST_LIMIT}
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
    doc="OP-C2 has_child over the real document tables, oracle-checked: "
    "plans having a planservice whose linkedService.name matches — the "
    "/allParentsHaving route (apiLogicForSearch.ts:245-294) end-to-end "
    "through shred() + the param→predicate translator, evaluated per "
    "document over its own child rows (one scan, no join).",
)
def doc_parents_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.operators.search import parents_having
    from adv_big_data_indexing_spark.operators.shred import shred

    tables = shred(synth_plans(spark, sf_dir))
    out = parents_having(tables, "planservice_service", {"name": "1-URGENT"})
    return out.select(
        F.col("objectId").alias("plan_object_id"), F.col("planType").alias("plan_type")
    )


@query(
    "doc_etag_pipeline",
    # The ETag is md5 over the canonical JSON of the reconstructed document.
    # That serialization is fully specified (field order fixed by the
    # reconstructor, children sorted by objectId, shortest-round-trip double
    # rendering), so DuckDB can rebuild the byte-identical JSON string with
    # string concatenation + string_agg and recompute the same md5 — a true
    # cross-engine oracle, not a golden pin.
    oracle=f"""
    WITH lps AS (
      SELECT o_custkey,
             concat('ps', o_orderkey) AS ps_id,
             concat(
               '{{"objectId":"ps', o_orderkey, '",',
               '"linkedService":{{"_org":"example.com","objectId":"svc', o_orderkey,
               '","objectType":"service","name":"', o_orderpriority, '"}},',
               '"planserviceCostShares":{{"objectId":"pscs', o_orderkey,
               '","deductible":10.0,"_org":"example.com","copay":',
               CAST(o_totalprice AS VARCHAR),
               ',"objectType":"membercostshare"}},',
               '"_org":"example.com","objectType":"planservice"}}'
             ) AS j
      FROM orders WHERE o_custkey < {PLAN_CUST_LIMIT}
    ),
    agg AS (
      SELECT o_custkey, string_agg(j, ',' ORDER BY ps_id) AS items
      FROM lps GROUP BY o_custkey
    )
    SELECT concat('plan_p', c.c_custkey) AS id,
           md5(concat(
             '{{"objectId":"p', c.c_custkey,
             '","objectType":"plan","_org":"example.com","planType":"', c.c_mktsegment,
             '","creationDate":"01-01-2024",',
             '"planCostShares":{{"objectId":"cs', c.c_custkey,
             '","deductible":0.0,"_org":"example.com","copay":',
             CAST(c.c_acctbal AS VARCHAR),
             ',"objectType":"membercostshare"}},',
             '"linkedPlanServices":[', coalesce(a.items, ''), ']}}'
           )) AS etag
    FROM customer c LEFT JOIN agg a ON a.o_custkey = c.c_custkey
    WHERE c.c_custkey < {PLAN_CUST_LIMIT}
    """,
    doc="OP-F2/G5 full pipeline, oracle-checked: synthesize → shred → "
    "reconstruct → content-addressed ETag per document (generateEtag, "
    "jwtAuth.ts:71-73). The oracle rebuilds the canonical JSON byte-for-byte "
    "in DuckDB and recomputes md5, proving the serialization is deterministic "
    "and engine-independent; distinctness/determinism also asserted in "
    "tests/test_document_pipeline.py.",
)
def doc_etag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.operators.reconstruct import reconstruct, with_etag
    from adv_big_data_indexing_spark.operators.shred import shred

    rec = with_etag(reconstruct(shred(synth_plans(spark, sf_dir))))
    return rec.select("id", "etag")


@query(
    "doc_search_rehydrated",
    oracle=f"""
    WITH matching AS (
      SELECT DISTINCT c.c_custkey
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey < {PLAN_CUST_LIMIT} AND o.o_orderpriority = '1-URGENT'
    )
    SELECT concat('p', c.c_custkey) AS plan_object_id,
           concat('ps', o.o_orderkey) AS ps_object_id,
           o.o_orderpriority AS service_name
    FROM customer c
    JOIN matching m ON c.c_custkey = m.c_custkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    """,
    doc="OP-C6 fan-out hit rehydration: search hits (has_child) "
    "joined back to the reconstructed nested view and re-flattened — the "
    "reference reconstructs per hit in a loop (apiLogicForSearch.ts:280-286); "
    "here it is one set-oriented join against the reconstruct view.",
)
def doc_search_rehydrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.operators.reconstruct import reconstruct
    from adv_big_data_indexing_spark.operators.search import parents_having
    from adv_big_data_indexing_spark.operators.shred import shred

    tables = shred(synth_plans(spark, sf_dir))
    hits = parents_having(tables, "planservice_service", {"name": "1-URGENT"})
    rec = reconstruct(tables)
    rehydrated = rec.join(
        hits.select(F.col("id").alias("hit_id")), rec.id == F.col("hit_id"), "left_semi"
    )
    return rehydrated.select(
        F.col("objectId").alias("plan_object_id"), F.explode("linkedPlanServices").alias("lps")
    ).select(
        "plan_object_id",
        F.col("lps.objectId").alias("ps_object_id"),
        F.col("lps.linkedService.name").alias("service_name"),
    )


@query(
    "doc_get_mapping",
    # The mapping depends only on the shred schema (never on data values), so
    # the oracle is the golden expected constant — a regression pin, exactly
    # like the reference's fixed ES mapping (elasticSearch.ts:152-185).
    oracle="""
    SELECT * FROM (VALUES
      ('edges', '{"fields":[{"metadata":{},"name":"child_id","nullable":false,"type":"string"},{"metadata":{},"name":"parent_id","nullable":true,"type":"string"},{"metadata":{},"name":"rel_name","nullable":false,"type":"string"}],"type":"struct"}'),
      ('entities', '{"fields":[{"metadata":{},"name":"id","nullable":false,"type":"string"},{"metadata":{},"name":"object_type","nullable":false,"type":"string"},{"metadata":{},"name":"payload","nullable":true,"type":"string"}],"type":"struct"}'),
      ('membercostshares', '{"fields":[{"metadata":{},"name":"id","nullable":false,"type":"string"},{"metadata":{},"name":"deductible","nullable":false,"type":"double"},{"metadata":{},"name":"_org","nullable":false,"type":"string"},{"metadata":{},"name":"copay","nullable":true,"type":"double"},{"metadata":{},"name":"objectId","nullable":true,"type":"string"},{"metadata":{},"name":"objectType","nullable":false,"type":"string"},{"metadata":{},"name":"parent_key","nullable":false,"type":"string"},{"metadata":{},"name":"rel_name","nullable":false,"type":"string"}],"type":"struct"}'),
      ('plans', '{"fields":[{"metadata":{},"name":"id","nullable":false,"type":"string"},{"metadata":{},"name":"objectId","nullable":true,"type":"string"},{"metadata":{},"name":"objectType","nullable":false,"type":"string"},{"metadata":{},"name":"_org","nullable":false,"type":"string"},{"metadata":{},"name":"planType","nullable":true,"type":"string"},{"metadata":{},"name":"creationDate","nullable":false,"type":"string"},{"metadata":{},"name":"costshare_id","nullable":true,"type":"string"}],"type":"struct"}'),
      ('planservices', '{"fields":[{"metadata":{},"name":"id","nullable":false,"type":"string"},{"metadata":{},"name":"objectId","nullable":true,"type":"string"},{"metadata":{},"name":"objectType","nullable":false,"type":"string"},{"metadata":{},"name":"_org","nullable":false,"type":"string"},{"metadata":{},"name":"service_id","nullable":true,"type":"string"},{"metadata":{},"name":"costshare_id","nullable":true,"type":"string"},{"metadata":{},"name":"parent_key","nullable":false,"type":"string"}],"type":"struct"}'),
      ('services', '{"fields":[{"metadata":{},"name":"id","nullable":false,"type":"string"},{"metadata":{},"name":"_org","nullable":false,"type":"string"},{"metadata":{},"name":"objectId","nullable":true,"type":"string"},{"metadata":{},"name":"objectType","nullable":false,"type":"string"},{"metadata":{},"name":"name","nullable":true,"type":"string"},{"metadata":{},"name":"parent_key","nullable":false,"type":"string"},{"metadata":{},"name":"rel_name","nullable":false,"type":"string"}],"type":"struct"}')
    ) AS t(table_name, schema_json)
    """,
    doc="OP-A13 schema/mapping introspection (GET /getMapping → "
    "elasticSearch.ts:301-310): one row per document table with its DDL; "
    "oracle = golden constant (mapping is schema-determined).",
)
def doc_get_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.operators.search import get_mapping
    from adv_big_data_indexing_spark.operators.shred import shred

    tables = shred(synth_plans(spark, sf_dir))
    mapping = sorted(get_mapping(tables).items())
    return spark.createDataFrame(mapping, "table_name string, schema_json string")
