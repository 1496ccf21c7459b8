"""OP-G1 document shredding — nested plan documents → normalized tables.

The reference recursively walks each JSON document and stores every
nested object standalone under ``objectType_objectId`` (saveObjectRecursive,
src/utils/elasticSearch.ts:12-49; ES twin saveESRecursive,
src/utils/rabbitMq.ts:50-81), then writes parent-child join-field edges
(generateRelationships*, elasticSearch.ts:50-151).

Spark-first: the hierarchy depth is schema-bounded (plan →
{membercostshare, planservice} → {membercostshare, service}), so the
imperative recursion collapses into explode + select projections — one
pass, no UDFs, embarrassingly parallel. Output:

- typed per-type tables: ``plans``, ``membercostshares``,
  ``planservices``, ``services``
- ``edges(child_id, parent_id, rel_name)`` — rel_name vocabulary matches
  the reference's ES join mapping (elasticSearch.ts:156-165)
- ``entities(id, object_type, payload)`` — the Redis-keyspace mirror
  (payload = canonical JSON of the fragment)

Scale: each output is a projection of the input scan; edges/entities
union-all without shuffles. Partition the entity store by object_type,
bucket by id for point lookups.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: rel_name vocabulary (elasticSearch.ts:156-165)
REL_PLAN = "plan"
REL_PLAN_COSTSHARE = "plan_membercostshare"
REL_PLAN_SERVICE = "plan_planservice"
REL_SERVICE_COSTSHARE = "planservice_membercostshare"
REL_SERVICE_SERVICE = "planservice_service"


def object_key(object_type: Column, object_id: Column) -> Column:
    """OP-F1: objectType_objectId (elasticSearch.ts:44)."""
    return F.concat_ws("_", object_type, object_id)


def shred(plans: DataFrame, carry: Sequence[str] = ()) -> dict[str, DataFrame]:
    """Decompose nested plan documents into normalized tables.

    ``plans`` must conform to the compiled plan StructType
    (plans/json_schema_compiler.py) — i.e. come out of ``validate()``'s
    valid split. Columns named in ``carry`` (extra columns of ``plans``,
    e.g. a CDC key and seq) are copied from each document onto every row
    it shreds into, in the typed tables and ``entities``, ahead of the
    payload columns; with the default ``()`` the output schema is the
    plain one.
    """
    kept = [F.col(c) for c in carry]
    root = plans.select(
        *kept,
        object_key(F.col("objectType"), F.col("objectId")).alias("id"),
        "objectId",
        "objectType",
        "_org",
        "planType",
        "creationDate",
        F.col("planCostShares.objectId").alias("costshare_id"),
        "planCostShares",
        "linkedPlanServices",
    )

    plan_tbl = root.select(
        "id", *kept, "objectId", "objectType", "_org", "planType", "creationDate", "costshare_id"
    )

    plan_costshares = root.select(
        *kept,
        F.col("planCostShares.*"),
        object_key(F.lit("plan"), F.col("objectId")).alias("parent_key"),
        F.lit(REL_PLAN_COSTSHARE).alias("rel_name"),
    ).where(F.col("objectId").isNotNull())

    svc = root.select(
        *kept,
        F.col("objectId").alias("plan_object_id"),
        F.explode("linkedPlanServices").alias("lps"),
    ).select(
        *kept,
        "plan_object_id",
        F.col("lps.objectId").alias("objectId"),
        F.col("lps.objectType").alias("objectType"),
        F.col("lps._org").alias("_org"),
        F.col("lps.linkedService").alias("linkedService"),
        F.col("lps.planserviceCostShares").alias("planserviceCostShares"),
    )

    planservice_tbl = svc.select(
        object_key(F.col("objectType"), F.col("objectId")).alias("id"),
        *kept,
        "objectId",
        "objectType",
        "_org",
        F.col("linkedService.objectId").alias("service_id"),
        F.col("planserviceCostShares.objectId").alias("costshare_id"),
        object_key(F.lit("plan"), F.col("plan_object_id")).alias("parent_key"),
    )

    service_costshares = svc.select(
        *kept,
        F.col("planserviceCostShares.*"),
        object_key(F.col("objectType"), F.col("objectId")).alias("parent_key"),
        F.lit(REL_SERVICE_COSTSHARE).alias("rel_name"),
    ).where(F.col("objectId").isNotNull())

    services = svc.select(
        *kept,
        F.col("linkedService.*"),
        object_key(F.col("objectType"), F.col("objectId")).alias("parent_key"),
        F.lit(REL_SERVICE_SERVICE).alias("rel_name"),
    ).where(F.col("objectId").isNotNull())

    costshares = plan_costshares.unionByName(service_costshares)

    def _typed(df: DataFrame) -> DataFrame:
        return df.select(
            object_key(F.col("objectType"), F.col("objectId")).alias("id"),
            "*",
        )

    tables = {
        "plans": plan_tbl,
        "membercostshares": _typed(costshares),
        "planservices": planservice_tbl,
        "services": _typed(services),
    }
    tables["edges"] = edges(tables)
    tables["entities"] = entities(tables, carry)
    return tables


def edges(tables: dict[str, DataFrame]) -> DataFrame:
    """OP-C5: the relationship-edge table (child_id, parent_id, rel_name).

    Roots appear with a null parent and rel_name='plan', mirroring the
    root join-field write (elasticSearch.ts:101-106).
    """
    roots = tables["plans"].select(
        F.col("id").alias("child_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit(REL_PLAN).alias("rel_name"),
    )
    cs = tables["membercostshares"].select(
        F.col("id").alias("child_id"),
        F.col("parent_key").alias("parent_id"),
        "rel_name",
    )
    ps = tables["planservices"].select(
        F.col("id").alias("child_id"),
        F.col("parent_key").alias("parent_id"),
        F.lit(REL_PLAN_SERVICE).alias("rel_name"),
    )
    sv = tables["services"].select(
        F.col("id").alias("child_id"),
        F.col("parent_key").alias("parent_id"),
        "rel_name",
    )
    return roots.unionByName(cs).unionByName(ps).unionByName(sv)


def entities(tables: dict[str, DataFrame], carry: Sequence[str] = ()) -> DataFrame:
    """The Redis-keyspace mirror: (id, object_type, payload-json).

    payload is the canonical JSON of the stored fragment (children by
    reference only — matching what saveObjectRecursive persists after
    stripping nested objects, elasticSearch.ts:30-42).
    """
    outs = []
    skip = {"id", "parent_key", "rel_name", *carry}
    for name in ("plans", "membercostshares", "planservices", "services"):
        df = tables[name]
        payload_cols = [c for c in df.columns if c not in skip]
        outs.append(
            df.select(
                "id",
                *carry,
                F.col("objectType").alias("object_type"),
                F.to_json(F.struct(*payload_cols)).alias("payload"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
