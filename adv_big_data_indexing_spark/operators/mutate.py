"""OP-G2..G6 / OP-A6/A7 — mutation & merge operators, set-oriented.

The reference mutates one document per HTTP call (modifyObject.ts,
apiLogicForCRUD.ts); here every operator is a whole-collection DataFrame
transformation so a single pass patches/validates millions of documents.
All semantics mirror the reference, including its quirks:

- merge-patch (OP-G2, modifyObject.ts:32-87): scalars overwritten by the
  patch; ``objectId`` immutable (:55-56); ``planCostShares`` merged
  field-wise (:62-68); ``linkedPlanServices`` merged BY objectId — whole
  elements replaced, new appended (Map-based upsert, :70-84).
- type-guard rejection (:49-51): a patch whose planCostShares /
  linkedPlanServices elements lack string objectId+objectType is
  rejected ("Wrong Object Type") rather than applied.
- ETag optimistic concurrency (OP-G5/G6, apiLogicForCRUD.ts:76-78,
  186-188, 270-273): conditional read → 304, mismatched write → 412.
- guarded insert (OP-A7, :390-416): insert iff absent else 409.
- upsert (OP-A6/A8): last-writer-wins by key.
- cascading delete (OP-G4, elasticSearch.ts:311-357): 2-hop closure via
  the edges table (depth is schema-bounded), then anti-joins.

In DataFrame form "key absent from the patch" is a NULL column, so an
explicit-null patch value means "keep" here (coalesce semantics) —
the one deliberate deviation from JS object-key semantics, documented
because parquet cannot represent present-vs-absent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from adv_big_data_indexing_spark.operators.reconstruct import etag

PLAN_SCALARS = ("objectType", "_org", "planType", "creationDate")
# field order matches the compiled schema's struct order — the merged
# struct must be type-identical to the base column for the CASE branches
COSTSHARE_FIELDS = ("deductible", "_org", "copay", "objectId", "objectType")


def _valid_costshare(cs: Column) -> Column:
    """isPlanCostShare (modifyObject.ts:11-19): objectId+objectType strings."""
    return cs.isNull() | (cs.getField("objectId").isNotNull() & cs.getField("objectType").isNotNull())


def _valid_lps_elements(arr: Column) -> Column:
    """isLinkedPlanService over every element (modifyObject.ts:20-29)."""
    return arr.isNull() | F.forall(
        arr,
        lambda e: e.getField("objectId").isNotNull()
        & e.getField("objectType").isNotNull()
        & _valid_costshare(e.getField("planserviceCostShares")),
    )


def merge_patch(base: DataFrame, patch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Apply keyed JSON merge-patch; returns (merged, rejected).

    Both inputs carry the nested plan schema keyed by ``objectId``.
    Documents in ``base`` without a patch pass through unchanged; patch
    rows failing the type guard land in ``rejected`` with their base row
    untouched (the "Wrong Object Type" path, modifyObject.ts:49-51).
    """
    guard = _valid_costshare(F.col("planCostShares")) & _valid_lps_elements(
        F.col("linkedPlanServices")
    )
    patch_ok = patch.filter(guard)
    rejected = patch.filter(~guard).select(
        "objectId", F.lit("Wrong Object Type").alias("error")
    )

    p = patch_ok.select(
        F.col("objectId").alias("p_objectId"),
        *[F.col(c).alias(f"p_{c}") for c in PLAN_SCALARS],
        F.col("planCostShares").alias("p_planCostShares"),
        F.col("linkedPlanServices").alias("p_linkedPlanServices"),
    )
    j = base.join(p, base.objectId == p.p_objectId, "left")

    merged_cs = F.when(
        F.col("p_planCostShares").isNull(), F.col("planCostShares")
    ).otherwise(
        F.struct(
            *[
                F.coalesce(
                    F.col("p_planCostShares").getField(f),
                    F.col("planCostShares").getField(f),
                ).alias(f)
                for f in COSTSHARE_FIELDS
            ]
        )
    )

    # keyed array upsert: patch elements replace same-objectId base
    # elements wholesale, new ones append (Map.set semantics) —
    # expression-only via filter + concat, no explode/shuffle.
    base_arr = F.coalesce(F.col("linkedPlanServices"), F.array())
    patch_arr = F.col("p_linkedPlanServices")
    patch_ids = F.transform(patch_arr, lambda e: e.getField("objectId"))
    kept = F.filter(base_arr, lambda e: ~F.array_contains(patch_ids, e.getField("objectId")))
    merged_lps = F.when(patch_arr.isNull(), F.col("linkedPlanServices")).otherwise(
        F.array_sort(F.concat(kept, patch_arr))
    )

    merged = j.select(
        F.col("objectId"),  # immutable (modifyObject.ts:55-56)
        *[
            F.coalesce(F.col(f"p_{c}"), F.col(c)).alias(c)
            for c in PLAN_SCALARS
        ],
        merged_cs.alias("planCostShares"),
        merged_lps.alias("linkedPlanServices"),
    )
    return merged, rejected


def guarded_insert(
    existing: DataFrame, new: DataFrame, key: str = "objectId"
) -> tuple[DataFrame, DataFrame]:
    """OP-A7: insert iff the key is absent; returns (insertable, conflicts).

    conflicts ≈ the 409 path (apiLogicForCRUD.ts:104-110). left_anti /
    left_semi — no row data moves for the membership test.
    """
    insertable = new.join(existing, on=key, how="left_anti")
    conflicts = new.join(existing, on=key, how="left_semi").select(
        key, F.lit("conflict_409").alias("error")
    )
    return insertable, conflicts


def upsert_last_writer(
    existing: DataFrame, updates: DataFrame, key: str, version: str
) -> DataFrame:
    """OP-A6/A8: idempotent keyed upsert, last writer (max version) wins.

    The reference gets replay-safety from ES index-by-_id
    (rabbitMq.ts:44-48); here union + row_number keeps exactly one row
    per key. Rows of one key with equal versions are ordered by their
    other columns, ascending with nulls first, so the kept row depends
    only on the set of input rows: deterministic for any replay order
    and partitioning. For CDC rows (key, op, seq, doc) that makes a
    delete (op 'delete', null doc) win an equal-seq tie against an
    insert or update.
    """
    rest = [c for c in existing.columns if c not in (key, version)]
    w = Window.partitionBy(key).orderBy(F.col(version).desc(), *rest)
    return (
        existing.unionByName(updates)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cascade_closure(edges: DataFrame, root_keys: DataFrame) -> DataFrame:
    """OP-G4: ids of roots + all (grand)children, via 2 edge joins.

    Depth is schema-bounded at 3 levels so closure = 2 joins — no
    iterative graph traversal (deleteObject recursion,
    elasticSearch.ts:311-357, becomes a static plan).
    """
    roots = root_keys.select(F.col("id").alias("del_id"))
    level1 = edges.join(
        roots, edges.parent_id == roots.del_id, "left_semi"
    ).select(F.col("child_id").alias("del_id"))
    level2 = edges.join(
        level1, edges.parent_id == level1.del_id, "left_semi"
    ).select(F.col("child_id").alias("del_id"))
    return roots.unionByName(level1).unionByName(level2).distinct()


def cascade_delete(
    tables: dict[str, DataFrame], root_keys: DataFrame
) -> dict[str, DataFrame]:
    """Anti-join every table against the closure; returns surviving tables."""
    closure = cascade_closure(tables["edges"], root_keys)
    out: dict[str, DataFrame] = {}
    for name, df in tables.items():
        if name == "edges":
            out[name] = df.join(
                closure, df.child_id == closure.del_id, "left_anti"
            )
        elif "id" in df.columns:
            out[name] = df.join(closure, df.id == closure.del_id, "left_anti")
        else:
            out[name] = df
    return out


def conditional_read(reconstructed_with_etag: DataFrame, if_none_match: str | None) -> DataFrame:
    """OP-G5: per-row HTTP-semantics status for a conditional read.

    status 304 when the client's ETag still matches (body suppressed),
    200 otherwise (apiLogicForCRUD.ts:59-80). 404 is the empty result.
    """
    status = (
        F.when(F.lit(if_none_match).isNotNull() & (F.col("etag") == F.lit(if_none_match)), 304)
        .otherwise(200)
        .alias("status")
    )
    return reconstructed_with_etag.select("id", "etag", status)


def conditional_write(
    current: DataFrame, writes: DataFrame, key: str = "id", etag_col: str = "etag"
) -> tuple[DataFrame, DataFrame]:
    """OP-G6/G3: optimistic-concurrency guard for PUT/PATCH.

    ``writes`` carries (key, expected_etag, ...payload). Writes whose
    expected_etag equals the current etag are applied; the rest are the
    412 set (apiLogicForCRUD.ts:186-188, 270-273).
    """
    cur = current.select(F.col(key).alias("__k"), F.col(etag_col).alias("__cur_etag"))
    j = writes.join(cur, writes[key] == cur["__k"], "left")
    ok = F.col("__cur_etag").isNotNull() & (
        F.col("expected_etag") == F.col("__cur_etag")
    )
    applied = j.filter(ok).drop("__k", "__cur_etag", "expected_etag")
    rejected = j.filter(~ok | F.col("__cur_etag").isNull()).select(
        key, F.lit("precondition_failed_412").alias("error")
    )
    return applied, rejected


__all__ = [
    "merge_patch",
    "guarded_insert",
    "upsert_last_writer",
    "cascade_closure",
    "cascade_delete",
    "conditional_read",
    "conditional_write",
    "etag",
]
