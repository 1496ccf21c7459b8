"""The search API over shredded document tables (OP-B*, OP-C2-C4, OP-D,
OP-A5/A13) — the reference's three search routes plus introspection,
re-expressed as semi-joins.

Reference surface (src/utils/apiLogicForSearch.ts):
- /search/plans — conjunctive exact-match on top-level plan fields
  (:295-326); children NOT searched (README.md:77).
- /allParentsHaving — parents with ≥1 child of a type matching params
  (has_child, :245-294).
- /allChildrenHavingCopayLessOrGreater — parents of costshare children
  in a copay range (has_child + range, :182-244).
- has_parent (:123-162) — children whose parent matches; the reference
  never got this working ("Failed Query"); trivially correct here.
- match_all with the fixed size:1000 cap (elasticSearch.ts:209),
  mapping introspection (:301-310).

Scale: all predicates are Columns (pushed to parquet); semi-joins keep
only the output side flowing; child tables pre-partitioned by
parent_key make the joins co-partitioned (the ES routing trick).
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.plans.predicate import compile_params

FULL_SCAN_CAP = 1000  # elasticSearch.ts:209

#: child type name → (table key, parent level). Mirrors the ES join
#: mapping's type vocabulary (elasticSearch.ts:156-165).
CHILD_TABLES = {
    "plan_membercostshare": "membercostshares",
    "plan_planservice": "planservices",
    "planservice_membercostshare": "membercostshares",
    "planservice_service": "services",
}


def search_plans(tables: Mapping[str, DataFrame], params: Mapping[str, Any]) -> DataFrame:
    """OP-B1: conjunctive exact-match over top-level plan fields only."""
    return tables["plans"].filter(compile_params(params))


def full_scan(tables: Mapping[str, DataFrame]) -> DataFrame:
    """OP-A5: match_all capped at 1000 (the reference's fixed page)."""
    return tables["entities"].limit(FULL_SCAN_CAP)


def hit_count(df: DataFrame) -> DataFrame:
    """OP-D1/D2: hits.total.value; callers treat 0 as the 404 path."""
    return df.agg(F.count("*").alias("n_hits"))


def get_mapping(tables: Mapping[str, DataFrame]) -> dict[str, str]:
    """OP-A13: schema introspection — table → DDL (GET /getMapping)."""
    return {name: df.schema.json() for name, df in tables.items()}


def parents_having(
    tables: Mapping[str, DataFrame],
    child_type: str,
    params: Mapping[str, Any],
) -> DataFrame:
    """OP-C2: plans having ≥1 ``child_type`` child matching ``params``
    (the /allParentsHaving route, apiLogicForSearch.ts:245-294)."""
    tbl = tables[CHILD_TABLES[child_type]]
    child = tbl.filter(F.col("rel_name") == child_type) if "rel_name" in tbl.columns else tbl
    matching = child.filter(compile_params(params))
    if child_type.startswith("planservice_"):
        # grandchild → hop through planservices to the plan
        ps = tables["planservices"]
        ps_keys = ps.join(
            matching.select(F.col("parent_key").alias("mk")),
            ps.id == F.col("mk"),
            "left_semi",
        )
        plan_keys = ps_keys.select(F.col("parent_key").alias("plan_key"))
    else:
        plan_keys = matching.select(F.col("parent_key").alias("plan_key"))
    plans = tables["plans"]
    return plans.join(plan_keys, plans.id == plan_keys.plan_key, "left_semi")


def parents_by_copay(
    tables: Mapping[str, DataFrame], less_than: bool, value: float
) -> DataFrame:
    """OP-C3: /allChildrenHavingCopayLessOrGreater — plans whose costshare
    child has copay strictly < / > value (strict per the DSL,
    apiLogicForSearch.ts:201,216)."""
    op = {"copay": {"lt": value}} if less_than else {"copay": {"gt": value}}
    cs = tables["membercostshares"].filter(compile_params(op))
    # both plan-level and planservice-level costshares count; climb each.
    direct = cs.filter(F.col("rel_name") == "plan_membercostshare").select(
        F.col("parent_key").alias("plan_key")
    )
    ps = tables["planservices"]
    via_ps = (
        ps.join(
            cs.filter(F.col("rel_name") == "planservice_membercostshare")
            .select(F.col("parent_key").alias("mk")),
            ps.id == F.col("mk"),
            "left_semi",
        )
        .select(F.col("parent_key").alias("plan_key"))
    )
    # a left-semi join ignores duplicate keys: no distinct() needed
    keys = direct.unionByName(via_ps)
    plans = tables["plans"]
    return plans.join(keys, plans.id == keys.plan_key, "left_semi")


def children_of_matching_parents(
    tables: Mapping[str, DataFrame],
    child_table: str,
    parent_params: Mapping[str, Any],
) -> DataFrame:
    """OP-C4 has_parent — children whose root plan matches ``params``.
    The reference's two attempts are both labeled 'Failed Query'
    (apiLogicForSearch.ts:123-162); shipped working here."""
    plans = tables["plans"].filter(compile_params(parent_params))
    child = tables[child_table]
    if child_table == "planservices":
        return child.join(plans, child.parent_key == plans.id, "left_semi")
    # grandchild tables: parent may be the plan itself or a planservice of it
    ps = tables["planservices"]
    ps_of_plan = ps.join(plans, ps.parent_key == plans.id, "left_semi")
    direct = child.join(plans, child.parent_key == plans.id, "left_semi")
    via_ps = child.join(ps_of_plan, child.parent_key == ps_of_plan.id, "left_semi")
    return direct.unionByName(via_ps).distinct()
