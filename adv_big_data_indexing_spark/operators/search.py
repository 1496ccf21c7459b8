"""The search API over shredded document tables (OP-B*, OP-C2-C4, OP-D,
OP-A5/A13) — the reference's three search routes plus introspection,
each answered per document, in place.

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

Read rule: a child belongs to the document it is nested in. has_child
tests each document's own child rows (``shred.child_rows``) in place
with ``exists``; has_parent filters the documents, then explodes only
the matching ones into child rows. Neither joins, so each read is one
scan of the documents. This is the index the reference keeps by
routing every child to its parent (the ES join field): here the
nesting itself pairs each child with its parent. While objectIds are
unique (the reference's ``objectType_objectId`` keyspace invariant) it
is also the answer of joining children to parents by key; where an
objectId repeats, only the rule above holds.

Scale: the plan-field predicates are Columns over the scan (pushed to
parquet); the child predicates are evaluated per document, so no
exchange, broadcast or second scan is planned.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.operators.shred import Shredded
from adv_big_data_indexing_spark.plans.predicate import compile_params

FULL_SCAN_CAP = 1000  # elasticSearch.ts:209

#: child type name → the table its rows are in. Mirrors the ES join
#: mapping's type vocabulary (elasticSearch.ts:156-165).
CHILD_TABLES = {
    "plan_membercostshare": "membercostshares",
    "plan_planservice": "planservices",
    "planservice_membercostshare": "membercostshares",
    "planservice_service": "services",
}


def search_plans(tables: Shredded, params: Mapping[str, Any]) -> DataFrame:
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


def _fields_of(row: Column):
    """The resolver that reads a param's field from the struct ``row``:
    a field the row lacks fails analysis, as a missing column does."""
    return lambda name: row[name]


def parents_having(
    tables: Shredded,
    child_type: str,
    params: Mapping[str, Any],
) -> DataFrame:
    """OP-C2: plans having ≥1 ``child_type`` child matching ``params``
    (the /allParentsHaving route, apiLogicForSearch.ts:245-294): the
    ``plans`` rows of the documents one of whose own ``child_type``
    rows matches."""
    table = CHILD_TABLES[child_type]

    def hit(r: Column) -> Column:
        match = compile_params(params, _fields_of(r))
        return match if table == "planservices" else match & (r["rel_name"] == child_type)

    return tables.where(F.exists(tables.rows(table), hit))["plans"]


def parents_by_copay(tables: Shredded, less_than: bool, value: float) -> DataFrame:
    """OP-C3: /allChildrenHavingCopayLessOrGreater — plans with a
    costshare, plan-level or planservice-level, whose copay is strictly
    < / > value (strict per the DSL, apiLogicForSearch.ts:201,216)."""
    op = {"copay": {"lt": value}} if less_than else {"copay": {"gt": value}}
    hit = F.exists(tables.rows("membercostshares"), lambda r: compile_params(op, _fields_of(r)))
    return tables.where(hit)["plans"]


def children_of_matching_parents(
    tables: Shredded,
    child_table: str,
    parent_params: Mapping[str, Any],
) -> DataFrame:
    """OP-C4 has_parent — the ``child_table`` rows of the documents whose
    plan matches ``parent_params``: exactly the rows ``shred`` gives that
    table for the matching documents. A grandchild's parent chain ends
    at the plan it is nested in. The reference's two attempts are both
    labeled 'Failed Query' (apiLogicForSearch.ts:123-162); shipped
    working here."""
    match = compile_params(parent_params, _fields_of(tables.rows("plans")))
    return tables.where(match)[child_table]
