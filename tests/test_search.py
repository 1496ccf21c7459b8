"""The search reads evaluate each document in place: every read equals
the semi-join formulation over shred's tables (kept here as the
reference) and a plain-Python per-document evaluator, plans one scan of
the documents with no join, and counts its hits in at most two jobs."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.operators import search
from adv_big_data_indexing_spark.operators.shred import shred
from adv_big_data_indexing_spark.plans.json_schema_compiler import validate
from adv_big_data_indexing_spark.plans.predicate import compile_params
from tests.fixtures import plan_jsons, reference_schema

ORGS = ["example.com", "example.org"]
NAMES = ["Yearly physical", "well baby", "dental"]
COPAYS = [-1.0, 0.0, 10.0, 175.0]
CHILD_TABLES = ("planservices", "services", "membercostshares")

# --- the semi-join formulation: each hop a left-semi join on the parent key --


def _semijoin_parents_having(tables, child_type, params):
    tbl = tables[search.CHILD_TABLES[child_type]]
    child = tbl.filter(F.col("rel_name") == child_type) if "rel_name" in tbl.columns else tbl
    matching = child.filter(compile_params(params))
    if child_type.startswith("planservice_"):
        ps = tables["planservices"]
        ps_keys = ps.join(matching.select(F.col("parent_key").alias("mk")), ps.id == F.col("mk"), "left_semi")
        plan_keys = ps_keys.select(F.col("parent_key").alias("plan_key"))
    else:
        plan_keys = matching.select(F.col("parent_key").alias("plan_key"))
    plans = tables["plans"]
    return plans.join(plan_keys, plans.id == plan_keys.plan_key, "left_semi")


def _semijoin_parents_by_copay(tables, less_than, value):
    op = {"copay": {"lt": value}} if less_than else {"copay": {"gt": value}}
    cs = tables["membercostshares"].filter(compile_params(op))
    direct = cs.filter(F.col("rel_name") == "plan_membercostshare").select(F.col("parent_key").alias("plan_key"))
    ps = tables["planservices"]
    via_ps = ps.join(
        cs.filter(F.col("rel_name") == "planservice_membercostshare").select(F.col("parent_key").alias("mk")),
        ps.id == F.col("mk"),
        "left_semi",
    ).select(F.col("parent_key").alias("plan_key"))
    keys = direct.unionByName(via_ps)
    plans = tables["plans"]
    return plans.join(keys, plans.id == keys.plan_key, "left_semi")


def _semijoin_children(tables, child_table, parent_params):
    plans = tables["plans"].filter(compile_params(parent_params))
    child = tables[child_table]
    if child_table == "planservices":
        return child.join(plans, child.parent_key == plans.id, "left_semi")
    ps = tables["planservices"]
    ps_of_plan = ps.join(plans, ps.parent_key == plans.id, "left_semi")
    direct = child.join(plans, child.parent_key == plans.id, "left_semi")
    via_ps = child.join(ps_of_plan, child.parent_key == ps_of_plan.id, "left_semi")
    return direct.unionByName(via_ps).distinct()


# --- the plain-Python per-document evaluator -----------------------------------


def _matches(row: dict, params: dict) -> bool:
    """SQL semantics over a row dict: a null field matches nothing."""
    ops = {"lt": lambda a, b: a < b, "gt": lambda a, b: a > b}
    for field, cond in params.items():
        v = row.get(field)
        if v is None:
            return False
        if isinstance(cond, dict):
            if not all(ops[op](v, bound) for op, bound in cond.items()):
                return False
        elif v != cond:
            return False
    return True


def _child_rows(doc: dict) -> dict[str, list[dict]]:
    """The child rows of one document, per table, as shred defines them."""
    services = doc.get("linkedPlanServices") or []
    out = {"planservices": [], "services": [], "membercostshares": []}
    cs = doc.get("planCostShares")
    if cs is not None:
        out["membercostshares"].append({**cs, "rel_name": "plan_membercostshare"})
    for ps in services:
        out["planservices"].append({k: ps.get(k) for k in ("objectId", "objectType", "_org")})
        if ps.get("linkedService") is not None:
            out["services"].append({**ps["linkedService"], "rel_name": "planservice_service"})
        if ps.get("planserviceCostShares") is not None:
            out["membercostshares"].append(
                {**ps["planserviceCostShares"], "rel_name": "planservice_membercostshare"}
            )
    return out


def _py_parents_having(docs, child_type, params):
    table = search.CHILD_TABLES[child_type]
    return sorted(
        d["objectId"]
        for d in docs
        if any(
            _matches(r, params) and r.get("rel_name", child_type) == child_type
            for r in _child_rows(d)[table]
        )
    )


def _py_parents_by_copay(docs, less_than, value):
    op = {"copay": {"lt": value}} if less_than else {"copay": {"gt": value}}
    return sorted(
        d["objectId"] for d in docs if any(_matches(r, op) for r in _child_rows(d)["membercostshares"])
    )


def _py_children(docs, child_table, parent_params):
    return sorted(
        r["objectId"] for d in docs if _matches(d, parent_params) for r in _child_rows(d)[child_table]
    )


# --- random documents: unique ids, any optional part absent ---------------------

_costshare = st.fixed_dictionaries(
    {},
    optional={
        "copay": st.sampled_from(COPAYS),
        "deductible": st.sampled_from([0.0, 50.0]),
        "_org": st.sampled_from(ORGS),
    },
)
_planservice = st.fixed_dictionaries(
    {},
    optional={
        "_org": st.sampled_from(ORGS),
        "linkedService": st.fixed_dictionaries(
            {}, optional={"name": st.sampled_from(NAMES), "_org": st.sampled_from(ORGS)}
        ),
        "planserviceCostShares": _costshare,
    },
)
_document = st.fixed_dictionaries(
    {},
    optional={
        "planType": st.sampled_from(["inNetwork", "outOfNetwork"]),
        "_org": st.sampled_from(ORGS),
        "planCostShares": _costshare,
        "linkedPlanServices": st.lists(_planservice, max_size=3),
    },
)


def _with_ids(shapes: list[dict]) -> list[dict]:
    """Give every object of every document a unique objectId."""
    docs = []
    for i, shape in enumerate(shapes):
        doc = {**shape, "objectId": f"d{i}", "objectType": "plan", "creationDate": "05-03-2021"}
        if "planCostShares" in shape:
            doc["planCostShares"] = {
                **shape["planCostShares"], "objectId": f"d{i}-cs", "objectType": "membercostshare",
            }
        services = []
        for j, ps in enumerate(shape.get("linkedPlanServices", [])):
            entry = {**ps, "objectId": f"d{i}-ps{j}", "objectType": "planservice"}
            if "linkedService" in ps:
                entry["linkedService"] = {**ps["linkedService"], "objectId": f"d{i}-sv{j}", "objectType": "service"}
            if "planserviceCostShares" in ps:
                entry["planserviceCostShares"] = {
                    **ps["planserviceCostShares"], "objectId": f"d{i}-pscs{j}", "objectType": "membercostshare",
                }
            services.append(entry)
        if "linkedPlanServices" in shape:
            doc["linkedPlanServices"] = services
        docs.append(doc)
    return docs


#: one param set per child type, over fields each child row has
HAS_CHILD = [
    ("plan_membercostshare", lambda r: {"copay": {"gt": r.choice([-1.0, 0.0, 10.0])}}),
    ("plan_planservice", lambda r: {"_org": r.choice(ORGS)}),
    ("planservice_membercostshare", lambda r: {"deductible": r.choice([0.0, 50.0])}),
    ("planservice_service", lambda r: {"name": r.choice(NAMES)}),
]


def _documents(spark, docs):
    raw = spark.createDataFrame([(json.dumps(d),) for d in docs], "raw string")
    v = validate(raw, reference_schema())
    assert v.filter(~F.col("is_valid")).count() == 0
    return v.select("doc.*")


def _rows(df):
    return sorted(map(repr, df.collect()))


def _check(got, reference, py_ids):
    """``got`` has the reference's rows, and its objectIds are the
    per-document evaluator's."""
    rows = got.collect()
    assert sorted(map(repr, rows)) == _rows(reference)
    assert sorted(r.objectId for r in rows) == py_ids


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(shapes=st.lists(_document, min_size=1, max_size=6), rnd=st.randoms(use_true_random=False))
def test_reads_equal_semijoin_and_per_document_evaluator(spark, shapes, rnd):
    docs = _with_ids(shapes)
    tables = shred(_documents(spark, docs))
    for child_type, make in HAS_CHILD:
        params = make(rnd)
        _check(
            search.parents_having(tables, child_type, params),
            _semijoin_parents_having(tables, child_type, params),
            _py_parents_having(docs, child_type, params),
        )
    value = rnd.choice(COPAYS)
    for less_than in (True, False):
        _check(
            search.parents_by_copay(tables, less_than, value),
            _semijoin_parents_by_copay(tables, less_than, value),
            _py_parents_by_copay(docs, less_than, value),
        )
    params = {"planType": rnd.choice(["inNetwork", "outOfNetwork"])}
    for table in CHILD_TABLES:
        got = search.children_of_matching_parents(tables, table, params)
        assert got.schema == tables[table].schema
        _check(got, _semijoin_children(tables, table, params), _py_children(docs, table, params))


def test_repeated_object_id_child_belongs_to_its_document(spark):
    """The one case where the read rule changes an answer: objectIds that
    repeat. Plan a repeats a planservice (objectId, service and all);
    plan b reuses that objectId with another service. The children of a
    are exactly shred's rows for a — both copies of its service, and not
    b's — where joining on the parent key gave {a's service, b's}."""
    ps = {"objectId": "ps-dup", "objectType": "planservice",
          "linkedService": {"objectId": "sv-a", "objectType": "service", "name": "dental"}}
    other = {**ps, "linkedService": {"objectId": "sv-b", "objectType": "service", "name": "vision"}}
    docs = [
        {"objectId": "a", "objectType": "plan", "creationDate": "01-01-2024",
         "planType": "inNetwork", "linkedPlanServices": [ps, ps]},
        {"objectId": "b", "objectType": "plan", "creationDate": "01-01-2024",
         "planType": "outOfNetwork", "linkedPlanServices": [other]},
    ]
    tables = shred(_documents(spark, docs))
    params = {"planType": "inNetwork"}
    got = search.children_of_matching_parents(tables, "services", params)
    own = shred(_documents(spark, docs[:1]))["services"]
    assert _rows(got) == _rows(own)
    assert [r.objectId for r in got.collect()] == ["sv-a", "sv-a"]
    joined = _semijoin_children(tables, "services", params)
    assert sorted(r.objectId for r in joined.collect()) == ["sv-a", "sv-b"]


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    """Plan documents read back from parquet, as a reader of the store sees them."""
    path = str(tmp_path_factory.mktemp("docs") / "docs.parquet")
    raw = spark.createDataFrame([(s,) for s in plan_jsons(12)], "raw string")
    validate(raw, reference_schema()).select("doc.*").write.parquet(path)
    return shred(spark.read.parquet(path))


def _reads(tables):
    for child_type in search.CHILD_TABLES:
        yield search.parents_having(tables, child_type, {"_org": "example.com"})
    for less_than in (True, False):
        yield search.parents_by_copay(tables, less_than, 10.0)
    for table in CHILD_TABLES:
        yield search.children_of_matching_parents(tables, table, {"planType": "inNetwork"})


def test_reads_plan_one_scan_and_no_join(stored):
    for df in _reads(stored):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan
        assert plan.count("FileScan") == 1, plan


def test_hit_count_of_a_read_runs_at_most_two_jobs(spark, stored):
    sc = spark.sparkContext
    try:
        for i, df in enumerate(_reads(stored)):
            group = f"search-read-{i}"
            sc.setJobGroup(group, group)
            search.hit_count(df).collect()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2, i
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_shred_builds_tables_only_when_read(stored):
    """The mapping holds the documents and builds no table until one is
    read; each table is built once."""
    tables = shred(stored.documents)
    assert list(tables) == ["plans", "membercostshares", "planservices", "services", "edges", "entities"]
    assert tables._built == {}
    assert tables["services"] is tables["services"]
    assert set(tables._built) == {"services"}


@pytest.mark.parametrize(
    "read",
    [
        lambda t: search.parents_having(t, "planservice_service", {"planType": "inNetwork"}),
        lambda t: search.parents_having(t, "plan_planservice", {"name": "dental"}),
        lambda t: search.children_of_matching_parents(t, "services", {"name": "dental"}),
    ],
    ids=["service-lacks-planType", "planservice-lacks-name", "plan-lacks-name"],
)
def test_param_on_a_field_the_row_lacks_raises(stored, read):
    with pytest.raises(AnalysisException):
        read(stored).collect()
