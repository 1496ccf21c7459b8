"""Document-core tests: schema compile/validate, shred→reconstruct
round-trip, ETag semantics, merge-patch (incl. the reference's quirks),
guarded insert / upsert / cascade delete, conditional read/write, and
the search API — the reference's manual Postman/Kibana test catalog
(SURVEY.md §5.1) as automated set-oriented checks."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.operators import mutate, search
from adv_big_data_indexing_spark.operators.reconstruct import reconstruct, with_etag
from adv_big_data_indexing_spark.operators.shred import shred
from adv_big_data_indexing_spark.plans.json_schema_compiler import (
    compile_struct,
    validate,
)
from tests.fixtures import canonical_plan, make_plan, plan_jsons, reference_schema

N_PLANS = 20


@pytest.fixture(scope="module")
def schema():
    return reference_schema()


@pytest.fixture(scope="module")
def plans_df(spark, schema):
    raw = spark.createDataFrame([(s,) for s in plan_jsons(N_PLANS)], "raw string")
    v = validate(raw, schema)
    assert v.filter(~F.col("is_valid")).count() == 0
    return v.select("doc.*")


@pytest.fixture(scope="module")
def tables(plans_df):
    return shred(plans_df)


# --- schema compiler -------------------------------------------------------


def test_compile_struct_shape(schema):
    st = compile_struct(schema)
    names = [f.name for f in st.fields]
    assert set(names) == {
        "planCostShares",
        "linkedPlanServices",
        "_org",
        "objectId",
        "objectType",
        "planType",
        "creationDate",
    }
    lps = st["linkedPlanServices"].dataType.elementType
    assert {f.name for f in lps.fields} == {
        "linkedService",
        "planserviceCostShares",
        "_org",
        "objectId",
        "objectType",
    }
    assert st["planCostShares"].dataType["copay"].dataType.typeName() == "double"


def test_reference_canonical_doc_valid(spark, schema):
    doc = canonical_plan()
    raw = spark.createDataFrame([(json.dumps(doc),)], "raw string")
    v = validate(raw, schema).collect()[0]
    assert v.is_valid, v.violations


@pytest.mark.parametrize(
    "mutator, expect",
    [
        (lambda d: d.pop("objectId"), "$.objectId:required"),
        (lambda d: d.update(creationDate="31-02-2024"), "$.creationDate:calendar_valid"),
        (lambda d: d.update(creationDate="2024-01-01"), "$.creationDate:pattern"),
        (lambda d: d.update(extraField=1), "$:no_additional_properties"),
        (lambda d: d["planCostShares"].pop("objectId"), "$.planCostShares.objectId:required"),
        (lambda d: d["linkedPlanServices"][0].pop("objectId"), "$.linkedPlanServices[].objectId:required"),
    ],
)
def test_validate_rejects(spark, schema, mutator, expect):
    doc = make_plan(0)
    mutator(doc)
    raw = spark.createDataFrame([(json.dumps(doc),)], "raw string")
    row = validate(raw, schema).collect()[0]
    assert not row.is_valid
    assert expect in row.violations


def test_validate_malformed_json(spark, schema):
    raw = spark.createDataFrame([("{not json",)], "raw string")
    row = validate(raw, schema).collect()[0]
    assert not row.is_valid
    assert "$:parse" in row.violations


# --- shred -----------------------------------------------------------------


def test_shred_cardinalities(tables):
    n_sv = 2
    assert tables["plans"].count() == N_PLANS
    assert tables["planservices"].count() == N_PLANS * n_sv
    assert tables["services"].count() == N_PLANS * n_sv
    assert tables["membercostshares"].count() == N_PLANS * (1 + n_sv)
    # one entity row per object at any nesting level (Redis keyspace mirror)
    assert tables["entities"].count() == N_PLANS * (2 + 3 * n_sv)
    assert tables["edges"].count() == N_PLANS * (2 + 3 * n_sv)


def test_edges_vocabulary_and_one_parent(tables):
    rels = {r.rel_name for r in tables["edges"].select("rel_name").distinct().collect()}
    assert rels == {
        "plan",
        "plan_membercostshare",
        "plan_planservice",
        "planservice_membercostshare",
        "planservice_service",
    }
    # one parent per child (README.md:53)
    dup = (
        tables["edges"]
        .groupBy("child_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_entities_key_shape(tables):
    bad = tables["entities"].filter(
        ~F.col("id").rlike("^(plan|membercostshare|planservice|service)_")
    )
    assert bad.count() == 0


# --- reconstruct: round-trip -----------------------------------------------


def _canon(doc: dict) -> dict:
    out = dict(doc)
    out["linkedPlanServices"] = sorted(
        doc.get("linkedPlanServices") or [], key=lambda e: e["objectId"]
    )
    return out


def test_roundtrip(tables):
    rec = reconstruct(tables)
    got = {
        r["objectId"]: r
        for r in (row.asDict(recursive=True) for row in rec.drop("id").collect())
    }
    assert len(got) == N_PLANS
    for i in range(N_PLANS):
        expected = _canon(make_plan(i))
        actual = got[f"plan-{i:05d}"]
        assert actual == expected, f"plan {i} mismatch"


def test_etag_stable_and_content_addressed(tables):
    e1 = {r.id: r.etag for r in with_etag(reconstruct(tables)).select("id", "etag").collect()}
    e2 = {r.id: r.etag for r in with_etag(reconstruct(tables)).select("id", "etag").collect()}
    assert e1 == e2  # deterministic across evaluations (OP-G5 relies on this)
    assert len(set(e1.values())) == N_PLANS  # distinct content → distinct etag


# --- merge-patch -----------------------------------------------------------


def test_merge_patch_semantics(spark, plans_df):
    patch_doc = {
        "objectId": "plan-00000",
        "planType": "PATCHED",
        "planCostShares": {"objectId": "cs-00000", "objectType": "membercostshare", "copay": 999.0},
        "linkedPlanServices": [
            {  # replaces existing ps-00000-1 wholesale
                "linkedService": None,
                "planserviceCostShares": None,
                "_org": "patched.org",
                "objectId": "ps-00000-1",
                "objectType": "planservice",
            },
            {  # brand new → appended
                "linkedService": {
                    "_org": "example.com",
                    "objectId": "svc-new",
                    "objectType": "service",
                    "name": "new svc",
                },
                "planserviceCostShares": None,
                "_org": "example.com",
                "objectId": "ps-new",
                "objectType": "planservice",
            },
        ],
    }
    patch = spark.createDataFrame([(json.dumps(patch_doc),)], "raw string").select(
        F.from_json("raw", plans_df.schema).alias("doc")
    ).select("doc.*")
    merged, rejected = mutate.merge_patch(plans_df, patch)
    assert rejected.count() == 0
    row = merged.filter(F.col("objectId") == "plan-00000").collect()[0].asDict(recursive=True)
    # scalar overwritten; untouched scalars kept
    assert row["planType"] == "PATCHED"
    assert row["_org"] == "example.com"
    # field-wise costshare merge: copay overwritten, deductible kept
    assert row["planCostShares"]["copay"] == 999.0
    assert row["planCostShares"]["deductible"] == 1000.0
    # array upsert: ps-00000-1 replaced wholesale, ps-00000-0 kept, ps-new appended
    by_id = {e["objectId"]: e for e in row["linkedPlanServices"]}
    assert set(by_id) == {"ps-00000-0", "ps-00000-1", "ps-new"}
    assert by_id["ps-00000-1"]["_org"] == "patched.org"
    assert by_id["ps-00000-1"]["linkedService"] is None  # wholesale replace
    assert by_id["ps-00000-0"]["linkedService"]["name"] is not None
    # other plans untouched
    other = merged.filter(F.col("objectId") == "plan-00001").collect()[0].asDict(recursive=True)
    assert other == _canon(make_plan(1))


def test_merge_patch_objectid_immutable_and_guard(spark, plans_df):
    bad = {
        "objectId": "plan-00002",
        "planCostShares": {"copay": 5.0},  # missing objectId/objectType → guard
    }
    patch = spark.createDataFrame([(json.dumps(bad),)], "raw string").select(
        F.from_json("raw", plans_df.schema).alias("doc")
    ).select("doc.*")
    merged, rejected = mutate.merge_patch(plans_df, patch)
    assert rejected.count() == 1
    assert rejected.collect()[0].error == "Wrong Object Type"
    # base row untouched by a rejected patch
    row = merged.filter(F.col("objectId") == "plan-00002").collect()[0].asDict(recursive=True)
    assert row == _canon(make_plan(2))


# --- guarded insert / upsert / cascade delete ------------------------------


def test_guarded_insert(spark, plans_df):
    newdoc = spark.createDataFrame(
        [(json.dumps(make_plan(0)),), (json.dumps(make_plan(999)),)], "raw string"
    ).select(F.from_json("raw", plans_df.schema).alias("doc")).select("doc.*")
    ins, conflicts = mutate.guarded_insert(plans_df, newdoc)
    assert [r.objectId for r in ins.select("objectId").collect()] == ["plan-00999"]
    assert conflicts.collect()[0].error == "conflict_409"


def test_upsert_last_writer(spark):
    existing = spark.createDataFrame([("k1", 1, "a"), ("k2", 1, "b")], "id string, seq long, v string")
    updates = spark.createDataFrame([("k1", 2, "a2"), ("k3", 1, "c")], "id string, seq long, v string")
    out = mutate.upsert_last_writer(existing, updates, "id", "seq")
    got = {r.id: (r.seq, r.v) for r in out.collect()}
    assert got == {"k1": (2, "a2"), "k2": (1, "b"), "k3": (1, "c")}
    # replay idempotency: applying the same updates again changes nothing
    again = mutate.upsert_last_writer(out, updates, "id", "seq")
    assert {r.id: (r.seq, r.v) for r in again.collect()} == got


def test_upsert_last_writer_breaks_equal_version_ties_the_same_way(spark):
    """Equal-seq update and delete pairs of one key keep the same row
    whatever the input order and partitioning: the delete."""
    import random

    schema = "key string, op string, seq long, doc string"
    rows = []
    for i in range(20):
        rows += [(f"k{i}", "update", 5, f'{{"v": {i}}}'), (f"k{i}", "delete", 5, None)]
    rows += [("k0", "insert", 4, "{}"), ("k1", "update", 5, '{"v": 99}')]
    outs = set()
    for seed in range(4):
        shuffled = rows[:]
        random.Random(seed).shuffle(shuffled)
        half = len(shuffled) // 2
        existing = spark.createDataFrame(shuffled[:half], schema).repartition(seed + 1)
        updates = spark.createDataFrame(shuffled[half:], schema).repartition(3, "seq")
        out = mutate.upsert_last_writer(existing, updates, "key", "seq")
        outs.add(tuple(sorted(map(tuple, out.collect()))))
    assert len(outs) == 1
    (got,) = outs
    assert got == tuple(sorted((f"k{i}", "delete", 5, None) for i in range(20)))


def test_cascade_delete(spark, tables):
    roots = spark.createDataFrame([("plan_plan-00000",)], "id string")
    survived = mutate.cascade_delete(tables, roots)
    assert survived["plans"].count() == N_PLANS - 1
    assert survived["planservices"].filter(F.col("parent_key") == "plan_plan-00000").count() == 0
    # grandchildren of the deleted plan are gone too
    assert survived["services"].filter(F.col("id") == "service_svc-00000-0").count() == 0
    assert survived["membercostshares"].filter(F.col("id") == "membercostshare_cs-00000").count() == 0
    # unrelated rows untouched
    assert survived["services"].filter(F.col("id") == "service_svc-00001-0").count() == 1


# --- conditional read/write ------------------------------------------------


def test_conditional_read_304(tables):
    rec = with_etag(reconstruct(tables))
    tag = rec.filter(F.col("id") == "plan_plan-00000").collect()[0].etag
    out = {r.id: r.status for r in mutate.conditional_read(rec, tag).collect()}
    assert out["plan_plan-00000"] == 304
    assert all(v == 200 for k, v in out.items() if k != "plan_plan-00000")


def test_conditional_write_412(spark, tables):
    rec = with_etag(reconstruct(tables))
    tag = rec.filter(F.col("id") == "plan_plan-00000").collect()[0].etag
    writes = spark.createDataFrame(
        [("plan_plan-00000", tag, "newval"), ("plan_plan-00001", "stale-etag", "newval")],
        "id string, expected_etag string, payload string",
    )
    applied, rejected = mutate.conditional_write(rec.select("id", "etag"), writes)
    assert [r.id for r in applied.select("id").collect()] == ["plan_plan-00000"]
    assert rejected.collect()[0].error == "precondition_failed_412"


# --- search API ------------------------------------------------------------


def test_search_plans_conjunctive(tables):
    out = search.search_plans(tables, {"planType": "inNetwork", "_org": "example.com"})
    ids = {r.objectId for r in out.select("objectId").collect()}
    assert ids == {f"plan-{i:05d}" for i in range(0, N_PLANS, 2)}


def test_parents_having_service_name(tables):
    out = search.parents_having(
        tables, "planservice_service", {"name": "Yearly physical"}
    )
    ids = {r.objectId for r in out.select("objectId").collect()}
    # service name cycles with (i+j) % 4 == 0, j in {0,1}
    expected = {f"plan-{i:05d}" for i in range(N_PLANS) if any((i + j) % 4 == 0 for j in range(2))}
    assert ids == expected


def test_parents_by_copay_strict_range(tables):
    out = search.parents_by_copay(tables, less_than=True, value=0.0)
    ids = {r.objectId for r in out.select("objectId").collect()}
    # strict <0 → only the copay=-1 boundary rows qualify
    expected = {
        f"plan-{i:05d}"
        for i in range(N_PLANS)
        if any(v == -1.0 for v in [[-1, 0, 10, 175, 178][(i + j) % 5] for j in [0, 1]])
        or [-1, 0, 10, 175, 178][i % 5] == -1
    }
    assert ids == expected


def test_has_parent_children_of_matching(tables):
    out = search.children_of_matching_parents(
        tables, "services", {"planType": "inNetwork"}
    )
    ids = {r.id for r in out.select("id").collect()}
    expected = {
        f"service_svc-{i:05d}-{j}" for i in range(0, N_PLANS, 2) for j in range(2)
    }
    assert ids == expected


def test_full_scan_cap_and_count(tables):
    assert search.full_scan(tables).count() == min(1000, N_PLANS * 8)
    assert search.hit_count(tables["plans"]).collect()[0].n_hits == N_PLANS


def test_get_mapping(tables):
    m = search.get_mapping(tables)
    assert set(m) == {"plans", "membercostshares", "planservices", "services", "edges", "entities"}
    assert "objectId" in m["plans"]


# --- edge cases: absent optional fields ------------------------------------


def test_roundtrip_sparse_documents(spark, schema):
    """Documents with absent optional fields: no costshare, no services,
    sparse service entries. Canonical form: absent child array → [] after
    reconstruction; absent struct → null."""
    docs = [
        # minimal: only required fields
        {"objectId": "sparse-1", "objectType": "plan", "creationDate": "01-01-2024"},
        # costshare but no services
        {
            "objectId": "sparse-2",
            "objectType": "plan",
            "creationDate": "02-01-2024",
            "planCostShares": {
                "objectId": "sc-2",
                "objectType": "membercostshare",
                "copay": 5.0,
            },
        },
        # service without grandchildren
        {
            "objectId": "sparse-3",
            "objectType": "plan",
            "creationDate": "03-01-2024",
            "linkedPlanServices": [
                {"objectId": "sps-3", "objectType": "planservice"}
            ],
        },
    ]
    raw = spark.createDataFrame([(json.dumps(d),) for d in docs], "raw string")
    v = validate(raw, schema)
    assert v.filter(~F.col("is_valid")).count() == 0
    tables = shred(v.select("doc.*"))
    # no phantom child rows from absent children
    assert tables["membercostshares"].count() == 1
    assert tables["planservices"].count() == 1
    assert tables["services"].count() == 0
    rec = {r["objectId"]: r for r in
           (row.asDict(recursive=True) for row in reconstruct(tables).drop("id").collect())}
    assert rec["sparse-1"]["planCostShares"] is None
    assert rec["sparse-1"]["linkedPlanServices"] == []
    assert rec["sparse-2"]["planCostShares"]["copay"] == 5.0
    assert rec["sparse-2"]["planCostShares"]["deductible"] is None
    lps = rec["sparse-3"]["linkedPlanServices"]
    assert len(lps) == 1 and lps[0]["linkedService"] is None


# --- invariants ------------------------------------------------------------


def test_merge_patch_idempotent(spark, plans_df):
    """merge_patch(merge_patch(base, p), p) == merge_patch(base, p) — the
    property that makes retried PATCHes safe (the reference relies on it
    implicitly via ES upsert)."""
    patch_doc = {
        "objectId": "plan-00003",
        "planType": "IDEMPOTENT",
        "linkedPlanServices": [
            {
                "linkedService": None,
                "planserviceCostShares": None,
                "_org": "patched.org",
                "objectId": "ps-00003-0",
                "objectType": "planservice",
            }
        ],
    }
    patch = spark.createDataFrame([(json.dumps(patch_doc),)], "raw string").select(
        F.from_json("raw", plans_df.schema).alias("doc")
    ).select("doc.*")
    once, _ = mutate.merge_patch(plans_df, patch)
    twice, _ = mutate.merge_patch(once, patch)
    canon = lambda df: sorted(  # noqa: E731
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in df.collect()
    )
    assert canon(once) == canon(twice)


def test_cascade_delete_then_reconstruct_consistent(spark, tables):
    """After a cascade delete, reconstruction must not resurrect any
    fragment of the deleted document (referential integrity)."""
    roots = spark.createDataFrame([("plan_plan-00005",)], "id string")
    survived = mutate.cascade_delete(tables, roots)
    rec = reconstruct(survived)
    assert rec.filter(F.col("objectId") == "plan-00005").count() == 0
    all_json = json.dumps(
        [r.asDict(recursive=True) for r in rec.collect()], default=str
    )
    assert "ps-00005-" not in all_json and "cs-00005" not in all_json


# --- schema registry (the /schema CRUD surface) ----------------------------


def test_schema_registry_crud(spark, schema):
    from adv_big_data_indexing_spark.plans.registry import (
        SchemaConflictError,
        SchemaNotFoundError,
        SchemaRegistry,
    )

    reg = SchemaRegistry()
    assert reg.register("plan", schema) == 1
    # 409 on duplicate (apiLogicForCRUD.ts:417-429)
    with pytest.raises(SchemaConflictError):
        reg.register("plan", schema)
    # replace bumps the version and invalidates the compile cache key
    st1 = reg.struct("plan")
    assert reg.register("plan", schema, replace=True) == 2
    st2 = reg.struct("plan")
    assert st1 == st2  # same schema → same struct, different cache entry
    # the registered struct drives validation end-to-end
    raw = spark.createDataFrame([(json.dumps(make_plan(0)),)], "raw string")
    parsed = raw.select(F.from_json("raw", reg.struct("plan")).alias("d")).select("d.*")
    assert parsed.collect()[0].objectId == "plan-00000"
    # persistable table mirror
    rows = reg.to_rows()
    assert rows[0][0] == "plan" and rows[0][1] == 2
    reg.delete("plan")
    with pytest.raises(SchemaNotFoundError):
        reg.get("plan")
    with pytest.raises(SchemaNotFoundError):
        reg.delete("plan")


def test_dataset_diff_statuses_partition_the_key_universe(spark):
    """Every doc_id of either snapshot appears exactly once, with the
    status the synthetic-v2 rule (mod-7 drop, mod-5 edit) predicts."""
    from adv_big_data_indexing_spark.contract import registry
    from adv_big_data_indexing_spark.operators.curation import snapshot_diff
    from tests.conftest import SF_CORRECTNESS

    d = spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet").select(
        "doc_id", "text"
    )
    from pyspark.sql import functions as F

    v2 = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" [rev2]")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    rows = snapshot_diff(d, v2).collect()
    ids = [r.doc_id for r in rows]
    assert sorted(ids) == sorted(r.doc_id for r in d.collect())
    for r in rows:
        if r.doc_id % 7 == 0:
            want = "removed"
        elif r.doc_id % 5 == 0:
            want = "changed"
        else:
            want = "unchanged"
        assert r.status == want, (r.doc_id, r.status, want)
    # summary query agrees with the per-row statuses
    summary = {
        r.status: r.n_docs
        for r in registry()["ns_dataset_diff"].fn(spark, SF_CORRECTNESS).collect()
    }
    from collections import Counter

    assert summary == dict(Counter(r.status for r in rows))
