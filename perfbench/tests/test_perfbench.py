"""Tests of the benchmark itself: seeded generators, metric names and
the output checks.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import docgen  # noqa: E402
import run  # noqa: E402
import tablegen  # noqa: E402


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stream_bytes(seed: int) -> bytes:
    s = docgen.PlanStream(seed)
    batches = [s.batch(120, 0, 0, 8), s.batch(24, 12, 6, 6), s.batch(24, 12, 6, 6)]
    return json.dumps(batches).encode()


# -- generators -----------------------------------------------------------------


def test_plan_stream_is_deterministic():
    assert _stream_bytes(3) == _stream_bytes(3)
    assert _stream_bytes(3) != _stream_bytes(4)


def test_tables_are_deterministic(tmp_path):
    def files(seed: int, name: str) -> dict[str, bytes]:
        out = tmp_path / name
        tablegen.write_tables(str(out), seed, 0.001)
        return {p.name: p.read_bytes() for p in sorted(out.iterdir())}

    a, b, c = files(5, "a"), files(5, "b"), files(6, "c")
    assert a == b
    assert len(a) == 10
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    assert a["documents.parquet"] != c["documents.parquet"]


def test_plan_stream_covers_the_fixture_constraints():
    s = docgen.PlanStream(1)
    records = s.batch(200, 0, 0, 8) + s.batch(24, 12, 6, 6)
    docs = list(s.live.values())
    ids = [
        oid
        for d in docs
        for oid in [d["objectId"], d["planCostShares"]["objectId"]]
        + [x for ps in d["linkedPlanServices"]
           for x in (ps["objectId"], ps["linkedService"]["objectId"], ps["planserviceCostShares"]["objectId"])]
    ]
    assert len(ids) == len(set(ids))
    assert {len(d["linkedPlanServices"]) for d in docs} == {0, 1, 2, 3, 4}
    copays = {d["planCostShares"]["copay"] for d in docs}
    assert set(docgen.COPAY_PROBES) <= copays
    names = {ps["linkedService"]["name"] for d in docs for ps in d["linkedPlanServices"]}
    assert {"Yearly physical", "well baby"} <= names
    ops = {r["op"] for r in records}
    assert ops == {"insert", "update", "delete"}
    assert len({r["key"] for r in records[-48:]}) == 48  # one record per key per batch
    assert s.invalid_sent == 14


def test_invalid_documents_violate_the_schema():
    s = docgen.PlanStream(2)
    for kind in docgen.INVALID_KINDS:
        raw = s._invalid(kind)
        if kind == "malformed_json":
            with pytest.raises(json.JSONDecodeError):
                json.loads(raw)
            continue
        doc = json.loads(raw)
        if kind == "bad_date":
            assert doc["creationDate"] == "31-02-2024"
        elif kind == "missing_required":
            assert "objectType" not in doc
        else:
            assert "extraField" in doc


def test_schema_compiles_to_the_plan_shape():
    from adv_big_data_indexing_spark.plans.json_schema_compiler import compile_struct

    with open(os.path.join(BENCH, "plan_schema.json")) as f:
        st = compile_struct(json.load(f))
    assert [f.name for f in st.fields] == [
        "planCostShares", "linkedPlanServices", "_org", "objectId", "objectType", "planType", "creationDate",
    ]
    lps = st["linkedPlanServices"].dataType.elementType
    assert {f.name for f in lps.fields} == {"linkedService", "planserviceCostShares", "_org", "objectId", "objectType"}
    assert st["planCostShares"].dataType["copay"].dataType.typeName() == "double"


# -- metric names -----------------------------------------------------------------


@pytest.fixture(scope="module")
def workloads():
    import analytics
    import docflow

    return {"analytics_relational": analytics, "doc_write_read": docflow}


def test_every_printed_metric_is_named_in_benchmark_json(spec, workloads):
    e2e = {m["name"]: 1.0 for m in spec["end_to_end"]}
    for module in workloads.values():
        res = {"e2e": e2e, "layers": dict.fromkeys(module.LAYERS, 2.0)}
        for traced, key in ((False, "end_to_end"), (True, "per_layer")):
            printed = run.select_metrics(spec, res, traced, module.LAYERS)
            assert list(printed) == [m["name"] for m in spec[key]]
            assert all(isinstance(v["value"], float) and v["unit"] for v in printed.values())
        # every declared layer is a BENCHMARK.json metric, and prints its value
        assert {k for k, v in printed.items() if v["value"] == 2.0} == module.LAYERS


def test_each_benchmark_layer_is_emitted_by_some_workload(spec, workloads):
    emitted = set().union(*(m.LAYERS for m in workloads.values()))
    assert {m["name"] for m in spec["per_layer"]} == emitted


def test_a_missing_or_undeclared_layer_is_refused(spec, workloads):
    layers = workloads["doc_write_read"].LAYERS
    full = dict.fromkeys(layers, 1.0)
    missing = dict(full)
    del missing["streaming.cdc.batch_s"]
    for emitted in (missing, full | {"contract.build_s": 1.0}, full | {"exec.jobz": 1.0}):
        with pytest.raises(KeyError):
            run.select_metrics(spec, {"e2e": {}, "layers": emitted}, True, layers)


def test_bench_queries_match_the_registry():
    from adv_big_data_indexing_spark.contract import registry

    import analytics

    assert list(analytics.QUERIES) == analytics.bench_queries(registry())


def test_benchmark_json_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))


# -- output checks -----------------------------------------------------------------


@pytest.fixture
def result():
    return pd.DataFrame(
        {"doc_id": np.array([1, 2, 3], dtype=np.int64), "score": [0.1, 0.25, 1 / 3], "tag": ["a", "b", None]}
    )


def test_equal_results_pass(result):
    shuffled = result.iloc[[2, 0, 1]][["tag", "score", "doc_id"]]
    assert check.compare_frames(result, shuffled) == []


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda df: df.assign(score=[0.1, 0.25, np.nextafter(1 / 3, 1)]),  # one ulp
        lambda df: df.iloc[:2],  # a lost row
        lambda df: pd.concat([df, df.iloc[:1]]),  # a duplicated row
        lambda df: df.assign(doc_id=df["doc_id"].astype(float)),  # int became float
        lambda df: df.rename(columns={"tag": "label"}),  # renamed column
        lambda df: df.assign(tag=["a", "b", "c"]),  # null became a value
    ],
)
def test_a_corrupted_result_fails_the_check(result, corrupt):
    assert check.compare_frames(corrupt(result.copy()), result) != []


def test_read_answers_follow_the_live_set():
    s = docgen.PlanStream(9)
    s.batch(50, 0, 0, 0)
    before = s.expected_search_plans({"planType": "inNetwork"})
    doomed = [k for k, d in s.live.items() if d["planType"] == "inNetwork"]
    s.batch(0, 0, 0, 0)
    for k in doomed[:3]:
        del s.live[k]
    assert s.expected_search_plans({"planType": "inNetwork"}) == before - 3
    total_children = sum(1 + len(d["linkedPlanServices"]) for d in s.live.values())
    assert s.expected_children("membercostshares", {}) == total_children
