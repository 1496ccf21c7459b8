"""Property-based tests (SURVEY §5.2 item 4): the param→predicate
compiler agrees with a reference evaluator on random inputs, and
reconstruct(shred(x)) == canon(x) for generated documents with random
shapes (absent fields, 0..3 children, duplicate-free ids)."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.operators.reconstruct import reconstruct
from adv_big_data_indexing_spark.operators.shred import shred
from adv_big_data_indexing_spark.plans.json_schema_compiler import validate
from adv_big_data_indexing_spark.plans.predicate import compile_params
from tests.fixtures import reference_schema

FIELDS = {"planType": ["inNetwork", "outOfNetwork", "gold"], "copay": [0.0, 10.0, 99.5], "n": [1, 2, 3]}

ROWS = [
    {"planType": pt, "copay": c, "n": n}
    for pt in FIELDS["planType"]
    for c in FIELDS["copay"]
    for n in FIELDS["n"]
]


def _python_eval(row: dict, params: dict) -> bool:
    ops = {"lt": lambda a, b: a < b, "gt": lambda a, b: a > b,
           "lte": lambda a, b: a <= b, "gte": lambda a, b: a >= b}
    for field, cond in params.items():
        v = row[field]
        if isinstance(cond, dict):
            for op, bound in cond.items():
                if not ops[op](v, bound):
                    return False
        elif v != cond:
            return False
    return True


# Values are type-compatible with their field (the translator inherits
# ANSI SQL typing: a mistyped literal raises rather than coercing —
# pinned explicitly in test_predicate_compiler_rejects_mistyped).
_range = st.fixed_dictionaries(
    {},
    optional={
        "lt": st.sampled_from([0.0, 2, 50.0]),
        "gt": st.sampled_from([0.0, 1, 10.0]),
    },
).filter(bool)

param_strategy = st.fixed_dictionaries(
    {},
    optional={
        "planType": st.sampled_from(FIELDS["planType"]),
        "copay": st.one_of(st.sampled_from(FIELDS["copay"]), _range),
        "n": st.one_of(st.sampled_from(FIELDS["n"]), _range),
    },
)


@pytest.fixture(scope="module")
def param_df(spark):
    return spark.createDataFrame(ROWS).cache()


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(params=param_strategy)
def test_predicate_compiler_matches_reference_eval(spark, param_df, params):
    got = {
        (r.planType, r.copay, r.n)
        for r in param_df.filter(compile_params(params)).collect()
    }
    expected = {
        (row["planType"], row["copay"], row["n"])
        for row in ROWS
        if _python_eval(row, params)
    }
    assert got == expected, f"params={params}"


doc_strategy = st.builds(
    lambda i, has_cs, n_sv, sparse: {
        "objectId": f"h-{i}",
        "objectType": "plan",
        "creationDate": "05-03-2021",
        **({"planType": "inNetwork"} if not sparse else {}),
        **(
            {
                "planCostShares": {
                    "objectId": f"h-cs-{i}",
                    "objectType": "membercostshare",
                    **({"copay": float(i % 7)} if i % 2 == 0 else {}),
                }
            }
            if has_cs
            else {}
        ),
        **(
            {
                "linkedPlanServices": [
                    {
                        "objectId": f"h-ps-{i}-{j}",
                        "objectType": "planservice",
                        **(
                            {
                                "linkedService": {
                                    "objectId": f"h-svc-{i}-{j}",
                                    "objectType": "service",
                                    "name": f"svc{j}",
                                }
                            }
                            if j % 2 == 0
                            else {}
                        ),
                    }
                    for j in range(n_sv)
                ]
            }
            if n_sv > 0
            else {}
        ),
    },
    i=st.integers(0, 10_000),
    has_cs=st.booleans(),
    n_sv=st.integers(0, 3),
    sparse=st.booleans(),
)


def _canon_doc(d: dict) -> dict:
    """Expected reconstruction: all schema fields present (absent → None),
    child arrays sorted, absent arrays → []."""
    cs = d.get("planCostShares")
    return {
        "objectId": d["objectId"],
        "objectType": d["objectType"],
        "_org": d.get("_org"),
        "planType": d.get("planType"),
        "creationDate": d["creationDate"],
        "planCostShares": None
        if cs is None
        else {
            "objectId": cs["objectId"],
            "deductible": cs.get("deductible"),
            "_org": cs.get("_org"),
            "copay": cs.get("copay"),
            "objectType": cs["objectType"],
        },
        "linkedPlanServices": sorted(
            (
                {
                    "objectId": e["objectId"],
                    "linkedService": None
                    if e.get("linkedService") is None
                    else {
                        "_org": e["linkedService"].get("_org"),
                        "objectId": e["linkedService"]["objectId"],
                        "objectType": e["linkedService"]["objectType"],
                        "name": e["linkedService"].get("name"),
                    },
                    "planserviceCostShares": None,
                    "_org": e.get("_org"),
                    "objectType": e["objectType"],
                }
                for e in d.get("linkedPlanServices", [])
            ),
            key=lambda e: e["objectId"],
        ),
    }


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=st.lists(doc_strategy, min_size=1, max_size=6, unique_by=lambda d: d["objectId"]))
def test_roundtrip_random_documents(spark, docs):
    raw = spark.createDataFrame([(json.dumps(d),) for d in docs], "raw string")
    v = validate(raw, reference_schema())
    assert v.filter(~F.col("is_valid")).count() == 0
    rec = reconstruct(shred(v.select("doc.*")))
    got = {
        r["objectId"]: r
        for r in (row.asDict(recursive=True) for row in rec.drop("id").collect())
    }
    assert len(got) == len(docs)
    for d in docs:
        assert got[d["objectId"]] == _canon_doc(d), d["objectId"]


def test_predicate_compiler_rejects_mistyped(spark, param_df):
    """ANSI contract: a wrong-typed literal raises loudly instead of
    silently matching nothing."""
    with pytest.raises(Exception, match="CAST_INVALID_INPUT|cannot be cast"):
        param_df.filter(compile_params({"planType": 10.0})).collect()


def test_predicate_compiler_unknown_op(spark):
    with pytest.raises(ValueError, match="unsupported range op"):
        compile_params({"copay": {"between": [1, 2]}})


def test_ilog2_q4_cross_engine_sweep(spark):
    """ilog2_q4 is the quarter-bit integer log2 underpinning the
    surprisal/entropy/BM25/idf oracles. Sweep: the exact region
    (x < 2^15.75), powers of two ± 1 up to 2^62, and pseudorandom large
    values — Spark, DuckDB, and the Python reference must agree EXACTLY
    (parity requires identical formula evaluation, not closeness), and
    the result must be monotone and within one step of true floor(4*log2)."""
    import math

    import duckdb

    from adv_big_data_indexing_spark.functions.exact import DUCK_ILOG2_Q4, ilog2_q4
    from pyspark.sql import functions as F

    xs = list(range(1, 4096))
    xs += [2**k + d for k in range(12, 63) for d in (-1, 0, 1)]
    xs += [(1103515245 * k + 12345) % (2**62) + 1 for k in range(500)]
    xs = sorted(set(xs))

    def py_ref(x: int) -> int:
        s = max(x.bit_length() - 15, 0)
        y = x >> s
        return 4 * s + (y * y * y * y).bit_length() - 1

    df = spark.createDataFrame([(x,) for x in xs], "x long")
    got_spark = {
        r.x: r.q for r in df.select("x", ilog2_q4(F.col("x")).alias("q")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    got_duck = {
        r[0]: r[1]
        for r in con.sql(
            f"SELECT x, {DUCK_ILOG2_Q4.format(col='x')} AS q FROM t"
        ).fetchall()
    }
    prev = None
    for x in xs:
        want = py_ref(x)
        assert got_spark[x] == want, (x, got_spark[x], want)
        assert got_duck[x] == want, (x, got_duck[x], want)
        true_q4 = math.floor(4 * math.log2(x)) if x > 1 else 0
        assert abs(want - true_q4) <= 1, (x, want, true_q4)
        if x < 2**15:  # exact region: bit-exact quarter-bit floor
            assert want == true_q4, (x, want, true_q4)
        if prev is not None:
            assert want >= prev
        prev = want


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=50), max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_pair_explode_matches_combinations(spark, baskets):
    """The mining module's map-side pair-explode expression produces
    exactly itertools.combinations(sorted(set(xs)), 2) per basket —
    including empty and single-item baskets (zero pairs)."""
    from itertools import combinations

    from adv_big_data_indexing_spark.operators.mining import ordered_pairs_sql

    df = spark.createDataFrame(
        [(i, sorted(set(xs))) for i, xs in enumerate(baskets)],
        "bask int, arr array<bigint>",
    )
    rows = (
        df.select(
            "bask",
            F.explode(F.expr(ordered_pairs_sql("i1", "i2"))).alias("p")
        )
        .select("bask", "p.i1", "p.i2")
        .collect()
    )
    got = sorted((r.bask, r.i1, r.i2) for r in rows)
    want = sorted(
        (i, a, b)
        for i, xs in enumerate(baskets)
        for a, b in combinations(sorted(set(xs)), 2)
    )
    assert got == want


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-1000, 1000)),
        min_size=1,
        max_size=200,
    ),
    group_cols=st.sampled_from([(), ("g",)]),
    k=st.integers(2, 9),
    num_parts=st.sampled_from([1, 3, 5, 7, 32, None]),
)
def test_ordered_rank_matches_window_functions(spark, rows, group_cols, k, num_parts):
    """ordered_rank's _rank/_n and ntile_bucket must equal Spark's own
    row_number/count/ntile windows under the identical total order, global
    or per group — for any size (including n < k and singleton groups),
    any tie pattern, any sign, and any range-partition count (None =
    derived from spark.sql.shuffle.partitions)."""
    from pyspark.sql.window import Window

    from adv_big_data_indexing_spark.operators.advanced import (
        ntile_bucket,
        ordered_rank,
    )

    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)], "id: long, g: long, v: long"
    )
    got = {
        r.id: (r._rank, r._n, r.b)
        for r in ordered_rank(df, ["v", "id"], group_cols, num_parts=num_parts)
        .withColumn("b", ntile_bucket(k))
        .collect()
    }
    w = Window.partitionBy(*group_cols).orderBy("v", "id")
    exp = {
        r.id: (r.rn, r.n, r.b)
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy(*group_cols)).alias("n"),
            F.ntile(k).over(w).alias("b"),
        ).collect()
    }
    assert got == exp


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(-10, 10)),
        min_size=1,
        max_size=80,
    )
)
def test_global_running_sum_deterministic_on_ties(spark, rows):
    """ADVICE r6: global_running_sum must be total — with NON-distinct
    order keys, every row of a tie run reads the run-inclusive prefix
    (SQL RANGE semantics), a pure function of the key, never an
    arbitrary intermediate ROWS prefix."""
    from adv_big_data_indexing_spark.operators.advanced import global_running_sum

    df = spark.createDataFrame(rows, "t: long, d: long")
    got = global_running_sum(df, ["t"], "d", "run").collect()
    per_key: dict[int, int] = {}
    for t, d in rows:
        per_key[t] = per_key.get(t, 0) + d
    pref, acc = {}, 0
    for t in sorted(per_key):
        acc += per_key[t]
        pref[t] = acc
    assert got, "empty result"
    for r in got:
        assert r.run == pref[r.t], (r, pref)


def test_rank_machinery_reliable_checkpoint_mode(spark, tmp_path):
    """Under spark.advbdi.checkpoint=reliable ordered_rank writes to the
    SparkContext checkpoint dir (survives executor loss; local disks not
    sized by the data) and produces the identical buckets."""
    from pyspark.sql.window import Window

    from adv_big_data_indexing_spark.operators.advanced import (
        ntile_bucket,
        ordered_rank,
    )

    spark.sparkContext.setCheckpointDir(str(tmp_path))
    spark.conf.set("spark.advbdi.checkpoint", "reliable")
    try:
        df = spark.range(200).select(
            F.col("id"), (F.col("id") * 37 % 11).alias("v")
        )
        got = {
            r.id: r.b
            for r in ordered_rank(df, ["v", "id"])
            .select("id", ntile_bucket(4).alias("b"))
            .collect()
        }
        exp = {
            r.id: r.b
            for r in df.select(
                "id", F.ntile(4).over(Window.orderBy("v", "id")).alias("b")
            ).collect()
        }
        assert got == exp
    finally:
        spark.conf.set("spark.advbdi.checkpoint", "local")


def test_machinery_parts_nonnumeric_conf_falls_back(spark):
    """ADVICE r7: platforms that set spark.sql.shuffle.partitions to a
    non-numeric sentinel ("auto" under runtime-managed AQE) must not
    crash every rank-machinery caller — the parse falls back to the
    cluster default parallelism. OSS Spark rejects setting the sentinel
    conf value itself, so the parse helper is exercised directly."""
    from adv_big_data_indexing_spark.operators.advanced import (
        _machinery_parts,
        _parse_partitions_conf,
    )

    assert _parse_partitions_conf("32") == 32
    assert _parse_partitions_conf("auto") is None
    assert _parse_partitions_conf(None) is None
    df = spark.range(5)
    # numeric conf (the tests run at 32): derived value, no fallback
    assert _machinery_parts(df, None) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    assert _machinery_parts(df, 7) == 7


def test_lazy_reliable_checkpoint_releases_previous_cache(spark, tmp_path):
    """In reliable mode a lazy checkpoint (the per-layer BFS shape) holds
    its frame until the session's next build starts — not for the
    session lifetime — and the release first forces the checkpoint write
    from the held rows, so a never-acted-on nondeterministic frame reads
    the same frozen values after its cache is gone."""
    import random

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from adv_big_data_indexing_spark import lifetime
    from adv_big_data_indexing_spark.operators import advanced as adv

    spark.sparkContext.setCheckpointDir(str(tmp_path))
    spark.conf.set("spark.advbdi.checkpoint", "reliable")
    try:
        lifetime.release_held(spark)
        out1 = adv.consistent_materialize(spark.range(50), eager=False)
        assert out1.count() == 50  # checkpoint job fires at first action
        out2 = adv.consistent_materialize(spark.range(30), eager=False)
        assert out2.count() == 30
        held = [h for h, _ in lifetime._held[spark]]
        assert len(held) == 2
        assert all(h.storageLevel != StorageLevel.NONE for h in held)
        lifetime.release_held(spark)  # what the next registered build does first
        assert spark not in lifetime._held
        assert all(h.storageLevel == StorageLevel.NONE for h in held)
        assert out1.count() == 50  # read from the written checkpoint

        # a seeded rand() recomputes to the same values; a Python UDF
        # draws new ones on every evaluation
        noise = F.udf(lambda _: random.random(), "double").asNondeterministic()
        nd = adv.consistent_materialize(
            spark.range(20).select("id", noise("id").alias("r")), eager=False
        )
        lifetime.release_held(spark)  # never acted on: the release writes it
        v1 = sorted((r.id, r.r) for r in nd.collect())
        v2 = sorted((r.id, r.r) for r in nd.collect())
        assert v1 == v2
    finally:
        spark.conf.set("spark.advbdi.checkpoint", "local")
        lifetime.release_held(spark)


def test_repo_wide_reliable_checkpoint_mode(spark, tmp_path):
    """consistent_materialize is the repo-wide lineage-truncation
    point — under spark.advbdi.checkpoint=reliable an ITERATIVE
    non-machinery operator (connected components: one checkpoint per
    small-star/large-star round) must produce the identical result via
    the SparkContext checkpoint directory."""
    from adv_big_data_indexing_spark.contract import registry
    from tests.conftest import SF_CORRECTNESS

    name = "ns_dedup_components"
    fn = registry()[name].fn
    base = sorted(map(tuple, fn(spark, SF_CORRECTNESS).collect()))

    spark.sparkContext.setCheckpointDir(str(tmp_path))
    spark.conf.set("spark.advbdi.checkpoint", "reliable")
    try:
        rel = sorted(map(tuple, fn(spark, SF_CORRECTNESS).collect()))
        assert rel == base
    finally:
        spark.conf.set("spark.advbdi.checkpoint", "local")


def test_reliable_components_keep_lsh_hold(spark, tmp_path, monkeypatch):
    """With the pair source routed through LSH, the reliable-mode
    checkpoints of connected components do not release the held band
    frame: it is still persisted when the build returns, and the result
    equals local mode."""
    from pyspark.storagelevel import StorageLevel

    from adv_big_data_indexing_spark.contract import registry
    from adv_big_data_indexing_spark import lifetime
    from adv_big_data_indexing_spark.operators import dedup as D
    from tests.conftest import SF_CORRECTNESS

    monkeypatch.setattr(D, "MAX_EXACT_JACCARD_DOCS", 10)
    fn = registry()["ns_dedup_components"].fn
    base = sorted(map(tuple, fn(spark, SF_CORRECTNESS).collect()))

    spark.sparkContext.setCheckpointDir(str(tmp_path))
    spark.conf.set("spark.advbdi.checkpoint", "reliable")
    try:
        df = fn(spark, SF_CORRECTNESS)
        levels = [h.storageLevel for h, _ in lifetime._held[spark]]
        assert levels == [StorageLevel.DISK_ONLY]
        assert sorted(map(tuple, df.collect())) == base
    finally:
        spark.conf.set("spark.advbdi.checkpoint", "local")
        lifetime.release_held(spark)


def test_reliable_bfs_matches_oracle(spark, duck, tmp_path):
    """The BFS frontiers are lazy reliable checkpoints: at most one held
    layer per hop after the build, and the result still matches the
    DuckDB oracle."""
    from adv_big_data_indexing_spark.contract import registry
    from adv_big_data_indexing_spark import lifetime
    from adv_big_data_indexing_spark.operators.mining import BFS_MAX_HOPS
    from tests.conftest import SF_CORRECTNESS
    from tests.parity import compare

    spec = registry()["ns_graph_bfs_hops"]
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    spark.conf.set("spark.advbdi.checkpoint", "reliable")
    try:
        sdf = spec.fn(spark, SF_CORRECTNESS)
        assert 1 <= len(lifetime._held[spark]) <= BFS_MAX_HOPS
        assert compare(sdf, duck.execute(spec.oracle)) == []
    finally:
        spark.conf.set("spark.advbdi.checkpoint", "local")
        lifetime.release_held(spark)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 50)),
        min_size=1,
        max_size=120,
    ),
    k=st.integers(1, 6),
)
def test_grouped_topk_matches_window_topk(spark, rows, k):
    """r7 grouped machinery: grouped_topk (per-slice pool -> k*P pool ->
    final rank) must equal the direct per-group rank window filtered to
    rnk <= k — any group sizes, tie patterns, k, and whatever physical
    slicing spark_partition_id produces."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from adv_big_data_indexing_spark.operators.advanced import grouped_topk

    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)], "id: long, g: long, v: long"
    )
    order = [F.col("v").desc(), F.col("id").asc()]
    got = {
        (r.g, r.rnk): r.id for r in grouped_topk(df, "g", order, k).collect()
    }
    w = Window.partitionBy("g").orderBy(*order)
    exp = {
        (r.g, r.rnk): r.id
        for r in df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .collect()
    }
    assert got == exp
