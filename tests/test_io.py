"""I/O connector tests: JSON ingest with corrupt capture, partitioned
entity store with partition pruning, CSV round-trip."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from adv_big_data_indexing_spark.operators.shred import shred
from adv_big_data_indexing_spark.plans.json_schema_compiler import compile_struct, validate
from adv_big_data_indexing_spark.sources import io as eio
from tests.fixtures import plan_jsons, reference_schema


def test_json_ingest_corrupt_capture(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    lines = plan_jsons(5) + ["{broken json", json.dumps({"objectId": "x", "objectType": "plan", "creationDate": "01-01-2024"})]
    p.write_text("\n".join(lines))
    schema = compile_struct(reference_schema())
    df = eio.read_json_documents(spark, str(p), schema)
    good, bad = eio.split_corrupt(df)
    assert good.count() == 6
    assert bad.count() == 1
    assert "{broken json" in bad.collect()[0]._corrupt_record


def test_split_corrupt_hold_released_by_next_build(spark, tmp_path):
    """The parsed frame both branches read is held, so it follows the one
    lifetime rule: released when the session's next build starts."""
    from pyspark.storagelevel import StorageLevel

    from adv_big_data_indexing_spark.lifetime import release_held

    p = tmp_path / "in.jsonl"
    p.write_text("\n".join(plan_jsons(2) + ["{broken json"]))
    df = eio.read_json_documents(spark, str(p), compile_struct(reference_schema()))
    good, bad = eio.split_corrupt(df)
    assert (good.count(), bad.count()) == (2, 1)
    assert df.storageLevel != StorageLevel.NONE
    release_held(spark)
    assert df.storageLevel == StorageLevel.NONE


def test_entity_store_partition_pruning(spark, tmp_path):
    raw = spark.createDataFrame([(s,) for s in plan_jsons(10)], "raw string")
    v = validate(raw, reference_schema())
    tables = shred(v.select("doc.*"))
    store = str(tmp_path / "entities")
    eio.write_entity_store(tables["entities"], store)

    services = eio.read_entity_store(spark, store, "service")
    assert services.count() == 20
    plan = services._jdf.queryExecution().executedPlan().toString()
    # the type filter must prune at the partition level, not post-scan
    assert "PartitionFilters: [isnotnull(object_type" in plan
    everything = eio.read_entity_store(spark, store)
    assert everything.count() == tables["entities"].count()


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25)], "id long, name string, v double"
    )
    path = str(tmp_path / "csv")
    eio.write_csv(df, path)
    back = eio.read_csv(spark, path, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_compact_restores_scan_parallelism(spark, tmp_path):
    from adv_big_data_indexing_spark.sources.catalog import load_table
    from tests.conftest import SF_CORRECTNESS

    l = load_table(spark, SF_CORRECTNESS, "lineitem")
    out = str(tmp_path / "lineitem_compact")
    eio.compact(l, out, 8)
    back = spark.read.parquet(out)
    # same data, but the storage now has 8 independently-scannable files
    # (Spark may still pack small files per task via maxPartitionBytes;
    # at real sizes one file ≈ one+ splits)
    assert back.count() == l.count()
    n_files = back.select(F.input_file_name()).distinct().count()
    assert n_files == 8
    # content-identical ((l_orderkey, l_linenumber) is NOT unique in this
    # synthetic corpus, so compare the full sorted multiset)
    a = sorted(map(tuple, l.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_orc_roundtrip_matches_parquet(spark, tmp_path):
    """ORC write/read preserves rows and schema; the same frame written
    as parquet and ORC reads back identically (format-agnostic engine)."""
    from adv_big_data_indexing_spark.sources.catalog import load_table
    from adv_big_data_indexing_spark.sources.io import read_orc, write_orc
    from tests.conftest import SF_CORRECTNESS

    src = load_table(spark, SF_CORRECTNESS, "nation")
    p = str(tmp_path / "nation_orc")
    write_orc(src, p)
    back = read_orc(spark, p)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))

    # predicate pushdown reaches the ORC scan too
    plan = (
        read_orc(spark, p)
        .filter("n_nationkey = 3")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(n_nationkey), EqualTo(n_nationkey,3)]" in plan
