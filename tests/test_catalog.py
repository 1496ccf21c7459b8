"""The catalog's per-session schema memo: a memoized read is the inferred
read, launches no Spark job, and a new listing or a changed inference
conf infers again."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from adv_big_data_indexing_spark.sources import catalog
from adv_big_data_indexing_spark.sources.catalog import load_table
from tests.conftest import SF_CORRECTNESS, SF_SMOKE


@pytest.fixture
def session(spark):
    """A new session over the shared context: its schema memo is empty,
    and conf changes stay in it."""
    return spark.newSession()


def load_counting_jobs(spark, sf_dir: str, name: str):
    """``load_table(spark, sf_dir, name)`` and the number of Spark jobs
    it launched."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("name", catalog.TABLES)
def test_memoized_read_equals_inferred_read(session, name):
    path = os.path.join(SF_CORRECTNESS, f"{name}.parquet")
    first, first_jobs = load_counting_jobs(session, SF_CORRECTNESS, name)
    assert first_jobs >= 1  # a new session infers
    second, second_jobs = load_counting_jobs(session, SF_CORRECTNESS, name)
    assert second_jobs == 0
    assert second.schema == first.schema
    # the raw read against a fresh inference (events under its
    # nanosAsLong conf, which load_table set on the session)
    fresh = session.read.parquet(path)
    raw = catalog._read_parquet(session, path)
    assert raw.schema == fresh.schema
    assert _rows(raw) == _rows(fresh)
    assert _rows(second) == _rows(first)


def _write(path, table: pa.Table) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def test_rewritten_table_is_inferred_again(session, tmp_path):
    """A new listing at the same path misses the memo: the read returns
    the new column set, not the cached one."""
    path = str(tmp_path / "region.parquet")
    _write(path, pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}))
    assert load_table(session, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    load_table(session, str(tmp_path), "region")  # memoized
    _write(path, pa.table({"r_regionkey": [0, 1, 2], "r_comment": ["x", "y", "z"], "r_extra": [1.5, 2.5, 3.5]}))
    df, jobs = load_counting_jobs(session, str(tmp_path), "region")
    assert jobs >= 1
    assert df.columns == ["r_regionkey", "r_comment", "r_extra"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y", "z"]


def test_inference_conf_flip_infers_again(session, tmp_path):
    """``spark.sql.parquet.binaryAsString`` changes the inferred type of a
    binary column, so the memo keys on it."""
    _write(str(tmp_path / "part.parquet"), pa.table({"p_partkey": [1, 2], "p_blob": [b"ab", b"cd"]}))
    assert dict(load_table(session, str(tmp_path), "part").dtypes)["p_blob"] == "binary"
    assert dict(load_table(session, str(tmp_path), "part").dtypes)["p_blob"] == "binary"
    session.conf.set("spark.sql.parquet.binaryAsString", "true")
    df, jobs = load_counting_jobs(session, str(tmp_path), "part")
    assert jobs >= 1
    assert dict(df.dtypes)["p_blob"] == "string"
    assert sorted(r.p_blob for r in df.collect()) == ["ab", "cd"]


def test_events_nanos_and_micros_load_identically(session, tmp_path):
    """events.ts as parquet TIMESTAMP(NANOS) takes the read-as-long,
    DIV-1000 branch; as TIMESTAMP(MICROS) the cast branch. Both give the
    same TIMESTAMP_NTZ rows, on the inferring and on the memoized call."""
    src = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    ts = src.schema.get_field_index("ts")
    loaded = {}
    for unit in ("ns", "us"):
        table = src.set_column(ts, pa.field("ts", pa.timestamp(unit)), src.column("ts").cast(pa.timestamp(unit)))
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(table, str(d / "events.parquet"))
        assert pq.ParquetFile(str(d / "events.parquet")).schema_arrow.field("ts").type == pa.timestamp(unit)
        for call in ("inferred", "memoized"):
            df, jobs = load_counting_jobs(session, str(d), "events")
            assert (jobs >= 1) if call == "inferred" else (jobs == 0)
            assert dict(df.dtypes)["ts"] == "timestamp_ntz"
            loaded[unit, call] = _rows(df)
        raw_ts = dict(catalog._read_parquet(session, str(d / "events.parquet")).dtypes)["ts"]
        assert (raw_ts == "bigint") == (unit == "ns")  # the DIV-1000 branch for NANOS only
    assert len(loaded["us", "inferred"]) == src.num_rows
    assert len(set(map(tuple, loaded.values()))) == 1


def test_micros_events_leave_nanos_conf_and_memo_alone(session, tmp_path):
    """events with ts as TIMESTAMP(MICROS) need no nanosAsLong, so loading
    them leaves the conf at its prior value, and a table memoized before
    the events load still reads with no job after it."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prior = session.conf.get(conf)
    src = os.path.join(SF_SMOKE, "events.parquet")
    assert pq.ParquetFile(src).schema_arrow.field("ts").type == pa.timestamp("us")
    load_table(session, SF_SMOKE, "orders")  # infers
    df, _ = load_counting_jobs(session, SF_SMOKE, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert session.conf.get(conf) == prior
    _, jobs = load_counting_jobs(session, SF_SMOKE, "orders")
    assert jobs == 0
