"""Streaming tests: CDC indexer exactly-once/replay semantics (SURVEY
§5.2 item 3) and the event-time streaming operators against their batch
twins."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.streaming import cdc, events as ev, statelog
from tests.conftest import SF_SMOKE


def _doc(i: int, v: int = 0) -> str:
    return json.dumps({"objectId": f"plan-{i}", "v": v})


def test_cdc_insert_update_delete(spark, tmp_path):
    q, s, c = str(tmp_path / "q"), str(tmp_path / "store"), str(tmp_path / "ck")
    cdc.enqueue(spark, q, [
        {"key": "plan_1", "op": "insert", "seq": 1, "doc": _doc(1)},
        {"key": "plan_2", "op": "insert", "seq": 1, "doc": _doc(2)},
    ])
    cdc.drain(cdc.run_indexer(spark, q, s, c))
    got = {r.key: r for r in cdc.read_store(spark, s).collect()}
    assert set(got) == {"plan_1", "plan_2"}

    cdc.enqueue(spark, q, [
        {"key": "plan_1", "op": "update", "seq": 2, "doc": _doc(1, v=9)},
        {"key": "plan_2", "op": "delete", "seq": 2, "doc": None},
        {"key": "plan_3", "op": "insert", "seq": 1, "doc": _doc(3)},
    ])
    cdc.drain(cdc.run_indexer(spark, q, s, c))
    got = {r.key: r for r in cdc.read_store(spark, s).collect()}
    assert set(got) == {"plan_1", "plan_3"}
    assert json.loads(got["plan_1"].doc)["v"] == 9


def test_cdc_replay_idempotent(spark, tmp_path):
    """At-least-once delivery: replaying the whole queue from a fresh
    checkpoint must converge to the same store state (the reference gets
    this from ES upsert-by-_id; we get it from max-seq merge)."""
    q, s, c1 = str(tmp_path / "q"), str(tmp_path / "store"), str(tmp_path / "ck1")
    recs = [
        {"key": "k1", "op": "insert", "seq": 1, "doc": _doc(1)},
        {"key": "k1", "op": "update", "seq": 2, "doc": _doc(1, v=5)},
        {"key": "k2", "op": "insert", "seq": 1, "doc": _doc(2)},
    ]
    cdc.enqueue(spark, q, recs)
    cdc.drain(cdc.run_indexer(spark, q, s, c1))
    state1 = sorted((r.key, r.seq, r.doc) for r in cdc.read_store(spark, s).collect())

    # replay: new checkpoint → the source re-delivers every file
    c2 = str(tmp_path / "ck2")
    cdc.drain(cdc.run_indexer(spark, q, s, c2))
    state2 = sorted((r.key, r.seq, r.doc) for r in cdc.read_store(spark, s).collect())
    assert state1 == state2

    # out-of-order late duplicate of an old seq must not regress the row
    cdc.enqueue(spark, q, [{"key": "k1", "op": "update", "seq": 1, "doc": _doc(1, v=0)}])
    cdc.drain(cdc.run_indexer(spark, q, s, c1))
    got = {r.key: json.loads(r.doc)["v"] for r in cdc.read_store(spark, s).collect()}
    assert got["k1"] == 5


def test_cdc_corrupt_store_fails_the_batch_and_keeps_the_store(spark, tmp_path):
    """A store that exists but cannot be read fails the batch; it is not
    taken for a first batch and replaced by this batch's keys alone."""
    q, s, c = str(tmp_path / "q"), str(tmp_path / "store"), str(tmp_path / "ck")
    cdc.enqueue(spark, q, [
        {"key": "k1", "op": "insert", "seq": 1, "doc": _doc(1)},
        {"key": "k2", "op": "insert", "seq": 1, "doc": _doc(2)},
    ])
    cdc.drain(cdc.run_indexer(spark, q, s, c))
    parts = list((tmp_path / "store").glob("part-*.parquet"))
    assert parts
    for f in parts:  # damage every footer
        f.write_bytes(b"not a parquet file")
    before = {f.name: f.read_bytes() for f in (tmp_path / "store").iterdir()}

    batch = spark.createDataFrame([("k3", "insert", 1, _doc(3))], cdc.CDC_SCHEMA)
    with pytest.raises(Exception, match="(?i)parquet"):
        cdc.apply_cdc_batch(s, batch, 1)
    assert {f.name: f.read_bytes() for f in (tmp_path / "store").iterdir()} == before


def test_cdc_swap_crash_keeps_the_previous_store(spark, tmp_path, monkeypatch):
    """A crash inside the store swap, after the new version is written,
    leaves the previous store readable, and the next batch applies on
    top of it instead of being taken for a first batch."""
    import os

    q, s, c = str(tmp_path / "q"), str(tmp_path / "store"), str(tmp_path / "ck")
    cdc.enqueue(spark, q, [
        {"key": "k1", "op": "insert", "seq": 1, "doc": _doc(1)},
        {"key": "k2", "op": "insert", "seq": 1, "doc": _doc(2)},
    ])
    cdc.drain(cdc.run_indexer(spark, q, s, c))

    def crash_on_store(move):
        def guarded(src, dst, *args, **kwargs):
            if os.path.abspath(dst) == s:
                raise OSError("killed while swapping the store")
            return move(src, dst, *args, **kwargs)

        return guarded

    batch = spark.createDataFrame([("k3", "insert", 1, _doc(3))], cdc.CDC_SCHEMA)
    monkeypatch.setattr(os, "rename", crash_on_store(os.rename))
    monkeypatch.setattr(os, "replace", crash_on_store(os.replace))
    with pytest.raises(OSError, match="killed"):
        cdc.apply_cdc_batch(s, batch, 1)
    monkeypatch.undo()
    assert sorted(r.key for r in cdc.read_store(spark, s).collect()) == ["k1", "k2"]

    cdc.apply_cdc_batch(s, batch, 1)
    assert sorted(r.key for r in cdc.read_store(spark, s).collect()) == ["k1", "k2", "k3"]


def test_replayed_record_older_than_a_delete_leaves_the_root_deleted(spark, tmp_path):
    """Both indexers keep a delete as a tombstone: an upsert with a lower
    seq than an applied delete, delivered after it, changes nothing."""
    from tests.fixtures import make_plan, reference_schema

    q, s, c = str(tmp_path / "q"), str(tmp_path / "store"), str(tmp_path / "ck")
    for recs in (
        [{"key": "k1", "op": "insert", "seq": 1, "doc": _doc(1)},
         {"key": "k2", "op": "insert", "seq": 1, "doc": _doc(2)}],
        [{"key": "k1", "op": "delete", "seq": 3, "doc": None}],
        [{"key": "k1", "op": "update", "seq": 2, "doc": _doc(1, v=7)}],
    ):
        cdc.enqueue(spark, q, recs)
        cdc.drain(cdc.run_indexer(spark, q, s, c))
    assert [r.key for r in cdc.read_store(spark, s).collect()] == ["k2"]

    d, schema = _doc_dirs(tmp_path / "docs"), reference_schema()
    _index_docs(spark, d, schema, [_upsert(i, 1, make_plan(i)) for i in range(2)])
    _index_docs(spark, d, schema, [{"key": "plan_plan-00000", "op": "delete", "seq": 3, "doc": None}])
    before = _stores(spark, d)
    _index_docs(spark, d, schema, [_upsert(0, 2, make_plan(0))])
    assert _stores(spark, d) == before
    assert [i for i, _ in before[2]] == ["plan_plan-00001"]


@pytest.fixture(scope="module")
def event_stream_dir(spark, tmp_path_factory):
    """A small deterministic event file the file-source stream reads."""
    d = tmp_path_factory.mktemp("events_src")
    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", i % 3, "click" if i % 2 else "view", float(i))
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type", "value")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "data"))
    return str(d / "data"), df


def _run_stream_to_memory(spark, stream_df, name: str, mode: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_tumbling_matches_batch(spark, event_stream_dir):
    path, batch_df = event_stream_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_stream_to_memory(spark, ev.tumbling_counts(stream), "t_tumble", "append")
    # append mode emits only windows below the final watermark; complete
    # batch equivalent restricted to those windows must agree.
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value) for r in out.collect()
    }
    batch = ev.tumbling_counts(batch_df)  # same builder works on batch DFs
    exp_all = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value) for r in batch.collect()
    }
    for k, v in got.items():
        assert exp_all[k] == v
    assert len(got) > 0


def test_streaming_dedup(spark, event_stream_dir):
    path, batch_df = event_stream_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_stream_to_memory(spark, ev.dedup_events(stream), "t_dedup", "append")
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert sorted(ids) == sorted(set(ids)) == list(range(30))


@pytest.mark.parametrize("fails", [False, True], ids=["returns", "raises"])
def test_start_fold_releases_held_frames_when_the_batch_ends(
    spark, event_stream_dir, tmp_path, fails
):
    """A frame a fold holds lives until the end of its micro-batch:
    start_fold releases it after the fold returns and after it raises,
    so a failed batch leaves no cached blocks and no registry entry."""
    from pyspark.storagelevel import StorageLevel

    from adv_big_data_indexing_spark import lifetime

    path, batch_df = event_stream_dir
    seen = []

    def fold(batch, batch_id):
        frame = lifetime.hold(batch.groupBy("user_id").count(), StorageLevel.DISK_ONLY)
        frame.count()
        seen.append((batch.sparkSession, frame, frame.storageLevel))
        if fails:
            raise RuntimeError("fold failed after holding a frame")

    q = lifetime.start_fold(
        spark.readStream.schema(batch_df.schema).parquet(path), fold, str(tmp_path / "ck")
    )
    if fails:
        with pytest.raises(Exception, match="fold failed after holding a frame"):
            q.awaitTermination(120)
    else:
        q.awaitTermination(120)
        assert q.exception() is None
    ((session, frame, level_in_fold),) = seen
    assert level_in_fold == StorageLevel.DISK_ONLY
    assert frame.storageLevel == StorageLevel.NONE
    assert session not in lifetime._held


def test_streaming_sessions(spark, event_stream_dir):
    path, batch_df = event_stream_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_stream_to_memory(spark, ev.session_counts(stream), "t_sess", "append")
    # 30 events, one per minute, 3 users round-robin, 30-min gap → all
    # events per user form one session, but append mode only emits
    # sessions closed before the final watermark — tolerate emptiness,
    # assert no session exceeds its user's event count.
    rows = out.collect()
    for r in rows:
        assert r.n_events <= 10


def test_stateful_user_stats(spark, event_stream_dir):
    """Custom applyInPandasWithState operator: per-user running stats
    accumulate across micro-batches and match the batch aggregate."""
    path, batch_df = event_stream_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_stream_to_memory(spark, ev.user_running_stats(stream), "t_state", "update")
    # last emitted row per user = final running totals
    import pyspark.sql.functions as F

    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in out.orderBy("n_events").collect()  # later rows overwrite
    }
    expected = {
        r.user_id: (r.n, r.tot)
        for r in batch_df.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tot"))
        .collect()
    }
    assert final == expected


def test_document_indexer_end_to_end(spark, tmp_path):
    """The reference's whole POST /plan choreography as one streaming
    job: validate → 400-split → shred → keyed merge → delete closure."""
    from tests.fixtures import make_plan, reference_schema

    from adv_big_data_indexing_spark.operators.shred import shred

    q = str(tmp_path / "q"); vers = str(tmp_path / "versions")
    rej = str(tmp_path / "rejects"); ck = str(tmp_path / "ck"); rec = str(tmp_path / "rec")
    schema = reference_schema()

    p0, p1 = make_plan(0), make_plan(1)
    bad = dict(make_plan(2)); bad["creationDate"] = "31-02-2024"
    cdc.enqueue(spark, q, [
        {"key": "plan_plan-00000", "op": "insert", "seq": 1, "doc": json.dumps(p0)},
        {"key": "plan_plan-00001", "op": "insert", "seq": 1, "doc": json.dumps(p1)},
        {"key": "plan_plan-00002", "op": "insert", "seq": 1, "doc": json.dumps(bad)},
    ])
    cdc.drain(cdc.run_document_indexer(spark, q, vers, rej, ck, schema, reconstructed_dir=rec))
    store = shred(spark.read.parquet(rec))["entities"]
    # 2 valid plans × 8 fragments each; the invalid one rejected whole
    assert store.count() == 16
    assert sorted((r.key, r.seq) for r in cdc.read_store(spark, vers).collect()) == [
        ("plan_plan-00000", 1), ("plan_plan-00001", 1),
    ]
    rejects = spark.read.parquet(rej)
    assert rejects.count() == 1
    assert "$.creationDate:calendar_valid" in rejects.collect()[0].violations

    # update plan 0 (rename a service) then delete plan 1
    p0b = make_plan(0)
    p0b["linkedPlanServices"][0]["linkedService"]["name"] = "RENAMED"
    cdc.enqueue(spark, q, [
        {"key": "plan_plan-00000", "op": "update", "seq": 2, "doc": json.dumps(p0b)},
        {"key": "plan_plan-00001", "op": "delete", "seq": 2, "doc": None},
    ])
    cdc.drain(cdc.run_document_indexer(spark, q, vers, rej, ck, schema, reconstructed_dir=rec))
    store = shred(spark.read.parquet(rec))["entities"]
    assert store.count() == 8  # plan-00001's closure fully gone
    assert store.filter(F.col("id").contains("-00001")).count() == 0
    versions = spark.read.schema(cdc.CDC_SCHEMA).parquet(vers)
    assert sorted((r.key, r.op, r.seq) for r in versions.collect()) == [
        ("plan_plan-00000", "update", 2), ("plan_plan-00001", "delete", 2),
    ]
    svc = store.filter(F.col("id") == "service_svc-00000-0").collect()[0]
    assert "RENAMED" in svc.payload


def test_stream_stream_interval_join(spark, event_stream_dir):
    """Watermarked stream-stream interval join equals its batch twin."""
    path, batch_df = event_stream_dir
    errors_s = spark.readStream.schema(batch_df.schema).parquet(path).filter("event_type = 'view'")
    clicks_s = spark.readStream.schema(batch_df.schema).parquet(path).filter("event_type = 'click'")
    out = _run_stream_to_memory(
        spark, ev.error_click_interval_join(errors_s, clicks_s, window_sec=240), "t_ssjoin", "append"
    )
    got = sorted((r.e_id, r.c_id) for r in out.collect())
    batch = ev.error_click_interval_join(
        batch_df.filter("event_type = 'view'"), batch_df.filter("event_type = 'click'"), window_sec=240
    )
    expected = sorted((r.e_id, r.c_id) for r in batch.collect())
    assert got == expected and len(got) > 0


def test_index_lag_observable(spark, tmp_path):
    q, s, c = str(tmp_path / "q"), str(tmp_path / "store"), str(tmp_path / "ck")
    cdc.enqueue(spark, q, [
        {"key": "k1", "op": "insert", "seq": 1, "doc": _doc(1)},
        {"key": "k2", "op": "insert", "seq": 1, "doc": _doc(2)},
    ])
    cdc.drain(cdc.run_indexer(spark, q, s, c))
    # enqueue more WITHOUT draining → lag appears
    cdc.enqueue(spark, q, [{"key": "k1", "op": "update", "seq": 3, "doc": _doc(1, v=1)}])
    queue_df = spark.read.schema(cdc.CDC_SCHEMA).json(q)
    lag = {r.key: r.lag for r in ev.index_lag(queue_df, cdc.read_store(spark, s)).collect()}
    assert lag == {"k1": 2, "k2": 0}
    # drain → lag closes
    cdc.drain(cdc.run_indexer(spark, q, s, c))
    lag = {r.key: r.lag for r in ev.index_lag(queue_df, cdc.read_store(spark, s)).collect()}
    assert lag == {"k1": 0, "k2": 0}


def test_incremental_reconstructed_projection(spark, tmp_path):
    """The search projection (reconstructed + ETag view) stays in sync
    incrementally: only changed docs re-reconstruct, deletes drop out,
    and the store always equals a from-scratch reconstruction."""
    from tests.fixtures import make_plan, reference_schema
    from adv_big_data_indexing_spark.operators.reconstruct import reconstruct, with_etag
    from adv_big_data_indexing_spark.operators.shred import shred
    from adv_big_data_indexing_spark.plans.json_schema_compiler import validate

    q = str(tmp_path / "q"); vers = str(tmp_path / "v"); rej = str(tmp_path / "r")
    ck = str(tmp_path / "ck"); rec_dir = str(tmp_path / "rec")
    schema = reference_schema()

    docs = {i: make_plan(i) for i in range(3)}
    cdc.enqueue(spark, q, [
        {"key": f"plan_plan-{i:05d}", "op": "insert", "seq": 1, "doc": json.dumps(d)}
        for i, d in docs.items()
    ])
    cdc.drain(cdc.run_document_indexer(spark, q, vers, rej, ck, schema, reconstructed_dir=rec_dir))
    rec = spark.read.parquet(rec_dir)
    assert rec.count() == 3
    etag0 = {r.id: r.etag for r in rec.select("id", "etag").collect()}

    # update doc 1, delete doc 2
    docs[1]["planType"] = "CHANGED"
    cdc.enqueue(spark, q, [
        {"key": "plan_plan-00001", "op": "update", "seq": 2, "doc": json.dumps(docs[1])},
        {"key": "plan_plan-00002", "op": "delete", "seq": 2, "doc": None},
    ])
    cdc.drain(cdc.run_document_indexer(spark, q, vers, rej, ck, schema, reconstructed_dir=rec_dir))
    rec = spark.read.parquet(rec_dir)
    got = {r.id: r for r in rec.collect()}
    assert set(got) == {"plan_plan-00000", "plan_plan-00001"}
    assert got["plan_plan-00000"].etag == etag0["plan_plan-00000"]  # untouched
    assert got["plan_plan-00001"].etag != etag0["plan_plan-00001"]  # changed
    assert got["plan_plan-00001"].planType == "CHANGED"

    # equals a from-scratch reconstruction of the current corpus
    raw = spark.createDataFrame(
        [(json.dumps(docs[0]),), (json.dumps(docs[1]),)], "raw string"
    )
    full = with_etag(reconstruct(shred(validate(raw, schema).select("doc.*"))))
    assert sorted((r.id, r.etag) for r in full.select("id", "etag").collect()) == sorted(
        (r.id, r.etag) for r in rec.select("id", "etag").collect()
    )


def _doc_dirs(tmp_path) -> dict:
    return {k: str(tmp_path / k) for k in ("q", "versions", "rej", "ck", "rec")}


def _index_docs(spark, d: dict, schema: dict, records: list[dict], ck: str | None = None) -> None:
    """Enqueue ``records`` (if any) and drain the document indexer."""
    if records:
        cdc.enqueue(spark, d["q"], records)
    cdc.drain(cdc.run_document_indexer(
        spark, d["q"], d["versions"], d["rej"], ck or d["ck"], schema, reconstructed_dir=d["rec"]
    ))


def _upsert(i: int, seq: int, doc: dict) -> dict:
    return {"key": f"plan_plan-{i:05d}", "op": "update", "seq": seq, "doc": json.dumps(doc)}


def _canonical(payload: str) -> str:
    """A fragment's JSON payload with its fields in name order: the
    projection orders nested fields as ``reconstruct`` does."""
    return json.dumps(json.loads(payload), sort_keys=True)


def _stores(spark, d: dict) -> tuple[list, list, list]:
    """(entity (id, payload) rows shredded from the projection, version
    store rows with their tombstones, projection (id, etag) pairs), sorted."""
    from adv_big_data_indexing_spark.operators.shred import shred

    rec = spark.read.parquet(d["rec"])
    ents = sorted((r.id, _canonical(r.payload)) for r in shred(rec)["entities"].collect())
    versions = sorted(
        tuple(r) for r in spark.read.schema(cdc.CDC_SCHEMA).parquet(d["versions"]).collect()
    )
    proj = sorted((r.id, r.etag) for r in rec.select("id", "etag").collect())
    return ents, versions, proj


def test_document_indexer_store_equals_shred_of_live_docs(spark, tmp_path):
    """Updates that drop plan services replace the whole document: the
    (id, payload) set shredded from the projection equals shred of the
    live documents (no orphaned child fragments), the projection equals
    a rebuild and the version store holds each key's latest seq."""
    from tests.fixtures import make_plan, reference_schema
    from adv_big_data_indexing_spark.operators.reconstruct import reconstruct, with_etag
    from adv_big_data_indexing_spark.operators.shred import shred
    from adv_big_data_indexing_spark.plans.json_schema_compiler import validate

    d, schema = _doc_dirs(tmp_path), reference_schema()
    live = {i: make_plan(i, n_services=3) for i in range(4)}
    _index_docs(spark, d, schema, [_upsert(i, 1, doc) for i, doc in live.items()])
    # plans 0-2 shrink to 1, 0 and 2 services; plan 3 is untouched
    for i, n in ((0, 1), (1, 0), (2, 2)):
        live[i] = make_plan(i, n_services=n)
        live[i]["planType"] = "shrunk"
    _index_docs(spark, d, schema, [_upsert(i, 2, live[i]) for i in (0, 1, 2)])

    raw = spark.createDataFrame([(json.dumps(doc),) for doc in live.values()], "raw string")
    docs = validate(raw, schema).select("doc.*")
    want = sorted((r.id, _canonical(r.payload)) for r in shred(docs)["entities"].collect())
    ents, versions, proj = _stores(spark, d)
    assert ents == want
    assert len(want) == 4 * 2 + 3 * (1 + 0 + 2 + 3)  # plan + cost share, 3 per service
    assert [(k, seq) for k, _, seq, _ in versions] == [
        (f"plan_plan-{i:05d}", 2 if i < 3 else 1) for i in range(4)
    ]
    rebuilt = with_etag(reconstruct(shred(docs))).select("id", "etag").collect()
    assert proj == sorted((r.id, r.etag) for r in rebuilt)


def test_document_indexer_replay_under_fresh_checkpoint_changes_nothing(spark, tmp_path):
    """At-least-once delivery: re-running already-applied batches from a
    fresh checkpoint leaves the version store, the projection and the
    rejects as they were (equal seqs re-apply the same documents, and a
    reject already recorded is not appended again, not even as an empty
    file)."""
    from tests.fixtures import make_plan, reference_schema

    d, schema = _doc_dirs(tmp_path), reference_schema()
    bad = make_plan(9)
    bad["creationDate"] = "31-02-2024"
    _index_docs(spark, d, schema, [_upsert(i, 1, make_plan(i, n_services=3)) for i in range(3)] + [
        {"key": "plan_bad", "op": "insert", "seq": 1, "doc": json.dumps(bad)},
    ])
    _index_docs(spark, d, schema, [
        _upsert(0, 2, make_plan(0, n_services=1)),
        {"key": "plan_plan-00001", "op": "delete", "seq": 2, "doc": None},
    ])
    before = _stores(spark, d)
    assert spark.read.parquet(d["rej"]).count() == 1
    reject_files = sorted(os.listdir(d["rej"]))
    _index_docs(spark, d, schema, [], ck=str(tmp_path / "ck_fresh"))
    assert _stores(spark, d) == before
    assert spark.read.parquet(d["rej"]).count() == 1
    assert sorted(os.listdir(d["rej"])) == reject_files  # no zero-row append
    assert {i for i, _ in before[2]} == {"plan_plan-00000", "plan_plan-00002"}


def test_document_indexer_ignores_records_older_than_the_store(spark, tmp_path):
    """An upsert or delete whose seq is older than the stored root's
    changes neither the version store nor the projection."""
    from tests.fixtures import make_plan, reference_schema

    d, schema = _doc_dirs(tmp_path), reference_schema()
    _index_docs(spark, d, schema, [_upsert(i, 5, make_plan(i, n_services=2)) for i in range(2)])
    before = _stores(spark, d)
    stale = make_plan(0, n_services=4)
    stale["planType"] = "stale"
    _index_docs(spark, d, schema, [
        _upsert(0, 3, stale),
        {"key": "plan_plan-00001", "op": "delete", "seq": 4, "doc": None},
    ])
    assert _stores(spark, d) == before
    # a newer record still applies
    _index_docs(spark, d, schema, [{"key": "plan_plan-00001", "op": "delete", "seq": 6, "doc": None}])
    assert {i for i, _ in _stores(spark, d)[2]} == {"plan_plan-00000"}


def test_equal_seq_delete_wins_in_both_indexers(spark, tmp_path):
    """Of an update and a delete of one key with equal seqs, the delete
    wins in both indexers, in one batch or in either order across two."""
    from tests.fixtures import make_plan, reference_schema

    for name, batches in {
        "together": [["update", "delete"]],
        "delete_first": [["delete"], ["update"]],
        "update_first": [["update"], ["delete"]],
    }.items():
        def record(op, i=1):
            if op == "delete":
                return {"key": f"plan_plan-{i:05d}", "op": "delete", "seq": 2, "doc": None}
            return _upsert(i, 2, make_plan(i, n_services=1))

        d, schema = _doc_dirs(tmp_path / name), reference_schema()
        _index_docs(spark, d, schema, [_upsert(i, 1, make_plan(i)) for i in range(2)])
        q, s, c = (str(tmp_path / name / k) for k in ("cq", "cstore", "cck"))
        for ops in batches:
            _index_docs(spark, d, schema, [record(op) for op in ops])
            cdc.enqueue(spark, q, [record(op) for op in ops])
            cdc.drain(cdc.run_indexer(spark, q, s, c))
        _, versions, proj = _stores(spark, d)
        assert [i for i, _ in proj] == ["plan_plan-00000"], name
        assert ("plan_plan-00001", "delete", 2, None) in versions, name
        assert [r.key for r in cdc.read_store(spark, s).collect()] == [], name


def test_delete_only_batch_reads_the_projection_with_its_schema(spark, tmp_path, monkeypatch):
    """A batch of deletes only reads the stored projection with a given
    schema, so its refresh runs no schema-inference job."""
    from pyspark.sql.readwriter import DataFrameReader

    from tests.fixtures import make_plan, reference_schema

    d, schema = _doc_dirs(tmp_path), reference_schema()
    _index_docs(spark, d, schema, [_upsert(i, 1, make_plan(i)) for i in range(2)])
    set_schema, read_parquet, reads = DataFrameReader.schema, DataFrameReader.parquet, []

    def schema_given(self, s):
        self.schema_given = True
        return set_schema(self, s)

    def parquet(self, *paths, **options):
        reads.extend((p, getattr(self, "schema_given", False)) for p in paths)
        return read_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "schema", schema_given)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    _index_docs(spark, d, schema, [{"key": "plan_plan-00001", "op": "delete", "seq": 2, "doc": None}])
    monkeypatch.undo()
    assert [given for p, given in reads if p == d["rec"]] == [True]
    assert [i for i, _ in _stores(spark, d)[2]] == ["plan_plan-00000"]


def test_delete_only_refresh_runs_no_job_before_its_write(spark, tmp_path, monkeypatch):
    """A refresh that only deletes reads the stored projection with the
    projection schema: building the refreshed table runs no Spark job
    (no schema inference), and the table it commits drops the root."""
    from adv_big_data_indexing_spark.plans.json_schema_compiler import validate
    from tests.fixtures import make_plan, reference_schema

    d, schema = _doc_dirs(tmp_path), reference_schema()
    _index_docs(spark, d, schema, [_upsert(i, 1, make_plan(i)) for i in range(2)])
    committed = []
    monkeypatch.setattr(statelog, "commit", lambda df, path, partition_by=None: committed.append(df))
    sc = spark.sparkContext
    sc.setJobGroup("delete_only_refresh", "delete-only refresh")
    try:
        no_docs = validate(spark.createDataFrame([], "raw string"), schema).select("doc.*")
        deleted = spark.createDataFrame([("plan_plan-00001",)], "root_key string")
        cdc.refresh_reconstructed(spark, d["rec"], no_docs, deleted)
        spark.range(1).collect()  # one marker job: the listener bus is ordered
        for _ in range(100):
            jobs = sc.statusTracker().getJobIdsForGroup("delete_only_refresh")
            if jobs:
                break
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1, jobs
    (df,) = committed
    assert sorted(r.id for r in df.select("id").collect()) == ["plan_plan-00000"]


def test_document_indexer_file_counts_stay_bounded(spark, tmp_path):
    """Many small batches do not grow the stores' file counts: the
    version store and the projection stay at the file count their data
    size needs (one file here) and one directory version each, and each
    batch appends at most one rejects file."""
    import glob
    import os

    from tests.fixtures import make_plan, reference_schema

    d, schema = _doc_dirs(tmp_path), reference_schema()
    n_batches, seq = 10, 0
    for b in range(n_batches):
        records = []
        for i in range(3 * b, 3 * b + 3):  # three new plans
            seq += 1
            records.append(_upsert(i, seq, make_plan(i)))
        if b:
            seq += 1  # update a plan of the last batch, delete another
            records.append(_upsert(3 * b - 3, seq, make_plan(3 * b - 3, n_services=1)))
            records.append({"key": f"plan_plan-{3 * b - 2:05d}", "op": "delete", "seq": seq, "doc": None})
        bad = make_plan(1000 + b)
        bad["creationDate"] = "31-02-2024"
        records.append({"key": f"plan_bad-{b}", "op": "insert", "seq": seq, "doc": json.dumps(bad)})
        _index_docs(spark, d, schema, records)

    def parquet_files(path: str) -> int:
        return sum(f.endswith(".parquet") for f in os.listdir(path))

    assert parquet_files(d["versions"]) == 1
    assert parquet_files(d["rec"]) == 1
    for store in (d["versions"], d["rec"]):
        assert [os.path.basename(v) for v in glob.glob(store + "__v_*")] == [os.readlink(store)]
    assert parquet_files(d["rej"]) <= n_batches
    assert spark.read.parquet(d["rej"]).count() == n_batches
    assert spark.read.parquet(d["rec"]).count() == 3 * n_batches - (n_batches - 1)


def test_stream_static_enrichment(spark, event_stream_dir):
    path, batch_df = event_stream_dir
    # static dim: user_id 0..2 -> segment; user 2 deliberately absent
    dim = spark.createDataFrame(
        [(0, "cust#0", "BUILDING"), (1, "cust#1", "MACHINERY")],
        "c_custkey long, c_name string, c_mktsegment string",
    )
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_stream_to_memory(
        spark, ev.enrich_events(stream, dim), "t_enrich", "append"
    )
    rows = out.collect()
    assert len(rows) == batch_df.count()  # left join: nothing dropped
    seg = {r.event_id: r.c_mktsegment for r in rows}
    for r in batch_df.collect():
        expected = {0: "BUILDING", 1: "MACHINERY", 2: None}[r.user_id]
        assert seg[r.event_id] == expected


@pytest.mark.parametrize("layout", ["single_file", "partitioned_sorted"])
def test_statelog_commit_crash_keeps_the_previous_table(spark, tmp_path, monkeypatch, layout):
    """A commit killed inside its version write, or after the write and
    before the swap, leaves the previous table readable and unchanged;
    the next commit succeeds and leaves exactly one version. A table
    never committed reads None."""
    import glob

    def frame(rows):
        df = spark.createDataFrame(rows, "k long, v long, p string")
        if layout == "single_file":
            return df.coalesce(1), None
        return df.repartition(3).sortWithinPartitions("k", "v"), "p"

    def table(path):
        return sorted(map(tuple, statelog.read(spark, path).select("k", "v", "p").collect()))

    path = str(tmp_path / "state")
    assert statelog.read(spark, path) is None
    old = [(i, i * 10, "ab"[i % 2]) for i in range(8)]
    df, part = frame(old)
    statelog.commit(df, path, part)
    assert table(path) == old

    new = [(i, i * 100, "ab"[i % 2]) for i in range(12)]
    df, part = frame(new)
    # killed after the version is written, before the swap
    replace = os.replace

    def killed_on_swap(src, dst):
        if dst == path:
            raise OSError("killed before the swap")
        replace(src, dst)

    monkeypatch.setattr(os, "replace", killed_on_swap)
    with pytest.raises(OSError, match="killed"):
        statelog.commit(df, path, part)
    monkeypatch.undo()
    assert table(path) == old
    # killed inside the version write: a failed write task, and a torn
    # version directory that no process cleaned up
    failing = F.when(F.col("k") == 11, F.raise_error(F.lit("killed inside the write")))
    with pytest.raises(Exception, match="killed inside the write"):
        statelog.commit(df.withColumn("v", failing.otherwise(F.col("v"))), path, part)
    torn = f"{path}__v_deadbeef"
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1 torn")
    assert table(path) == old

    statelog.commit(df, path, part)
    assert table(path) == new
    assert [os.path.basename(v) for v in glob.glob(path + "__v_*")] == [os.readlink(path)]


def test_streaming_markov_result_ignores_an_unlinked_version(spark, tmp_path):
    """The Markov reader reads the committed count table only: a version
    a crashed commit left next to it, never swapped in, changes nothing."""
    counts = spark.createDataFrame(
        [("view", "click", 2), ("view", "view", 1), ("click", "view", 1)],
        "from_state string, to_state string, n bigint",
    )
    state = str(tmp_path / "markov_state")
    statelog.commit(counts.coalesce(1), state)
    counts.limit(1).withColumn("n", F.lit(99).cast("bigint")).coalesce(1).write.parquet(state + "__v_unlinked")
    got = {(r.from_state, r.to_state): (r.n, r.p) for r in ev.streaming_markov_result(spark, state).collect()}
    assert got == {("view", "click"): (2, 2 / 3), ("view", "view"): (1, 1 / 3), ("click", "view"): (1, 1.0)}


def test_streaming_cms_equals_batch_and_skips_replay(spark, tmp_path):
    """The streaming CMS state after draining the source equals the batch
    CMS of the same data, and re-applying an already-applied batch_id is
    a no-op (exactly-once for an additive, non-idempotent merge)."""
    from adv_big_data_indexing_spark.operators.sketches import _cms_bucket

    src = str(tmp_path / "src")
    state = str(tmp_path / "cms_state")
    ck = str(tmp_path / "ck")
    batch_df = spark.createDataFrame(
        [(i, ["click", "view", "error"][i % 3]) for i in range(300)],
        "event_id long, event_type string",
    )
    batch_df.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    q = ev.run_streaming_cms(stream, state, ck)
    q.awaitTermination(120)

    got = {
        (r.ri, r.b): r.cnt for r in spark.read.parquet(state).collect()
    }
    expect = {
        (r.ri, r.b): r.cnt
        for r in (
            batch_df.select(
                F.posexplode(
                    F.array(*[_cms_bucket(F.col("event_type"), i) for i in range(4)])
                ).alias("ri", "b")
            )
            .groupBy("ri", "b")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        ).collect()
    }
    assert got == expect
    assert sum(got.values()) == 300 * 4

    # simulate an at-least-once redelivery of batch 0: state must not change
    from adv_big_data_indexing_spark.streaming.events import run_streaming_cms  # noqa: F401

    applied = spark.read.parquet(state).collect()
    stream2 = spark.readStream.schema(batch_df.schema).parquet(src)
    q2 = ev.run_streaming_cms(stream2, state, ck)  # same checkpoint: no new data
    q2.awaitTermination(120)
    assert sorted(map(tuple, spark.read.parquet(state).collect())) == sorted(
        map(tuple, applied)
    )


def test_streaming_anomaly_matches_batch(spark, tmp_path):
    """Streaming z-score anomalies (ring-buffer state) must equal the
    batch window formulation on in-order input."""
    import math

    # value pattern: mostly flat with occasional spikes → real anomalies
    rows = [
        (
            i,
            f"2024-01-01 00:{i // 2:02d}:{(i % 2) * 30:02d}",
            i % 2,
            "click",
            1000.0 if i in (40, 41, 50) else 10.0 + (i % 7) * 0.25,
        )
        for i in range(60)
    ]
    batch_df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    src = str(tmp_path / "anom_src")
    batch_df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = _run_stream_to_memory(spark, ev.anomaly_zscores(stream), "t_anom", "append")
    got = {(r.user_id, r.event_id): r.z for r in out.collect()}
    assert got, "spike rows must be flagged"

    # batch twin: same math through the window formulation
    import adv_big_data_indexing_spark.operators.timeseries as ts
    from pyspark.sql.window import Window

    qx = F.round(F.col("value") * ts.ANOM_Q).cast("bigint")
    win = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-ts.ANOM_WINDOW, -1)
    )
    w = batch_df.select(
        "user_id", "event_id", qx.alias("qx"),
        F.count(qx).over(win).alias("n"),
        F.sum(qx).over(win).alias("s"),
        F.sum(qx * qx).over(win).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    z = (F.col("qx").cast("double") - mean) / F.sqrt(var)
    exp = {
        (r.user_id, r.event_id): r.z
        for r in w.filter((F.col("n") >= ts.ANOM_MIN_N) & (var > 0))
        .select("user_id", "event_id", z.alias("z"))
        .filter(F.abs(F.col("z")) > ts.ANOM_Z)
        .collect()
    }
    assert set(got) == set(exp)
    for k in got:
        assert math.isclose(got[k], exp[k], rel_tol=0, abs_tol=0), k


def test_streaming_anomaly_matches_batch_negative_values(spark, tmp_path):
    """Regression (ADVICE r3): the streaming quantizer must round
    half-away-from-zero for NEGATIVE values too (sign-aware floor), or it
    diverges from the batch twin's F.round. Same flow as the in-order
    parity test, with the value pattern mirrored below zero and tie-ish
    magnitudes (x.xx5) included."""
    import math

    rows = [
        (
            i,
            f"2024-01-01 00:{i // 2:02d}:{(i % 2) * 30:02d}",
            i % 2,
            "click",
            -1000.0 if i in (40, 41, 50) else -10.005 - (i % 7) * 0.255,
        )
        for i in range(60)
    ]
    batch_df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    src = str(tmp_path / "anom_neg_src")
    batch_df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = _run_stream_to_memory(spark, ev.anomaly_zscores(stream), "t_anom_neg", "append")
    got = {(r.user_id, r.event_id): r.z for r in out.collect()}
    assert got, "negative spike rows must be flagged"

    import adv_big_data_indexing_spark.operators.timeseries as ts
    from pyspark.sql.window import Window

    qx = F.round(F.col("value") * ts.ANOM_Q).cast("bigint")
    win = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-ts.ANOM_WINDOW, -1)
    )
    w = batch_df.select(
        "user_id", "event_id", qx.alias("qx"),
        F.count(qx).over(win).alias("n"),
        F.sum(qx).over(win).alias("s"),
        F.sum(qx * qx).over(win).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    z = (F.col("qx").cast("double") - mean) / F.sqrt(var)
    exp = {
        (r.user_id, r.event_id): r.z
        for r in w.filter((F.col("n") >= ts.ANOM_MIN_N) & (var > 0))
        .select("user_id", "event_id", z.alias("z"))
        .filter(F.abs(F.col("z")) > ts.ANOM_Z)
        .collect()
    }
    assert set(got) == set(exp)
    for k in got:
        assert math.isclose(got[k], exp[k], rel_tol=0, abs_tol=0), k


def test_streaming_cms_converges_to_registry_batch_twin(spark, tmp_path):
    """The driver-verified batch twin (ts_cms_event_types) and the
    streaming CMS state must agree row-for-row on the SAME source — the
    registry query is the oracle gate for the streaming operator, so the
    two must stay the same algorithm, not merely similar ones."""
    from adv_big_data_indexing_spark.contract import registry
    from adv_big_data_indexing_spark.sources.catalog import load_table
    from tests.conftest import SF_CORRECTNESS

    events = load_table(spark, SF_CORRECTNESS, "events")
    src = str(tmp_path / "src")
    events.select("event_id", "event_type").coalesce(2).write.parquet(src)
    stream = spark.readStream.schema("event_id long, event_type string").parquet(src)
    state = str(tmp_path / "cms_state")
    q = ev.run_streaming_cms(stream, state, str(tmp_path / "ck"))
    q.awaitTermination(120)

    got = {(r.ri, r.b): r.cnt for r in spark.read.parquet(state).collect()}
    twin = registry()["ts_cms_event_types"].fn(spark, SF_CORRECTNESS)
    expect = {(r.ri, r.b): r.cnt for r in twin.collect()}
    assert got == expect


def test_streaming_cusum_matches_batch_recurrence(spark, tmp_path):
    """Streaming CUSUM (single-bigint state, alarm reset) must equal the
    batch integer recurrence with the same fixed target mean on in-order
    input, including across multiple micro-batches carrying state."""
    import math

    # drifting series: user 0 drifts up after i=30, user 1 stays flat
    rows = [
        (
            i,
            f"2024-01-01 00:{i // 2:02d}:{(i % 2) * 30:02d}",
            i % 2,
            "click",
            (250.0 + (i - 30) * 40.0) if (i % 2 == 0 and i >= 30) else 200.0 + (i % 5),
        )
        for i in range(60)
    ]
    batch_df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    src = str(tmp_path / "cusum_src")
    # two files / two micro-batches in event-time order: the alarm carry
    # (s_carry read back from state) is exercised, not just the
    # first-batch cold start — this is the path the state.get property
    # bug hid behind single-batch tests
    import time as _time

    batch_df.filter("event_id < 30").coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    batch_df.filter("event_id >= 30").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    mu_q = 200_000  # fixed monitoring target: 200.0 in milli-units
    out = _run_stream_to_memory(
        spark, ev.cusum_alarms(stream, mu_q), "t_cusum", "append"
    )
    got = {(r.user_id, r.event_id): r.s_q for r in out.collect()}
    assert got, "the drifting series must alarm"

    # batch replay of the same fixed-mu recurrence
    from adv_big_data_indexing_spark.operators.timeseries import (
        CUSUM_HMUL,
        CUSUM_KDIV,
    )

    k, h = mu_q // CUSUM_KDIV, CUSUM_HMUL * mu_q
    exp = {}
    for uid in (0, 1):
        pts = sorted(
            (r for r in rows if r[2] == uid), key=lambda r: (r[1], r[0])
        )
        s = 0
        for eid, _ts, _u, _t, value in pts:
            s = max(0, s + int(math.floor(value * 1000.0)) - mu_q - k)
            if s > h:
                exp[(uid, eid)] = s
                s = 0
    assert got == exp
    # only the drifting user alarms
    assert {u for (u, _e) in got} == {0}


def test_streaming_holt_matches_batch_recurrence(spark, tmp_path):
    """Streaming Holt (3-bigint state) across TWO micro-batches equals the
    batch integer recurrence over the concatenated in-order input — the
    state carry is exercised, not just the single-batch fold."""
    import math
    import time

    from adv_big_data_indexing_spark.operators.timeseries import HOLT_ADIV, HOLT_BDIV

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts_s string, user_id long, event_type string, value double",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )

    rows = [
        (i, f"2024-01-01 00:{i // 2:02d}:{(i % 2) * 30:02d}", i % 3, "click",
         100.0 + 7.0 * i + (13.0 if i % 5 == 0 else -4.0))
        for i in range(40)
    ]
    src = str(tmp_path / "holt_src")
    # two files, written in event-time order with distinct mtimes; the file
    # source processes oldest-first with maxFilesPerTrigger=1
    mk(rows[:20]).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    mk(rows[20:]).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(mk(rows).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_memory(spark, ev.holt_forecasts(stream), "t_holt", "append")
    # last emission per user = the one with the highest n_obs
    got = {}
    for r in out.collect():
        if r.user_id not in got or r.n_obs > got[r.user_id][0]:
            got[r.user_id] = (r.n_obs, r.level_m, r.trend_m, r.forecast_m)

    series: dict[int, list] = {}
    for i, _ts, uid, _et, v in rows:
        series.setdefault(uid, []).append(v)  # rows are already in (ts, event_id) order
    exp = {}
    for uid, vals in series.items():
        xs = [int(math.floor(v * 1000.0)) for v in vals]
        l, b = xs[0], 0
        for x in xs[1:]:
            d = (x - l - b) // HOLT_ADIV
            l = l + b + d
            b = b + d // HOLT_BDIV
        exp[uid] = (len(xs), l, b, l + b)
    assert got == exp


def test_streaming_ohlc_matches_batch(spark, event_stream_dir):
    """Streaming OHLC bars (watermarked min_by/max_by windowed agg) agree
    with the batch operator on every emitted bar."""
    path, batch_df = event_stream_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_stream_to_memory(spark, ev.ohlc_bars(stream), "t_ohlc", "append")
    got = {
        (r.bar_start, r.event_type): (r.open_m, r.high_m, r.low_m, r.close_m, r.n_events)
        for r in out.collect()
    }
    assert got
    exp = {
        (r.bar_start, r.event_type): (r.open_m, r.high_m, r.low_m, r.close_m, r.n_events)
        for r in ev.ohlc_bars(batch_df).collect()
    }
    for k, v in got.items():
        assert exp[k] == v


def test_streaming_holt_winters_matches_batch_recurrence(spark, tmp_path):
    """Streaming Holt-Winters (28-bigint state incl. the seasonal vector)
    across TWO micro-batches equals the batch integer recurrence over the
    concatenated in-order hourly series — state carry (including the
    array column) exercised across the batch boundary."""
    import time

    from adv_big_data_indexing_spark.operators.timeseries import HW_DIV, HW_PERIOD

    rows = [
        ("click", h, 100_000 + 900 * h + (5_000 if h % 24 < 8 else -3_000))
        for h in range(60)
    ] + [
        ("error", h, 50_000 - 200 * h + (2_000 if h % 24 in (3, 4) else 0))
        for h in range(45)
    ]

    def mk(rs):
        return spark.createDataFrame(rs, "event_type string, h long, x long")

    src = str(tmp_path / "hw_src")
    mk([r for r in rows if r[1] < 30]).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    mk([r for r in rows if r[1] >= 30]).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(mk(rows).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_memory(
        spark, ev.holt_winters_monitor(stream), "t_hw", "append"
    )
    got = {}
    for r in out.collect():
        if r.event_type not in got or r.n_obs > got[r.event_type][0]:
            got[r.event_type] = (r.n_obs, r.level_m, r.trend_m, r.next_forecast_m)

    series: dict[str, list] = {}
    for et, h, x in sorted(rows, key=lambda r: (r[0], r[1])):
        series.setdefault(et, []).append((h, x))
    exp = {}
    for et, pts in series.items():
        l, b, s = None, 0, [0] * HW_PERIOD
        for rn, (h, x) in enumerate(pts, 1):
            if rn == 1:
                l = x
            else:
                i = h % HW_PERIOD
                s_i = s[i]
                l_new = l + b + (x - l - b - s_i) // HW_DIV
                b = b + (l_new - l - b) // HW_DIV
                s[i] = s_i + (x - l_new - s_i) // HW_DIV
                l = l_new
        last_h = pts[-1][0]
        exp[et] = (len(pts), l, b, l + b + s[(last_h + 1) % HW_PERIOD])
    assert got == exp


def test_streaming_lttb_window_matches_batch_kernel(spark, tmp_path):
    """The watermarked LTTB window monitor must emit, for each CLOSED
    window, exactly the selection the batch lttb_kernel makes on that
    window's series — two micro-batches so the buffer state carries
    across the batch boundary, plus a far-future event to push the
    watermark past the window under test."""
    import time

    import pandas as pd

    from adv_big_data_indexing_spark.operators.timeseries import LTTB_T, lttb_kernel

    # two users, 40 points each inside window [00:00, 01:00), zig-zag
    # values so interior selection is non-trivial
    rows = [
        (
            u * 1000 + i,
            f"2024-01-01 00:{i + 5:02d}:{(7 * i) % 60:02d}",
            u,
            "click",
            10.0 + ((i * 37) % 11) - (5.0 if i % 3 == 0 else 0.0),
        )
        for u in (1, 2)
        for i in range(40)
    ]
    sentinel = [(999999, "2024-01-01 05:00:00", 3, "click", 1.0)]

    def mk(rs):
        return spark.createDataFrame(
            rs, "event_id long, ts_s string, user_id long, event_type string, value double"
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )

    src = str(tmp_path / "lttb_src")
    mk([r for r in rows if (r[0] % 1000) < 20]).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    mk([r for r in rows if (r[0] % 1000) >= 20] + sentinel).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(mk(rows).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_memory(
        spark, ev.lttb_window_monitor(stream, window_hours=1, delay="10 minutes"),
        "t_lttb", "append",
    )
    got = {
        (r.user_id, r.bucket): (r.event_id, float(r.value))
        for r in out.collect()
    }
    assert len(got) == 2 * LTTB_T, got  # both users' windows closed + decimated

    # batch expectation: the module-level kernel on each user's window
    for u in (1, 2):
        pdf = pd.DataFrame(
            [
                {
                    "user_id": u,
                    "event_id": r[0],
                    "ts": pd.Timestamp(r[1]),
                    "value": r[4],
                    "x": int(pd.Timestamp(r[1]).value // 1_000_000_000),
                    "y": int(r[4] * 1000) if r[4] >= 0 else -int(-r[4] * 1000),
                }
                for r in rows
                if r[2] == u
            ]
        )
        import math

        pdf["y"] = [int(math.floor(v * 1000.0)) for v in pdf["value"]]
        exp = lttb_kernel(pdf)
        for _, er in exp.iterrows():
            assert got[(u, int(er["bucket"]))] == (
                int(er["event_id"]),
                float(er["value"]),
            )


def test_streaming_locf_matches_batch(spark, tmp_path):
    """The incremental LOCF monitor on in-order input must equal the
    batch gap-fill restricted to buckets strictly before each user's
    final observed bucket — including carried-forward gap rows across a
    micro-batch boundary."""
    import time

    rows = [
        # user 1: observations in hours 0, 1, 4 (gaps at 2, 3), two obs
        # in hour 1 (the later one must win)
        (1, "2024-01-01 00:10:00", 1, "click", 5.0),
        (2, "2024-01-01 01:05:00", 1, "click", 6.0),
        (3, "2024-01-01 01:55:00", 1, "click", 7.5),
        (4, "2024-01-01 04:20:00", 1, "click", 9.0),
        # user 2: hours 0 and 2 (gap at 1)
        (5, "2024-01-01 00:30:00", 2, "click", 1.25),
        (6, "2024-01-01 02:30:00", 2, "click", 2.0),
    ]

    def mk(rs):
        return spark.createDataFrame(
            rs, "event_id long, ts_s string, user_id long, event_type string, value double"
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )

    def mk2(rs):
        return mk([(r[0], r[1], r[2], r[3], r[4]) for r in rs])

    src = str(tmp_path / "locf_src")
    mk2([r for r in rows if r[0] <= 3]).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    mk2([r for r in rows if r[0] > 3]).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(mk2(rows).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_memory(spark, ev.locf_monitor(stream), "t_locf", "append")
    got = {
        (r.user_id, r.bucket_start.isoformat()): (r.filled_m, r.is_gap)
        for r in out.collect()
    }
    h = 473_352  # 2024-01-01 00:00 epoch-hours
    exp = {
        (1, "2024-01-01T00:00:00"): (5000, False),
        (1, "2024-01-01T01:00:00"): (7500, False),  # later obs wins
        (1, "2024-01-01T02:00:00"): (7500, True),
        (1, "2024-01-01T03:00:00"): (7500, True),
        (2, "2024-01-01T00:00:00"): (1250, False),
        (2, "2024-01-01T01:00:00"): (1250, True),
    }
    assert got == exp


def test_streaming_locf_drops_late_buckets(spark, tmp_path):
    """ADVICE r6 regression: an event for a bucket BEHIND the pending
    one (late micro-batch) must be dropped — not regress state, not
    re-emit its already-finalized bucket_start with a conflicting value
    — and a late row of the CURRENT bucket must not roll the carried
    value back (event order wins, not arrival order)."""
    import time

    batch1 = [
        (1, "2024-01-01 00:10:00", 1, "click", 5.0),
        (2, "2024-01-01 02:05:00", 1, "click", 7.0),  # hour 0 emitted, gap 1
    ]
    batch2 = [
        # late: hour 0 already in the sink — must be dropped entirely
        (3, "2024-01-01 00:50:00", 1, "click", 99.0),
        # late within pending hour 2: earlier (ts,eid) than eid=2's obs?
        # no — 02:01 < 02:05, so it must NOT displace 7.0
        (4, "2024-01-01 02:01:00", 1, "click", 42.0),
        # in-order advance: closes hour 2 with the surviving 7.0
        (5, "2024-01-01 05:30:00", 1, "click", 8.0),
    ]

    def mk(rs):
        return spark.createDataFrame(
            rs,
            "event_id long, ts_s string, user_id long, event_type string, value double",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )

    src = str(tmp_path / "locf_ooo_src")
    mk(batch1).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    mk(batch2).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(mk(batch1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_memory(spark, ev.locf_monitor(stream), "t_locf_ooo", "append")
    rows = out.collect()
    per_bucket: dict[str, list] = {}
    for r in rows:
        per_bucket.setdefault(r.bucket_start.isoformat(), []).append(
            (r.filled_m, r.is_gap)
        )
    # exactly one row per bucket — no duplicate contradictory emissions
    assert all(len(v) == 1 for v in per_bucket.values()), per_bucket
    assert per_bucket == {
        "2024-01-01T00:00:00": [(5000, False)],
        "2024-01-01T01:00:00": [(5000, True)],
        "2024-01-01T02:00:00": [(7000, False)],  # 42.0 did not displace
        "2024-01-01T03:00:00": [(7000, True)],
        "2024-01-01T04:00:00": [(7000, True)],
    }, per_bucket


def test_streaming_locf_emits_pre_first_bucket_late(spark, tmp_path):
    """ADVICE r7: a late event EARLIER than the user's first chain
    bucket has nothing in the sink to contradict (those buckets were
    never emitted) — it must be EMITTED, as observed rows plus
    carried-forward gaps up to the old chain start, not silently
    dropped; genuinely finalized buckets must still be dropped."""
    import time

    batch1 = [
        (1, "2024-01-01 05:10:00", 1, "click", 5.0),
        (2, "2024-01-01 07:05:00", 1, "click", 7.0),  # emit 5, gap 6; pend=7
    ]
    batch2 = [
        # pre-first-bucket late pair: hours 2 and 3 were never emitted
        (3, "2024-01-01 02:20:00", 1, "click", 2.0),
        (4, "2024-01-01 03:40:00", 1, "click", 3.0),
        # hour 5 IS in the sink — still dropped (sink contradiction)
        (5, "2024-01-01 05:50:00", 1, "click", 99.0),
    ]
    batch3 = [
        # an even earlier one in a later batch: chain start moves again
        (6, "2024-01-01 00:30:00", 1, "click", 1.0),
        # and an in-order advance closing pending hour 7
        (7, "2024-01-01 09:30:00", 1, "click", 9.0),
    ]

    def mk(rs):
        return spark.createDataFrame(
            rs,
            "event_id long, ts_s string, user_id long, event_type string, value double",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )

    src = str(tmp_path / "locf_prefix_src")
    for batch in (batch1, batch2, batch3):
        mk(batch).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(mk(batch1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_memory(spark, ev.locf_monitor(stream), "t_locf_pre", "append")
    per_bucket: dict[str, list] = {}
    for r in out.collect():
        per_bucket.setdefault(r.bucket_start.isoformat(), []).append(
            (r.filled_m, r.is_gap)
        )
    assert all(len(v) == 1 for v in per_bucket.values()), per_bucket
    assert per_bucket == {
        "2024-01-01T00:00:00": [(1000, False)],  # batch3 prefix obs
        "2024-01-01T01:00:00": [(1000, True)],  # gap up to old start (2)
        "2024-01-01T02:00:00": [(2000, False)],  # batch2 prefix obs
        "2024-01-01T03:00:00": [(3000, False)],  # batch2 prefix obs
        "2024-01-01T04:00:00": [(3000, True)],  # gap up to old start (5)
        "2024-01-01T05:00:00": [(5000, False)],  # 99.0 dropped, not re-emitted
        "2024-01-01T06:00:00": [(5000, True)],
        "2024-01-01T07:00:00": [(7000, False)],  # closed by batch3 advance
        "2024-01-01T08:00:00": [(7000, True)],
    }, per_bucket


def test_streaming_rate_flags_match_batch(spark, tmp_path):
    """VERDICT r7 item 8: the streaming rate limiter's finalized flags
    must equal the batch ts_sliding_rate_flags rows on the same input —
    including a late-within-horizon event that pushes an earlier pending
    event over the limit — while an event behind the allowed-lateness
    horizon is dropped (its absence is observable in the counts)."""
    import time

    # user 1: a burst of 8 events 10:00–10:35 plus a late insert e10 at
    # 10:20:30 (arrives in batch 2, AFTER e7/e8's seconds were seen) —
    # with it, trailing counts reach 7/8/9 at e6/e7/e8. user 2: sparse.
    # e9/e21 are clock advances more than a full rate window past the
    # burst: they finalize everything, stay pending, and never flag.
    base = [
        (1, "2024-01-01 10:00:00", 1, "click", 0.0),
        (2, "2024-01-01 10:05:00", 1, "click", 0.0),
        (3, "2024-01-01 10:10:00", 1, "click", 0.0),
        (4, "2024-01-01 10:15:00", 1, "click", 0.0),
        (5, "2024-01-01 10:20:00", 1, "click", 0.0),
        (6, "2024-01-01 10:25:00", 1, "click", 0.0),
        (7, "2024-01-01 10:30:00", 1, "click", 0.0),
        (8, "2024-01-01 10:35:00", 1, "click", 0.0),
        (10, "2024-01-01 10:20:30", 1, "click", 0.0),
        (9, "2024-01-02 12:00:00", 1, "click", 0.0),
        (20, "2024-01-01 10:00:00", 2, "view", 0.0),
        (21, "2024-01-02 12:30:00", 2, "view", 0.0),
    ]
    # behind the horizon when it arrives (batch 3 horizon = 10:35-1h):
    # dropped, so it must NOT raise the finalized counts
    too_late = (11, "2024-01-01 08:00:00", 1, "click", 0.0)

    def mk(rs):
        return spark.createDataFrame(
            rs,
            "event_id long, ts_s string, user_id long, event_type string, value double",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )

    batches = [
        [r for r in base if r[0] in (1, 2, 3, 4, 5, 6, 20)],
        [r for r in base if r[0] in (10, 7, 8)],
        [r for r in base if r[0] in (9, 21)] + [too_late],
    ]
    src = str(tmp_path / "rate_src")
    for b in batches:
        mk(b).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(mk(base).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_memory(
        spark, ev.rate_flag_monitor(stream), "t_rate_flags", "append"
    )
    got = sorted(
        (r.user_id, r.event_id, r.ts.isoformat(), r.n_trailing)
        for r in out.collect()
    )

    # batch twin on the SAME input minus the dropped-too-late event
    # (every flagged event is past the finalization horizon by design,
    # and the pending clock events never flag — so the sets are equal)
    from adv_big_data_indexing_spark.contract import registry

    bdir = str(tmp_path / "rate_batch")
    mk(base).withColumn("props", F.lit("{}")).coalesce(1).write.parquet(
        bdir + "/events.parquet"
    )
    exp = sorted(
        (r.user_id, r.event_id, r.ts.isoformat(), r.n_trailing)
        for r in registry()["ts_sliding_rate_flags"].fn(spark, bdir).collect()
    )
    assert got == exp
    assert [g[1] for g in got] == [6, 7, 8]  # e6 flagged only via late e10
    assert [g[3] for g in got] == [7, 8, 9]  # counts exclude dropped e11


def test_streaming_rate_flags_lateness_boundary_inclusive(spark, tmp_path):
    """ADVICE r8 boundary fix: an event finalizes only once the user's
    max event-time second advances STRICTLY past sec + delay_sec, so a
    peer arriving at EXACTLY max_sec - delay_sec is still in tolerance —
    buffered and counted, never dropped. Under the former
    reaches-the-boundary finalization, e7 (at exactly the horizon
    second) was dropped and the e6/e7 flags were silently lost."""
    import time

    rows_b1 = [
        (1, "2024-01-01 10:00:00", 1, "click", 0.0),
        (2, "2024-01-01 10:01:00", 1, "click", 0.0),
        (3, "2024-01-01 10:02:00", 1, "click", 0.0),
        (4, "2024-01-01 10:03:00", 1, "click", 0.0),
        (5, "2024-01-01 10:04:00", 1, "click", 0.0),
        (6, "2024-01-01 10:05:00", 1, "click", 0.0),
        # clock advance to exactly 10:05:00 + delay (3600 s): horizon
        # lands exactly ON e6's second — e6 must stay pending
        (50, "2024-01-01 11:05:00", 1, "click", 0.0),
    ]
    # arrives at exactly horizon (10:05:00): in tolerance, must count
    rows_b2 = [(7, "2024-01-01 10:05:00", 1, "click", 0.0)]
    # clock far past everything: finalizes e6/e7
    rows_b3 = [(8, "2024-01-02 23:00:00", 1, "click", 0.0)]

    def mk(rs):
        return spark.createDataFrame(
            rs,
            "event_id long, ts_s string, user_id long, event_type string, value double",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )

    src = str(tmp_path / "rate_bnd_src")
    for b in (rows_b1, rows_b2, rows_b3):
        mk(b).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(mk(rows_b1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_memory(
        spark, ev.rate_flag_monitor(stream), "t_rate_bnd", "append"
    )
    got = sorted((r.event_id, r.n_trailing) for r in out.collect())
    # e6 and e7 share second 10:05:00 — each sees e1..e7 in its trailing
    # window (7 > RATE_LIMIT=6); e1..e5 finalized earlier with counts <= 5;
    # the 11:05 clock event e50 is itself within 24 h of the burst (count 8)
    assert got == [(6, 7), (7, 7), (50, 8)]

    # and the batch twin on the identical full input agrees exactly
    from adv_big_data_indexing_spark.contract import registry

    bdir = str(tmp_path / "rate_bnd_batch")
    mk(rows_b1 + rows_b2 + rows_b3).withColumn(
        "props", F.lit("{}")
    ).coalesce(1).write.parquet(bdir + "/events.parquet")
    exp = sorted(
        (r.event_id, r.n_trailing)
        for r in registry()["ts_sliding_rate_flags"].fn(spark, bdir).collect()
    )
    assert got == exp


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """VERDICT r8 item 5: the streaming funnel's folded rows must equal
    the batch ts_funnel on the non-dropped input — including the
    genuinely stateful case: a click arriving OUT OF ORDER (after a
    later purchase was already buffered) retro-qualifies the purchase
    when the fold runs in event-time order. Behind-horizon events drop;
    a user's row is emitted incrementally as slots finalize (update
    mode)."""
    import time

    base = [
        # user 1: signup and purchase arrive first; the click BETWEEN
        # them arrives in batch 2 (out-of-order, within tolerance)
        (1, "2024-01-01 10:00:00", 1, "signup", 0.0),
        (3, "2024-01-01 10:20:00", 1, "purchase", 0.0),
        (2, "2024-01-01 10:10:00", 1, "click", 0.0),
        (4, "2024-01-02 12:00:00", 1, "view", 0.0),  # clock advance
        # user 2: click BEFORE signup never qualifies
        (10, "2024-01-01 09:00:00", 2, "click", 0.0),
        (11, "2024-01-01 09:30:00", 2, "signup", 0.0),
        (12, "2024-01-02 12:00:00", 2, "view", 0.0),
        # user 3: signup only
        (20, "2024-01-01 11:00:00", 3, "signup", 0.0),
        (21, "2024-01-02 12:00:00", 3, "view", 0.0),
        # user 4: signup finalizes and EMITS before the click exists;
        # the later click upgrades the row (second update emission)
        (30, "2024-01-01 10:00:00", 4, "signup", 0.0),
        (31, "2024-01-01 12:00:00", 4, "view", 0.0),   # horizon 11:00
        (32, "2024-01-01 11:30:00", 4, "click", 0.0),  # pending at first
        (33, "2024-01-03 00:00:00", 4, "view", 0.0),   # finalizes click
    ]
    # arrives in batch 3 when user 1's horizon is already 11:00 day 2:
    # dropped — must NOT become user 1's min signup
    too_late = (5, "2024-01-01 05:00:00", 1, "signup", 0.0)

    def mk(rs):
        return spark.createDataFrame(
            rs,
            "event_id long, ts_s string, user_id long, event_type string, value double",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )

    ids = lambda *i: [r for r in base if r[0] in i]  # noqa: E731
    batches = [
        ids(1, 3, 10, 11, 20, 30, 31),
        ids(2, 32),
        ids(4, 12, 21, 33) + [too_late],
    ]
    src = str(tmp_path / "funnel_src")
    for b in batches:
        mk(b).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(mk(base).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream_to_memory(
        spark, ev.funnel_monitor(stream), "t_funnel", "update"
    )
    got = {
        (r.user_id, r.signup_us, r.click_us, r.purchase_us,
         r.reached_click, r.reached_purchase)
        for r in out.collect()
    }

    # batch twin on the SAME input minus the dropped too-late signup
    from adv_big_data_indexing_spark.contract import registry

    bdir = str(tmp_path / "funnel_batch")
    mk(base).withColumn("props", F.lit("{}")).coalesce(1).write.parquet(
        bdir + "/events.parquet"
    )
    exp_final = {
        (r.user_id, r.signup_us, r.click_us, r.purchase_us,
         r.reached_click, r.reached_purchase)
        for r in registry()["ts_funnel"].fn(spark, bdir).collect()
    }
    # user 4's intermediate emission (signup folded, click still pending)
    sig4 = next(t for t in exp_final if t[0] == 4)[1]
    exp = exp_final | {(4, sig4, None, None, False, False)}
    assert got == exp
    # the out-of-order click retro-qualified user 1's purchase
    u1 = next(t for t in got if t[0] == 1)
    assert u1[4] and u1[5]


def test_streaming_markov_matches_batch(spark, tmp_path):
    """The incrementally-maintained transition matrix must equal the
    batch ts_markov_transitions after drain — including the transition
    that SPANS a micro-batch boundary (the piece a stateless per-batch
    lead() loses) — and a replayed fold must not double-count."""
    import time

    rows = [
        # user 1: click → view → click → error (the view→click pair
        # spans the batch-1/batch-2 boundary)
        (1, "2024-01-01 00:00:00", 1, "click", 0.0),
        (2, "2024-01-01 00:10:00", 1, "view", 0.0),
        (3, "2024-01-01 00:20:00", 1, "click", 0.0),
        (4, "2024-01-01 00:30:00", 1, "error", 0.0),
        # user 2: view → view → click
        (5, "2024-01-01 00:05:00", 2, "view", 0.0),
        (6, "2024-01-01 00:15:00", 2, "view", 0.0),
        (7, "2024-01-01 00:25:00", 2, "click", 0.0),
    ]

    def mk(rs):
        return spark.createDataFrame(
            rs,
            "event_id long, ts_s string, user_id long, event_type string, value double",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )

    src = str(tmp_path / "markov_src")
    state = str(tmp_path / "markov_state")
    ck = str(tmp_path / "markov_ck")
    batches = [
        [r for r in rows if r[0] in (1, 2, 5)],
        [r for r in rows if r[0] in (3, 6)],
        [r for r in rows if r[0] in (4, 7)],
    ]
    for b in batches:
        mk(b).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(mk(rows).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ev.run_streaming_markov(stream, state, ck)
    q.awaitTermination(120)

    got = {
        (r.from_state, r.to_state): (r.n, r.p)
        for r in ev.streaming_markov_result(spark, state).collect()
    }

    from adv_big_data_indexing_spark.contract import registry

    bdir = str(tmp_path / "markov_batch")
    mk(rows).withColumn("props", F.lit("{}")).coalesce(1).write.parquet(
        bdir + "/events.parquet"
    )
    exp = {
        (r.from_state, r.to_state): (r.n, r.p)
        for r in registry()["ts_markov_transitions"].fn(spark, bdir).collect()
    }
    assert got == exp
    assert got[("view", "click")] == (2, 2 / 3)  # boundary-spanning pair counted

    # replay from a fresh checkpoint: additive fold must skip applied ids
    applied = sorted(map(tuple, spark.read.parquet(state).collect()))
    q2 = ev.run_streaming_markov(
        spark.readStream.schema(mk(rows).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        state,
        str(tmp_path / "markov_ck2"),
    )
    q2.awaitTermination(120)
    # same batch_ids re-delivered under the new checkpoint: every fold
    # call sees batch_id <= applied max and skips — counts unchanged
    assert sorted(map(tuple, spark.read.parquet(state).collect())) == applied


def test_streaming_seasonal_matches_batch(spark, tmp_path):
    """VERDICT r6 item 7: the incremental seasonal-decompose state
    (foreachBatch hourly fold + watermark-frozen trend rows) must (a)
    emit trend rows INCREMENTALLY — before finalize, exactly the rows
    whose centered window closed under the watermark — and (b) after
    finalize equal the batch operator on the same data EXACTLY."""
    import time

    from adv_big_data_indexing_spark.operators.timeseries import (
        detrend_hourly,
        hourly_series,
        seasonalize,
    )

    rows = [
        (
            h * 10 + k,
            f"2024-01-{1 + h // 24:02d} {h % 24:02d}:{5 + 17 * k % 50:02d}:00",
            1 + k,
            ["click", "view"][h % 2 == 0 and k % 2],
            float((h * 7 + k * 3) % 13) + 0.25 * k,
        )
        for h in range(60)
        for k in range(2)
    ]

    def mk(rs):
        return spark.createDataFrame(
            rs,
            "event_id long, ts_s string, user_id long, event_type string, value double",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )

    src = str(tmp_path / "seasonal_src")
    state = str(tmp_path / "seasonal_state")
    ck = str(tmp_path / "seasonal_ck")
    all_df = mk(rows)
    mk([r for r in rows if int(r[0]) // 10 < 40]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    mk([r for r in rows if int(r[0]) // 10 >= 40]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(all_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ev.run_streaming_seasonal(stream, state, ck)
    q.awaitTermination(180)

    def keyed(df):
        return {
            (r.event_type, r.h): (r.x, r.trend_q, r.seasonal_q, r.resid_q)
            for r in df.collect()
        }

    batch = seasonalize(detrend_hourly(hourly_series(all_df)))

    # (a) incremental rows exist pre-finalize and are the watermark-
    # closed subset of the batch detrended rows (wm = 59 - 1 = 58)
    pre_dt = spark.read.parquet(state + "/dt")
    assert pre_dt.count() > 0
    batch_dt = {
        (r.event_type, r.h): (r.x, r.trend_q, r.detrended)
        for r in detrend_hourly(hourly_series(all_df)).collect()
    }
    pre = {
        (r.event_type, r.h): (r.x, r.trend_q, r.detrended)
        for r in pre_dt.collect()
    }
    for key, v in pre.items():
        assert batch_dt[key] == v, key
    assert set(pre), "no incremental trend rows emitted"
    assert set(pre) != set(batch_dt), (
        "tail rows should still be pending before finalize"
    )

    # (b) finalized streaming result == batch operator, exactly
    final = ev.streaming_seasonal_result(spark, state, finalize=True)
    assert keyed(final) == keyed(batch)


def test_streaming_seasonal_empty_batch_and_event_level_lateness(spark, tmp_path):
    """Code-review r7 regressions: (a) an EMPTY micro-batch must not
    wedge the fold (the pre-fix guard compared batch_id <= None and
    raised TypeError on every retry); (b) n_late counts EVENTS, not
    post-rollup (event_type, hour) rows — three late events in one
    frozen hour add 3, not 1; (c) late events are excluded from the
    folded series, so finalize equals batch over the on-time rows."""
    import time

    from adv_big_data_indexing_spark.operators.timeseries import (
        detrend_hourly,
        hourly_series,
        seasonalize,
    )

    def mk(rs):
        return spark.createDataFrame(
            rs,
            "event_id long, ts_s string, user_id long, event_type string, value double",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        )

    def hour_rows(hours, base_eid):
        return [
            (base_eid + i, f"2024-01-{1 + h // 24:02d} {h % 24:02d}:15:00",
             1, "click", float((h * 5 + 3) % 11) + 0.5)
            for i, h in enumerate(hours)
        ]

    batch1 = hour_rows(range(0, 30), 0)
    late3 = [
        (900 + i, "2024-01-01 05:0%d:00" % i, 1, "click", 50.0 + i)
        for i in range(3)
    ]  # hour 5 <= wm(28): all three must drop and count as 3
    batch3 = late3 + hour_rows(range(30, 41), 1000)

    src = str(tmp_path / "seasonal_ooo_src")
    state = str(tmp_path / "seasonal_ooo_state")
    ck = str(tmp_path / "seasonal_ooo_ck")
    mk(batch1).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    mk([]).coalesce(1).write.mode("append").parquet(src)  # empty batch
    time.sleep(1.1)
    mk(batch3).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(mk(batch1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ev.run_streaming_seasonal(stream, state, ck)
    q.awaitTermination(180)

    hourly_state = spark.read.parquet(state + "/hourly")
    assert hourly_state.agg(F.max("n_late")).collect()[0][0] == 3
    assert hourly_state.agg(F.max("batch_id")).collect()[0][0] == 2

    ontime = mk(batch1 + hour_rows(range(30, 41), 1000))
    batch_exp = seasonalize(detrend_hourly(hourly_series(ontime)))
    final = ev.streaming_seasonal_result(spark, state, finalize=True)

    def keyed(df):
        return {
            (r.event_type, r.h): (r.x, r.trend_q, r.seasonal_q, r.resid_q)
            for r in df.collect()
        }

    assert keyed(final) == keyed(batch_exp)


def test_streaming_cms_survives_empty_batch(spark, tmp_path):
    """Code-review r7: the CMS fold shared the same None-unsafe guard —
    an empty first micro-batch wrote a zero-row state table whose
    max(batch_id) is None, wedging every later batch."""
    import time

    src = str(tmp_path / "cms_empty_src")
    state = str(tmp_path / "cms_empty_state")
    ck = str(tmp_path / "cms_empty_ck")
    schema = "event_id long, event_type string"
    spark.createDataFrame([], schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(
        [(i, ["click", "view"][i % 2]) for i in range(40)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ev.run_streaming_cms(stream, state, ck)
    q.awaitTermination(120)
    got = spark.read.parquet(state)
    assert got.agg(F.max("batch_id")).collect()[0][0] == 1
    assert got.agg(F.sum("cnt")).collect()[0][0] == 40 * 4


def test_streaming_hll_matches_batch_and_is_replay_idempotent(spark, tmp_path):
    """The streaming portable-HLL registers after draining the source
    yield the bit-identical distinct estimate as the batch sketch on
    the same data, and — the discipline this twin exists to show — a
    WHOLE-STREAM replay against warm state (fresh checkpoint, same
    state dir, every batch redelivered) leaves the registers unchanged:
    a register MAX is idempotent, so no batch_id guard is needed
    (contrast run_streaming_cms, whose additive fold would double)."""
    from adv_big_data_indexing_spark.operators.udfs import (
        _HLL_ESTIMATE,
        _SPARK_BUCKET,
        _SPARK_HEX,
        HLL_M,
    )

    src = str(tmp_path / "hll_src")
    state = str(tmp_path / "hll_state")
    schema = "event_id long, user_id long, event_type string"
    batch_df = spark.createDataFrame(
        [(i, i % 137, ["click", "view", "error"][i % 3]) for i in range(600)],
        schema,
    )
    batch_df.coalesce(3).write.parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ev.run_streaming_hll(stream, state, str(tmp_path / "ck1"))
    q.awaitTermination(120)

    got = {
        (r.event_type, r.approx_nd)
        for r in ev.streaming_hll_result(spark, state).collect()
    }
    expect = {
        (r.event_type, r.approx_nd)
        for r in (
            batch_df.selectExpr(
                "event_type AS g", "md5(CAST(user_id AS STRING)) AS h"
            )
            .selectExpr("g", f"({_SPARK_BUCKET}) AS bucket", f"({_SPARK_HEX}) AS hv")
            .selectExpr(
                "g",
                "bucket",
                "CASE WHEN hv = 0 THEN 53"
                " ELSE 53 - length(trim(LEADING '0' FROM bin(hv))) END AS rho",
            )
            .groupBy("g", "bucket")
            .agg(F.max("rho").alias("mj"))
            .groupBy("g")
            .agg(
                F.sum(
                    F.expr(
                        "CASE WHEN mj <= 50 THEN"
                        " shiftleft(CAST(1 AS BIGINT), 50 - mj) ELSE 0 END"
                    )
                ).alias("s_present"),
                F.count("*").alias("n_buckets"),
            )
            .selectExpr(
                "g AS event_type",
                f"s_present + ({HLL_M} - n_buckets)"
                " * shiftleft(CAST(1 AS BIGINT), 50) AS sum_total",
                f"{HLL_M} - n_buckets AS zeros",
            )
            .selectExpr("event_type", _HLL_ESTIMATE)
        ).collect()
    }
    assert got == expect
    # estimates are sane: 137 distinct users appear under every type
    for _, nd in got:
        assert 100 < nd < 180

    registers = sorted(
        (r.g, r.bucket, r.mj) for r in spark.read.parquet(state).collect()
    )
    # full-stream replay: fresh checkpoint ⇒ ALL batches redeliver into
    # the warm state table; max-merge must leave every register as-is
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = ev.run_streaming_hll(stream2, state, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert (
        sorted((r.g, r.bucket, r.mj) for r in spark.read.parquet(state).collect())
        == registers
    )


def test_streaming_survival_matches_batch_and_late_churn_shift(spark, tmp_path):
    """The KM curve derived from the streaming per-user frontier state
    equals the batch ts_survival_km on the same events at every stage:
    after the first chunk, and after a second chunk that (a) moves one
    user's churn day FORWARD (late-arriving newer event) and (b)
    delivers an OLDER event for another user (frontier unmoved). The
    frontier max-merge is idempotent, so a whole-stream replay against
    warm state leaves the curve unchanged — no batch_id guard."""
    import datetime as dt

    from adv_big_data_indexing_spark.operators.timeseries import ts_survival_km

    def ev_rows(rows):
        return [
            (i, dt.datetime(2024, 1, 1 + d, 12, 0, 0), u, "click", 1.0, "{}")
            for i, (u, d) in enumerate(rows)
        ]

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    # chunk 1: users 1-4 with frontiers on days 0,1,2,3
    chunk1 = ev_rows([(1, 0), (2, 0), (2, 1), (3, 2), (4, 3), (4, 1)])
    # chunk 2: user 3's frontier MOVES 2→4 (late newer event); user 4
    # gets an OLDER day-0 event (frontier stays 3); new user 5 churns day 4
    chunk2 = ev_rows([(3, 4), (4, 0), (5, 4)])

    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "part1")
    src = f"{full_dir}/events.parquet"
    state = str(tmp_path / "km_state")
    ck = str(tmp_path / "km_ck")

    spark.createDataFrame(chunk1, schema).coalesce(1).write.parquet(
        f"{part_dir}/events.parquet"
    )
    spark.createDataFrame(chunk1, schema).coalesce(1).write.mode("append").parquet(src)

    def curve(df):
        return sorted(
            (r.day, r.n_risk, r.n_churn, r.log_s_q4) for r in df.collect()
        )

    stream = spark.readStream.schema(schema).parquet(src)
    ev.run_streaming_survival(stream, state, ck).awaitTermination(120)
    assert curve(ev.streaming_survival_result(spark, state)) == curve(
        ts_survival_km(spark, part_dir)
    )

    import os
    import time

    def state_snapshot(sub):
        """sorted (relpath, mtime_ns) of every parquet under state/<sub>
        — delta files live under per-batch subdirs (statelog layout)."""
        d = os.path.join(state, sub)
        if not os.path.isdir(d):
            return []
        return sorted(
            (os.path.relpath(os.path.join(root, f), d),
             os.stat(os.path.join(root, f)).st_mtime_ns)
            for root, _dirs, files in os.walk(d)
            for f in files
            if f.endswith(".parquet")
        )

    snap1_deltas = state_snapshot("deltas")
    assert len(snap1_deltas) == 1  # one Θ(batch) append so far
    assert snap1_deltas[0][0].startswith("batch=0/")
    assert state_snapshot("base") == []  # below the compaction fan-in

    time.sleep(1.1)
    spark.createDataFrame(chunk2, schema).coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(schema).parquet(src)
    ev.run_streaming_survival(stream2, state, ck).awaitTermination(120)
    got = curve(ev.streaming_survival_result(spark, state))
    assert got == curve(ts_survival_km(spark, full_dir))
    # user 3's churn moved off day 2 entirely: day 2 no longer in the table
    D0 = 19723  # 2024-01-01 as an epoch day
    assert [r[0] for r in got] == [D0, D0 + 1, D0 + 3, D0 + 4]
    # frontier state is exact: user 4 still day 3, user 3 now day 4
    frontier = {
        r.user_id: r.day for r in ev._survival_frontier(spark, state).collect()
    }
    assert frontier == {1: D0, 2: D0 + 1, 3: D0 + 4, 4: D0 + 3, 5: D0 + 4}

    # log-structured write cost: the second batch APPENDED its own
    # batch=1 delta and left batch=0's file byte-untouched (Θ(batch)
    # write, never Θ(total users))
    snap2_deltas = state_snapshot("deltas")
    assert len(snap2_deltas) == 2
    assert snap1_deltas[0] in snap2_deltas
    assert any(p.startswith("batch=1/") for p, _ in snap2_deltas)

    # whole-stream replay against warm state: duplicate delta rows
    # appear in the log (the fresh checkpoint re-runs as batch 0, so
    # batch=0 gains a file), and the max-merge makes them invisible
    stream3 = spark.readStream.schema(schema).parquet(src)
    ev.run_streaming_survival(stream3, state, str(tmp_path / "km_ck2")).awaitTermination(
        120
    )
    assert curve(ev.streaming_survival_result(spark, state)) == got
    snap3_deltas = state_snapshot("deltas")
    assert len(snap3_deltas) == 3
    assert sum(1 for p, _ in snap3_deltas if p.startswith("batch=0/")) == 2

    # compaction: fan-in 1 forces the next batch to fold base+deltas
    # into the base table and reset the log; the curve is unchanged
    time.sleep(1.1)
    extra = ev_rows([(1, 2)])  # user 1's frontier moves 0→2
    spark.createDataFrame(extra, schema).coalesce(1).write.mode("append").parquet(src)
    stream4 = spark.readStream.schema(schema).parquet(src)
    ev.run_streaming_survival(
        stream4, state, ck, compact_fanin=1
    ).awaitTermination(120)
    assert state_snapshot("deltas") == []  # log absorbed into base
    assert state_snapshot("base") != []
    assert curve(ev.streaming_survival_result(spark, state)) == curve(
        ts_survival_km(spark, full_dir)  # src accumulated every chunk
    )


def test_streaming_survival_crash_between_compaction_steps(spark, tmp_path):
    """The LSM docstring's crash claim, executed: a compaction that
    commits the base table but dies BEFORE resetting the delta log
    leaves absorbed deltas in the log; the next read and the next
    compaction re-absorb them with no change (max is idempotent), and
    later batches keep folding exactly."""
    import datetime as dt
    import os

    from adv_big_data_indexing_spark.operators.timeseries import ts_survival_km

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )

    def ev_rows(rows, base_id=0):
        return [
            (base_id + i, dt.datetime(2024, 1, 1 + d, 12, 0, 0), u, "click", 1.0, "{}")
            for i, (u, d) in enumerate(rows)
        ]

    full_dir = str(tmp_path / "full")
    src = f"{full_dir}/events.parquet"
    state = str(tmp_path / "st")
    chunk1 = ev_rows([(1, 0), (2, 1), (3, 2)])
    spark.createDataFrame(chunk1, schema).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    ev.run_streaming_survival(stream, state, str(tmp_path / "ck")).awaitTermination(120)

    def curve(df):
        return sorted((r.day, r.n_risk, r.n_churn, r.log_s_q4) for r in df.collect())

    # simulate the torn compaction: commit the merged frontier to base,
    # then "crash" — the delta log is NOT reset
    merged = ev._survival_frontier(spark, state)
    statelog.commit(merged.withColumn("batch_id", F.lit(0)), os.path.join(state, "base"))
    assert os.path.isdir(os.path.join(state, "deltas"))  # log survived the crash
    before = curve(ev.streaming_survival_result(spark, state))
    assert before == curve(ts_survival_km(spark, full_dir))

    # recovery needs nothing: further batches fold over base + stale log
    import time

    time.sleep(1.1)
    chunk2 = ev_rows([(2, 4), (4, 3)], base_id=100)  # shift user 2, add user 4
    spark.createDataFrame(chunk2, schema).coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(schema).parquet(src)
    # fan-in 1: the recovery batch also COMPACTS base + stale log + new delta
    ev.run_streaming_survival(
        stream2, state, str(tmp_path / "ck"), compact_fanin=1
    ).awaitTermination(120)
    assert curve(ev.streaming_survival_result(spark, state)) == curve(
        ts_survival_km(spark, full_dir)
    )
    assert not os.path.isdir(os.path.join(state, "deltas")) or not any(
        f.endswith(".parquet") for f in os.listdir(os.path.join(state, "deltas"))
    )


def test_streaming_survival_chunking_invariance(spark, tmp_path):
    """Frontier algebra is associative/commutative/idempotent, so the
    final curve must be invariant to HOW the same events are chunked
    into micro-batches — including duplicated events across chunks.
    Three adversarial chunkings of one random-ish corpus, one batch
    oracle."""
    import datetime as dt

    from adv_big_data_indexing_spark.operators.timeseries import ts_survival_km

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    # deterministic pseudo-random corpus: 60 events over 12 users / 9 days
    rows = [
        (i, dt.datetime(2024, 1, 1 + (i * 7 + i * i) % 9, 8, 0, 0),
         (i * 5 + 3) % 12, "click", 1.0, "{}")
        for i in range(60)
    ]
    full_dir = str(tmp_path / "full")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        f"{full_dir}/events.parquet"
    )

    def curve(df):
        return sorted((r.day, r.n_risk, r.n_churn, r.log_s_q4) for r in df.collect())

    oracle = curve(ts_survival_km(spark, full_dir))

    import time

    chunkings = [
        [rows],  # one batch
        [rows[i::3] for i in range(3)],  # strided thirds
        [rows[:40], rows[20:]],  # OVERLAPPING halves (20 duplicate events)
    ]
    for ci, chunks in enumerate(chunkings):
        src = str(tmp_path / f"src{ci}")
        for ch in chunks:
            spark.createDataFrame(ch, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            time.sleep(1.1)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state = str(tmp_path / f"st{ci}")
        ev.run_streaming_survival(
            stream, state, str(tmp_path / f"ck{ci}"), compact_fanin=2
        ).awaitTermination(120)
        assert curve(ev.streaming_survival_result(spark, state)) == oracle, ci


def test_streaming_survival_survives_empty_batches(spark, tmp_path):
    """Empty micro-batches (the None-unsafe class that wedged the CMS
    fold pre-r7): an empty FIRST batch appends an empty delta, an
    all-empty log at the compaction trigger folds nothing (no crash,
    no phantom base), and real data arriving later still yields the
    exact curve."""
    import datetime as dt
    import time

    from adv_big_data_indexing_spark.operators.timeseries import ts_survival_km

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    full_dir = str(tmp_path / "full")
    src = f"{full_dir}/events.parquet"
    state = str(tmp_path / "st")
    ck = str(tmp_path / "ck")

    spark.createDataFrame([], schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame([], schema).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    # fan-in 1: every batch trips the compaction trigger on an
    # empty-or-absent frontier
    ev.run_streaming_survival(stream, state, ck, compact_fanin=1).awaitTermination(120)
    assert ev.streaming_survival_result(spark, state).count() == 0

    time.sleep(1.1)
    rows = [
        (i, dt.datetime(2024, 1, 1 + (u % 3), 9, 0, 0), u, "click", 1.0, "{}")
        for i, u in enumerate([1, 2, 3, 1, 2])
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    ev.run_streaming_survival(stream2, state, ck, compact_fanin=1).awaitTermination(120)
    got = sorted(
        (r.day, r.n_risk, r.n_churn, r.log_s_q4)
        for r in ev.streaming_survival_result(spark, state).collect()
    )
    expect = sorted(
        (r.day, r.n_risk, r.n_churn, r.log_s_q4)
        for r in ts_survival_km(spark, full_dir).collect()
    )
    assert got == expect and len(got) > 0


def test_streaming_hll_survives_empty_batch(spark, tmp_path):
    """An empty first micro-batch commits an empty (schema-complete)
    register table; later batches merge into it and the estimate is
    unaffected (the CMS None-guard class, idempotent-fold variant)."""
    import time

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    schema = "event_id long, user_id long, event_type string"
    spark.createDataFrame([], schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(
        [(i, i % 7, "click") for i in range(50)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    ev.run_streaming_hll(stream, state, ck).awaitTermination(120)
    got = {
        (r.event_type, r.approx_nd)
        for r in ev.streaming_hll_result(spark, state).collect()
    }
    assert len(got) == 1
    ((etype, nd),) = got
    assert etype == "click" and 5 < nd < 10  # 7 distinct users


def test_statelog_ignores_hidden_paths(spark, tmp_path):
    """ADVICE r9 (statelog.py): a crashed append can leave
    deltas/batch=N/_temporary/.../part-x.parquet with NO committed
    files. Spark's reader filters '_'/'.'-prefixed paths, so read_parts
    must treat such a log as EMPTY instead of building a parquet read
    that fails schema inference on every subsequent read/compaction."""
    log = str(tmp_path / "log")
    torn = tmp_path / "log" / "deltas" / "batch=0" / "_temporary" / "0"
    torn.mkdir(parents=True)
    # real parquet bytes, but under a Spark-hidden directory
    spark.range(3).coalesce(1).write.parquet(str(torn / "t.parquet"))
    assert statelog.read_parts(spark, log) == []

    # a visible committed delta alongside the torn tree reads normally
    statelog.append_delta(spark.range(2), log, batch_id=1)
    parts = statelog.read_parts(spark, log)
    assert len(parts) == 1
    assert parts[0].count() == 2


def _funnel_curve(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_funnel_matches_batch_any_chunking(spark, tmp_path):
    """VERDICT r9 item 3 (carried from r8): the streaming funnel's
    result must equal the batch ts_funnel under ANY chunking of the
    same events — including the event_id%3 split, which scatters each
    user's signup/click/purchase across batches in arbitrary time
    order (out-of-order step arrival is the normal case here, not an
    edge)."""
    from adv_big_data_indexing_spark.operators.timeseries import ts_funnel
    from adv_big_data_indexing_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "events")
    exp = _funnel_curve(ts_funnel(spark, SF_SMOKE))
    assert exp  # non-degenerate fixture

    for n_chunks, name in ((1, "one"), (3, "three")):
        src = str(tmp_path / f"src_{name}")
        for k in range(n_chunks):
            docs.filter(F.col("event_id") % n_chunks == k).coalesce(
                1
            ).write.mode("append").parquet(src)
            time.sleep(1.1)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state = str(tmp_path / f"state_{name}")
        ev.run_streaming_funnel(
            stream, state, str(tmp_path / f"ck_{name}"), delay_sec=10**9
        ).awaitTermination(300)
        assert _funnel_curve(ev.streaming_funnel_result(spark, state)) == exp, (
            f"{n_chunks}-chunk stream diverged from batch"
        )


def test_streaming_funnel_out_of_order_steps_requalify(spark, tmp_path):
    """The hard semantics: stage thresholds only move DOWN, and moving
    down re-admits earlier non-qualifying events. Batch 1 delivers a
    purchase with NO signup/click; batch 2 the click; batch 3 the
    signup — the user completes the funnel only after batch 3. A
    second user's late-but-accepted EARLIER signup (batch 3) turns an
    already-seen non-qualifying click into the qualifying one, which
    re-admits an already-seen purchase."""
    import datetime as dt

    from adv_big_data_indexing_spark.operators.timeseries import ts_funnel

    def t(minute):
        return dt.datetime(2024, 1, 1, 12, 0, 0) + dt.timedelta(minutes=minute)

    def rows(items, base):
        return [
            (base + i, t(m), u, typ, 1.0, "{}")
            for i, (u, typ, m) in enumerate(items)
        ]

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    # user 1: steps arrive in REVERSE order across batches
    # user 2: signup@10 first; click@5 and purchase@7 are non-qualifying
    #         until the late signup@3 (batch 3) re-qualifies both
    b1 = rows([(1, "purchase", 30), (2, "signup", 10), (2, "purchase", 7)], 0)
    b2 = rows([(1, "click", 20), (2, "click", 5)], 100)
    b3 = rows([(1, "signup", 10), (2, "signup", 3)], 200)

    src = str(tmp_path / "ooo_src")
    full = str(tmp_path / "ooo_full")
    state = str(tmp_path / "ooo_state")
    for b in (b1, b2, b3):
        df = spark.createDataFrame(b, schema)
        df.coalesce(1).write.mode("append").parquet(src)
        df.coalesce(1).write.mode("append").parquet(f"{full}/events.parquet")
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(spark.createDataFrame(b1, schema).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ev.run_streaming_funnel(
        stream, state, str(tmp_path / "ooo_ck"), delay_sec=10**9
    ).awaitTermination(300)
    got = _funnel_curve(ev.streaming_funnel_result(spark, state))
    assert got == _funnel_curve(ts_funnel(spark, full))
    by_user = {r[0]: r for r in got}
    us = lambda m: int(t(m).timestamp()) * 1_000_000  # noqa: E731
    assert by_user[1] == (1, us(10), us(20), us(30), True, True)
    # user 2: the late signup@3 moved signup down, click@5 qualified,
    # purchase@7 re-admitted — NOT (signup@10, no click, no purchase)
    assert by_user[2] == (2, us(3), us(5), us(7), True, True)


def test_streaming_funnel_replay_compaction_and_pruning(spark, tmp_path):
    """Replay against warm state leaves the result unchanged (the log's
    row kinds are min/max/set-merged — idempotent); a forced compaction
    (fan-in 1) folds the log into its base with the result unchanged
    AND prunes candidates the horizon made unreachable (a click at or
    below hi − delay that is still non-qualifying can never qualify:
    future signups arrive ≥ the horizon)."""
    import datetime as dt

    def t(minute):
        return dt.datetime(2024, 1, 1, 12, 0, 0) + dt.timedelta(minutes=minute)

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    # user 7: clicks at minutes 1..4 all BEFORE the signup@50 —
    # non-qualifying candidates; with delay 600 s the horizon after
    # minute-60 activity is minute 50, so clicks 1..4 are prunable
    # (kept exactly until compaction, pruned by it)
    b1 = [(i, t(i), 7, "click", 1.0, "{}") for i in range(1, 5)]
    b2 = [(100, t(50), 7, "signup", 1.0, "{}"), (101, t(60), 7, "view", 1.0, "{}")]

    src = str(tmp_path / "pr_src")
    state = str(tmp_path / "pr_state")
    for b in (b1, b2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)
    mkstream = lambda: (  # noqa: E731
        spark.readStream.schema(spark.createDataFrame(b1, schema).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ev.run_streaming_funnel(
        stream := mkstream(), state, str(tmp_path / "pr_ck"), delay_sec=600
    ).awaitTermination(300)
    del stream
    got = _funnel_curve(ev.streaming_funnel_result(spark, state))
    assert len(got) == 1 and got[0][4] is False  # signup, no qualifying click

    # whole-stream replay on warm state: the RESULT is unchanged (the
    # original deliveries' rows persist; min/max/set merges), while the
    # late observable gains PER-DELIVERY rows for the redelivered
    # clicks — they now arrive behind the frontier other batches
    # advanced (minute 60 − 600 s), the same at-least-once contract as
    # Spark's numRowsDroppedByWatermark (code-review r10)
    ev.run_streaming_funnel(
        mkstream(), state, str(tmp_path / "pr_ck2"), delay_sec=600
    ).awaitTermination(300)
    assert _funnel_curve(ev.streaming_funnel_result(spark, state)) == got
    late_after_replay = sorted(
        r.event_id for r in ev.streaming_funnel_late(spark, state).collect()
    )
    assert late_after_replay == [1, 2, 3, 4]  # redeliveries, not data loss

    pre = ev._funnel_log_rows(spark, state)
    assert pre.filter((F.col("kind") == "c")).count() == 4  # candidates held

    # force compaction with one more batch (fan-in 1)
    time.sleep(1.1)
    spark.createDataFrame(
        [(102, t(61), 7, "view", 1.0, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    ev.run_streaming_funnel(
        mkstream(), state, str(tmp_path / "pr_ck3"), delay_sec=600,
        compact_fanin=1,
    ).awaitTermination(300)
    assert _funnel_curve(ev.streaming_funnel_result(spark, state)) == got
    post = ev._funnel_log_rows(spark, state)
    # horizon = minute 61 - 600 s = minute 51 > clicks 1..4 -> pruned
    assert post.filter(F.col("kind") == "c").count() == 0
    import os as _os

    assert _os.path.isdir(_os.path.join(state, "base"))
    # base is hive-partitioned by kind, so the per-batch frontier probe
    # (filter kind = 'h') partition-prunes instead of scanning the
    # candidate partitions — the funnel log's named scale lever
    assert _os.path.isdir(_os.path.join(state, "base", "kind=h"))
    base = statelog.read_parts(spark, state)[0]
    plan = base.filter(F.col("kind") == "h")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "kind" in plan.split("PartitionFilters", 1)[1].split("]")[0], plan


def test_streaming_funnel_drops_behind_horizon(spark, tmp_path):
    """Drop-and-count contract: an event strictly behind the user's
    PRIOR frontier − delay is dropped (observable via
    streaming_funnel_late) and the result equals the batch ts_funnel on
    the ACCEPTED subset — while an equally-old event for a user with no
    prior frontier is accepted (a batch never drops by its own max,
    mirroring Spark's update-at-batch-end watermark)."""
    import datetime as dt

    from adv_big_data_indexing_spark.operators.timeseries import ts_funnel

    def t(minute):
        return dt.datetime(2024, 1, 1, 12, 0, 0) + dt.timedelta(minutes=minute)

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    b1 = [
        (1, t(50), 1, "signup", 1.0, "{}"),
        (2, t(60), 1, "click", 1.0, "{}"),
    ]
    # user 1's signup@5 is behind the frontier (60) - 600 s -> dropped;
    # user 2's whole funnel arrives at minutes 1..3 (older than user
    # 1's frontier, but user 2 has NO prior frontier -> accepted)
    b2 = [
        (3, t(5), 1, "signup", 1.0, "{}"),
        (4, t(1), 2, "signup", 1.0, "{}"),
        (5, t(2), 2, "click", 1.0, "{}"),
        (6, t(3), 2, "purchase", 1.0, "{}"),
    ]
    src = str(tmp_path / "late_src")
    acc_dir = str(tmp_path / "late_accepted")
    state = str(tmp_path / "late_state")
    for b in (b1, b2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)
    accepted = b1 + b2[1:]  # everything except the dropped signup
    spark.createDataFrame(accepted, schema).coalesce(1).write.parquet(
        f"{acc_dir}/events.parquet"
    )
    stream = (
        spark.readStream.schema(spark.createDataFrame(b1, schema).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ev.run_streaming_funnel(
        stream, state, str(tmp_path / "late_ck"), delay_sec=600
    ).awaitTermination(300)
    got = _funnel_curve(ev.streaming_funnel_result(spark, state))
    assert got == _funnel_curve(ts_funnel(spark, acc_dir))
    dropped = ev.streaming_funnel_late(spark, state).collect()
    assert [(r.user_id, r.event_id) for r in dropped] == [(1, 3)]
    by_user = {r[0]: r for r in got}
    assert by_user[1][1] == int(t(50).timestamp()) * 1_000_000  # not 12:05
    assert by_user[2][4] is True and by_user[2][5] is True


def test_streaming_funnel_survives_empty_batches(spark, tmp_path):
    """An all-empty first delta batch must not poison the log (the
    statelog empty-edge class pinned in r9)."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    import datetime as dt

    src = str(tmp_path / "e_src")
    state = str(tmp_path / "e_state")
    spark.createDataFrame([], schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 12, 0), 1, "signup", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 1, 12, 5), 1, "click", 1.0, "{}"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ev.run_streaming_funnel(
        stream, state, str(tmp_path / "e_ck"), delay_sec=10**9, compact_fanin=1
    ).awaitTermination(300)
    got = _funnel_curve(ev.streaming_funnel_result(spark, state))
    assert len(got) == 1
    assert got[0][4] is True and got[0][5] is False


def _retention_curve(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_retention_matches_batch_any_chunking(spark, tmp_path):
    """The streaming cohort-retention table must equal the batch
    ts_retention_cohort under ANY chunking — the event_id%3 split
    scatters each user's days across batches in arbitrary time order,
    so cohort days move EARLIER mid-stream and every affected user's
    offsets rebase."""
    from adv_big_data_indexing_spark.operators.timeseries import (
        ts_retention_cohort,
    )
    from adv_big_data_indexing_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "events")
    exp = _retention_curve(ts_retention_cohort(spark, SF_SMOKE))
    assert exp

    for n_chunks, name in ((1, "one"), (3, "three")):
        src = str(tmp_path / f"rsrc_{name}")
        for k in range(n_chunks):
            docs.filter(F.col("event_id") % n_chunks == k).coalesce(
                1
            ).write.mode("append").parquet(src)
            time.sleep(1.1)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state = str(tmp_path / f"rstate_{name}")
        ev.run_streaming_retention_log(
            stream, state, str(tmp_path / f"rck_{name}")
        ).awaitTermination(300)
        assert (
            _retention_curve(ev.streaming_retention_log_result(spark, state))
            == exp
        ), f"{n_chunks}-chunk stream diverged from batch"


def test_retention_log_layout_marker_guards_window_width(spark, tmp_path):
    """ADVICE r11 class, extended in r12: the retention log's stored
    d-rows are PRUNED at RETENTION_MAX_OFFSET, so resuming with a
    different window width over an existing state dir must RAISE (the
    stamped `_layout` marker), not silently serve wrong counts."""
    import os

    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from adv_big_data_indexing_spark.sources.catalog import load_table
    docs = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "mk_src")
    state = str(tmp_path / "mk_state")
    docs.limit(200).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    ev.run_streaming_retention_log(
        stream, state, str(tmp_path / "mk_ck")
    ).awaitTermination(300)
    marker = os.path.join(state, "_layout")
    assert (
        open(marker, encoding="utf-8").read().strip()
        == f"retention_max_offset={ev.RETENTION_MAX_OFFSET}"
    )

    # tamper as if the build's window width changed → next batch raises
    with open(marker, "w", encoding="utf-8") as f:
        f.write("retention_max_offset=14")
    time.sleep(1.1)
    docs.limit(10).coalesce(1).write.mode("append").parquet(src)
    q = ev.run_streaming_retention_log(
        spark.readStream.schema(docs.schema).parquet(src),
        state,
        str(tmp_path / "mk_ck2"),
    )
    with pytest.raises(StreamingQueryException, match="layout mismatch"):
        q.awaitTermination(300)

    # and the shared helper is idempotent on the correct value
    with open(marker, "w", encoding="utf-8") as f:
        f.write(f"retention_max_offset={ev.RETENTION_MAX_OFFSET}")
    statelog.check_layout(
        state, f"retention_max_offset={ev.RETENTION_MAX_OFFSET}"
    )


def test_streaming_retention_rebase_replay_and_prune(spark, tmp_path):
    """A late earlier day REBASES the user's cohort: days that were
    inside the ≤7-offset window fall out (the window only shrinks —
    the twin's safety property), replay on warm state is invisible,
    and compaction prunes the now-out-of-window day rows."""
    import datetime as dt

    def d(day):
        return dt.datetime(2024, 1, 1, 6, 0, 0) + dt.timedelta(days=day)

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    # batch 1: user 1 active on days 10 and 15 (cohort 10, offsets 0/5)
    b1 = [
        (1, d(10), 1, "click", 1.0, "{}"),
        (2, d(15), 1, "view", 1.0, "{}"),
    ]
    # batch 2: late day 3 — cohort rebases to 3; day 10 is now offset 7
    # (still in), day 15 offset 12 (OUT of the window)
    b2 = [(3, d(3), 1, "click", 1.0, "{}")]
    src = str(tmp_path / "rb_src")
    state = str(tmp_path / "rb_state")
    for b in (b1, b2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)
    mkstream = lambda: (  # noqa: E731
        spark.readStream.schema(spark.createDataFrame(b1, schema).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ev.run_streaming_retention_log(
        mkstream(), state, str(tmp_path / "rb_ck")
    ).awaitTermination(300)
    D0 = 19723 + 3  # d(3) = 2024-01-04, epoch day
    got = _retention_curve(ev.streaming_retention_log_result(spark, state))
    assert got == [(D0, 0, 1), (D0, 7, 1)]  # day 15 rebased out

    # replay: unchanged (min/set merges)
    ev.run_streaming_retention_log(
        mkstream(), state, str(tmp_path / "rb_ck2")
    ).awaitTermination(300)
    assert _retention_curve(ev.streaming_retention_log_result(spark, state)) == got

    # day-15 candidate rows still in the log until compaction prunes
    log = ev._retention_log_rows(spark, state)
    assert log.filter((F.col("kind") == "d") & (F.col("val") == D0 + 12)).count() == 1
    time.sleep(1.1)
    spark.createDataFrame(
        [(9, d(4), 1, "view", 1.0, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    ev.run_streaming_retention_log(
        mkstream(), state, str(tmp_path / "rb_ck3"), compact_fanin=1
    ).awaitTermination(300)
    got2 = _retention_curve(ev.streaming_retention_log_result(spark, state))
    assert got2 == [(D0, 0, 1), (D0, 1, 1), (D0, 7, 1)]
    post = ev._retention_log_rows(spark, state)
    assert post.filter((F.col("kind") == "d") & (F.col("val") == D0 + 12)).count() == 0
    import os as _os

    assert _os.path.isdir(_os.path.join(state, "base", "kind=d"))


def test_statelog_log_rows_counts_footers_and_skips_hidden(spark, tmp_path):
    """statelog.log_rows is the compaction emptiness guard: parquet
    FOOTER row counts over base+deltas, hidden paths excluded — a
    zero-row (schema-carrying) delta must count as 0, and a torn
    _temporary tree must not count at all."""
    log = str(tmp_path / "lr_log")
    assert statelog.log_rows(log) == 0  # absent log
    schema = "user_id bigint, kind string, val bigint"
    statelog.append_delta(spark.createDataFrame([], schema), log, 0)
    assert statelog.log_rows(log) == 0  # zero-row file, not zero files
    statelog.append_delta(
        spark.createDataFrame([(1, "h", 5), (2, "h", 6)], schema), log, 1
    )
    assert statelog.log_rows(log) == 2
    torn = tmp_path / "lr_log" / "deltas" / "batch=2" / "_temporary"
    torn.mkdir(parents=True)
    spark.range(7).coalesce(1).write.parquet(str(torn / "t.parquet"))
    assert statelog.log_rows(log) == 2  # hidden rows invisible
    statelog.compact(
        spark,
        log,
        statelog.read_set_log(spark, log, schema),
        2,
        partition_by="kind",
    )
    assert statelog.log_rows(log) == 2  # counts the partitioned base


def test_streaming_funnel_own_batch_max_never_drops(spark, tmp_path):
    """Sharp boundary of the update-at-batch-end contract: a batch that
    ADVANCES a user's frontier by more than delay must still accept its
    own older events (they are judged against the PRIOR frontier), even
    though they are behind the new frontier − delay the moment the
    batch commits. Only the NEXT delivery behind the advanced horizon
    drops."""
    import datetime as dt

    from adv_big_data_indexing_spark.operators.timeseries import ts_funnel

    def t(minute):
        return dt.datetime(2024, 1, 1, 12, 0, 0) + dt.timedelta(minutes=minute)

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    b1 = [(1, t(0), 1, "signup", 1.0, "{}")]  # frontier = minute 0
    # one batch: frontier jumps to minute 120 (>> delay 600 s) AND the
    # same batch carries the click at minute 2 — accepted (prior
    # frontier 0 - 600 s is far below it), completing signup->click
    b2 = [
        (2, t(120), 1, "view", 1.0, "{}"),
        (3, t(2), 1, "click", 1.0, "{}"),
    ]
    # next batch: purchase at minute 5 is now BEHIND 120 - 10 -> drops
    b3 = [(4, t(5), 1, "purchase", 1.0, "{}")]
    src = str(tmp_path / "ob_src")
    state = str(tmp_path / "ob_state")
    for b in (b1, b2, b3):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(spark.createDataFrame(b1, schema).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ev.run_streaming_funnel(
        stream, state, str(tmp_path / "ob_ck"), delay_sec=600
    ).awaitTermination(300)
    got = _funnel_curve(ev.streaming_funnel_result(spark, state))
    us = lambda m: int(t(m).timestamp()) * 1_000_000  # noqa: E731
    assert got == [(1, us(0), us(2), None, True, False)]
    assert [r.event_id for r in ev.streaming_funnel_late(spark, state).collect()] == [4]
    # batch equivalence on the accepted subset
    acc = str(tmp_path / "ob_acc")
    spark.createDataFrame(b1 + b2, schema).coalesce(1).write.parquet(
        f"{acc}/events.parquet"
    )
    assert got == _funnel_curve(ts_funnel(spark, acc))


def test_locf_update_total_on_empty_delivery_fresh_key():
    """code-review r11: a yield-nothing delivery for a key with NO prior
    state must be a no-op (empty output, no state write) — not an
    int(None) crash after _concat_batches made the concat itself total."""
    from adv_big_data_indexing_spark.streaming import events as ev

    captured = {}

    class _Chain:
        def __getattr__(self, name):
            if name == "applyInPandasWithState":
                def cap(update, **kw):
                    captured["update"] = update
                    return self
                return cap
            return lambda *a, **k: self

    ev.locf_monitor(_Chain())

    class _State:
        exists = False
        hasTimedOut = False

        def update(self, v):
            raise AssertionError(f"state written for an empty fresh key: {v}")

    outs = list(captured["update"]((7,), iter([]), _State()))
    assert len(outs) == 1 and len(outs[0]) == 0


def test_maybe_compact_zero_row_guard_is_partitioned_only(spark, tmp_path):
    """code-review r11: the zero-row guard must not stop an EMPTY
    unpartitioned log from compacting (a zero-row plain commit is valid
    parquet, and skipping it would grow delta subdirectories — and the
    per-batch footer walk over them — forever, e.g. a pairs log on a
    dup-free corpus); only the partitioned commit is the hazard."""
    import os

    schema = "doc_a bigint, doc_b bigint"
    empty = spark.createDataFrame([], schema)

    # unpartitioned: fanin reached on an all-empty log → compaction RUNS
    log1 = str(tmp_path / "plain")
    for b in range(3):
        statelog.append_delta(empty, log1, b)
    assert statelog.delta_batches(log1) == 3
    statelog.maybe_compact(
        spark, log1, lambda: statelog.read_set_log(spark, log1, schema), 3, fanin=2
    )
    assert statelog.delta_batches(log1) == 0  # deltas absorbed
    assert os.path.isdir(os.path.join(log1, "base"))
    assert statelog.read_set_log(spark, log1, schema).count() == 0

    # partitioned: the same shape must SKIP (schema-less base hazard)
    log2 = str(tmp_path / "parts")
    for b in range(3):
        statelog.append_delta(empty.withColumn("kind", F.lit("x")), log2, b)
    statelog.maybe_compact(
        spark,
        log2,
        lambda: statelog.read_set_log(spark, log2, schema + ", kind string"),
        3,
        fanin=2,
        partition_by="kind",
    )
    assert statelog.delta_batches(log2) == 3  # untouched
    assert not os.path.isdir(os.path.join(log2, "base"))
