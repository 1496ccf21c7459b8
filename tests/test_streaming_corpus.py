"""Streaming incremental dedup index (streaming/corpus.py): the
accumulated verified pair set equals the full-corpus batch operator
under any chunking, replays are invisible (set idempotence), and
compaction preserves the set."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.streaming import corpus as sc

SF_SMOKE = "/root/testdata/sf0.001"
DOC_SCHEMA = None  # resolved from the table in the fixture


@pytest.fixture(scope="module")
def batch_pairs(spark):
    from adv_big_data_indexing_spark.operators.dedup import ns_dedup_minhash_lsh

    rows = sorted(
        (r.doc_a, r.doc_b, r.n_inter, r.jaccard)
        for r in ns_dedup_minhash_lsh(spark, SF_SMOKE).collect()
    )
    assert len(rows) > 0  # non-vacuous oracle
    return rows


def _stream_pairs(spark, tmp_path, chunks, tag, compact_fanin=99):
    """Write doc chunks as separate files, drain them as micro-batches,
    return the accumulated sorted pair set."""
    src = str(tmp_path / f"src_{tag}")
    state = str(tmp_path / f"state_{tag}")
    ck = str(tmp_path / f"ck_{tag}")
    schema = chunks[0].schema
    for ch in chunks:
        ch.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes → deterministic batch order
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sc.run_streaming_dedup_index(stream, state, ck, compact_fanin=compact_fanin)
    q.awaitTermination(600)
    return (
        sorted(
            (r.doc_a, r.doc_b, r.n_inter, r.jaccard)
            for r in sc.streaming_dedup_pairs(spark, state).collect()
        ),
        state,
        ck,
        stream.schema if hasattr(stream, "schema") else schema,
        src,
    )


def test_streaming_dedup_index_matches_batch_any_chunking(
    spark, tmp_path, batch_pairs
):
    """Three chunkings of the same corpus — thirds by id, interleaved
    stripes, one shot — all converge to the batch LSH pair set: a pair
    is found in whichever batch completes it."""
    from adv_big_data_indexing_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")

    chunkings = {
        "thirds": [
            docs.filter(F.col("doc_id") % 3 == k) for k in range(3)
        ],
        "oneshot": [docs],
    }
    for tag, chunks in chunkings.items():
        got, *_ = _stream_pairs(spark, tmp_path, chunks, tag)
        assert got == batch_pairs, tag


def test_streaming_dedup_index_replay_and_compaction(spark, tmp_path, batch_pairs):
    """A whole-stream replay against the warm index appends duplicate
    rows that distinct-at-read removes; a forced compaction afterwards
    (fan-in 1 on one more tiny batch) absorbs every log into its base
    with the pair set unchanged."""
    from adv_big_data_indexing_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    halves = [docs.filter(F.col("doc_id") % 2 == k) for k in range(2)]
    got, state, ck, schema, src = _stream_pairs(spark, tmp_path, halves, "replay")
    assert got == batch_pairs

    # replay: fresh checkpoint, same state — every batch redelivers
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sc.run_streaming_dedup_index(
        stream2, state, str(tmp_path / "ck_replay2")
    ).awaitTermination(600)
    got2 = sorted(
        (r.doc_a, r.doc_b, r.n_inter, r.jaccard)
        for r in sc.streaming_dedup_pairs(spark, state).collect()
    )
    assert got2 == batch_pairs

    # compaction: stream one duplicate-of-existing doc with fan-in 1 —
    # logs fold into their bases, pair set unchanged
    time.sleep(1.1)
    docs.filter(F.col("doc_id") == 0).coalesce(1).write.mode("append").parquet(src)
    stream3 = spark.readStream.schema(docs.schema).parquet(src)
    sc.run_streaming_dedup_index(
        stream3, state, ck, compact_fanin=1
    ).awaitTermination(600)
    for log in ("pairs", "sigs", "bands"):
        dd = os.path.join(state, log, "deltas")
        assert not os.path.isdir(dd) or not any(
            f.endswith(".parquet") for f in os.listdir(dd)
        ), log
        assert os.path.isdir(os.path.join(state, log, "base")), log
    got3 = sorted(
        (r.doc_a, r.doc_b, r.n_inter, r.jaccard)
        for r in sc.streaming_dedup_pairs(spark, state).collect()
    )
    assert got3 == batch_pairs

    # ADVICE r9: replayed sig rows must COLLAPSE — hs is array_sorted
    # before every append (collect_set order is nondeterministic), so
    # the whole-stream replay's duplicate rows are byte-identical and
    # the compacted base holds exactly ONE row per doc_id
    sigs_base = spark.read.parquet(os.path.join(state, "sigs", "base"))
    assert sigs_base.count() == sigs_base.select("doc_id").distinct().count()


def test_streaming_dedup_index_survives_empty_batches(spark, tmp_path):
    """Empty micro-batches append empty deltas and even trigger
    compaction of an empty/absent log without failing; documents
    arriving afterwards still index and pair exactly."""
    import time

    from adv_big_data_indexing_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    empty = docs.filter(F.lit(False))
    empty.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    empty.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sc.run_streaming_dedup_index(stream, state, ck, compact_fanin=1).awaitTermination(
        600
    )
    assert sc.streaming_dedup_pairs(spark, state).count() == 0

    time.sleep(1.1)
    docs.coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(docs.schema).parquet(src)
    sc.run_streaming_dedup_index(stream2, state, ck, compact_fanin=1).awaitTermination(
        600
    )
    from adv_big_data_indexing_spark.operators.dedup import ns_dedup_minhash_lsh

    got = sorted(
        (r.doc_a, r.doc_b, r.n_inter, r.jaccard)
        for r in sc.streaming_dedup_pairs(spark, state).collect()
    )
    expect = sorted(
        (r.doc_a, r.doc_b, r.n_inter, r.jaccard)
        for r in ns_dedup_minhash_lsh(spark, SF_SMOKE).collect()
    )
    assert got == expect and len(got) > 0


def test_sigs_base_bucketed_layout_and_torn_compaction(spark, tmp_path, batch_pairs):
    """VERDICT r10 item 3: the sigs base is hive-partitioned on dk so
    the per-batch verify prunes its scan to the candidate buckets. The
    statelog crash contracts must hold on the PARTITIONED layout too:
    (a) the compacted base really is dk=<n> partition dirs; (b) a torn
    compaction (base committed, delta reset never ran) re-absorbs the
    leftover deltas invisibly — pair set unchanged; (c) the all-empty
    zero-row commit guard never writes a schema-less partitioned base."""
    import shutil

    from adv_big_data_indexing_spark.sources.catalog import load_table
    from adv_big_data_indexing_spark.streaming import statelog

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    halves = [docs.filter(F.col("doc_id") % 2 == k) for k in range(2)]
    got, state, ck, _schema, src = _stream_pairs(
        spark, tmp_path, halves, "bucketed", compact_fanin=1
    )
    assert got == batch_pairs

    # (a) partitioned layout, and values are the dk of the docs
    sigs_base = os.path.join(state, "sigs", "base")
    dk_dirs = [d for d in os.listdir(sigs_base) if d.startswith("dk=")]
    assert dk_dirs, "sigs base is not dk-partitioned"
    assert all(0 <= int(d.split("=")[1]) < sc.SIGS_BUCKETS for d in dk_dirs)
    base_df = spark.read.parquet(sigs_base)
    assert {"doc_id", "dk", "hs"} <= set(base_df.columns)
    assert base_df.filter(
        F.col("dk") != F.pmod(F.xxhash64("doc_id"), sc.SIGS_BUCKETS).cast("int")
    ).count() == 0

    # (b) torn compaction: re-append one batch's sig rows as a leftover
    # delta (as if the crash hit between base commit and delta reset),
    # then verify read-side absorption and a follow-up compaction
    sigs_log = os.path.join(state, "sigs")
    n_base = base_df.count()  # pinned BEFORE the swap deletes these files
    leftover = base_df.drop("batch_id").limit(50)
    statelog.append_delta(leftover, sigs_log, batch_id=9999)
    assert statelog.delta_batches(sigs_log) == 1
    merged = statelog.read_set_log(spark, sigs_log, sc._SIGS_SCHEMA)
    assert merged.count() == n_base  # duplicates invisible
    statelog.compact(spark, sigs_log, merged, 10000, partition_by="dk")
    assert statelog.delta_batches(sigs_log) == 0
    spark.catalog.refreshByPath(sigs_base)  # the swap replaced the files
    assert spark.read.parquet(sigs_base).count() == n_base
    # and the pair view is untouched by any of this
    got2 = sorted(
        (r.doc_a, r.doc_b, r.n_inter, r.jaccard)
        for r in sc.streaming_dedup_pairs(spark, state).collect()
    )
    assert got2 == batch_pairs

    # (c) zero-row guard: an all-empty partitioned log never commits —
    # drop the whole sigs log, append an EMPTY delta, force the
    # compaction path; the guard must skip (no schema-less base dir)
    shutil.rmtree(sigs_log)
    statelog.append_delta(
        base_df.drop("batch_id").filter(F.lit(False)), sigs_log, batch_id=0
    )
    sc._maybe_compact_set_log(
        spark, sigs_log, sc._SIGS_SCHEMA, 1, fanin=1, partition_by="dk"
    )
    assert not os.path.isdir(os.path.join(sigs_log, "base"))
    # the set-log reader still serves the empty set
    assert statelog.read_set_log(spark, sigs_log, sc._SIGS_SCHEMA).count() == 0


def test_layout_marker_stamps_and_raises_on_mismatch(spark, tmp_path):
    """ADVICE r11: stored dk/bk values bake SIGS_BUCKETS and the bk64
    encoding into the state dir — the `_layout` marker must stamp the
    contract on first touch, accept the same contract on resume, and
    raise LOUDLY (not silently drop pairs) when the constants differ.
    End-to-end: a tampered marker fails the next micro-batch."""
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    # unit: stamp → re-check same passes → different raises
    log = str(tmp_path / "somelog")
    sc._check_layout(log, "sigs_buckets=64")
    sc._check_layout(log, "sigs_buckets=64")  # idempotent
    with pytest.raises(ValueError, match="layout mismatch"):
        sc._check_layout(log, "sigs_buckets=128")
    # marker is invisible to Spark's parquet reader machinery
    assert os.path.basename(
        os.path.join(log, "_layout")
    ).startswith("_")

    # end-to-end: build a small index, tamper the sigs marker, resume —
    # the next batch must fail with the mismatch error, not run
    from adv_big_data_indexing_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    small = docs.limit(40)
    _got, state, _ck, _schema, src = _stream_pairs(
        spark, tmp_path, [small], "marker"
    )
    with open(os.path.join(state, "sigs", "_layout"), "w", encoding="utf-8") as f:
        f.write("sigs_buckets=32")
    time.sleep(1.1)
    docs.filter(F.col("doc_id") == 0).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = sc.run_streaming_dedup_index(stream, state, str(tmp_path / "ck_marker2"))
    with pytest.raises(StreamingQueryException, match="layout mismatch"):
        q.awaitTermination(600)


def test_streaming_honors_max_lsh_bucket_ceiling(spark, tmp_path):
    """ADVICE r11: the streaming probe honors the batch tier's opt-in
    spark.advbdi.maxLshBucket fail-fast — a colliding bucket above the
    ceiling RAISES naming the offending (band, bk); unset, the same
    stream converges to the batch pair set (plan untouched)."""
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    # 12 docs with identical text → one clique bucket of size 12 in
    # every band (the degenerate shape the ceiling exists for)
    rows = [(d, "alpha beta gamma delta epsilon zeta eta theta") for d in range(12)]
    clique = spark.createDataFrame(rows, "doc_id: long, text: string")

    try:
        spark.conf.set("spark.advbdi.maxLshBucket", "8")
        src = str(tmp_path / "src_ceiling")
        clique.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(clique.schema).parquet(src)
        q = sc.run_streaming_dedup_index(
            stream, str(tmp_path / "state_ceiling"), str(tmp_path / "ck_ceiling")
        )
        with pytest.raises(StreamingQueryException, match="maxLshBucket") as ei:
            q.awaitTermination(600)
        assert "band=" in str(ei.value) and "size=12" in str(ei.value)
    finally:
        spark.conf.unset("spark.advbdi.maxLshBucket")

    # unset: the identical stream pairs the clique fully — C(12,2)
    got, *_ = _stream_pairs(spark, tmp_path, [clique], "ceiling_ok")
    assert len(got) == 66


def test_ceiling_counts_distinct_docs_not_replayed_rows(spark, tmp_path):
    """code-review r12: a re-delivered doc appears in BOTH the batch
    and the indexed log — bucket size must count DISTINCT doc_ids, or
    a whole-stream replay doubles every count and spuriously trips the
    ceiling on a stream the batch tier would pass (wedging recovery)."""
    rows = [(d, "alpha beta gamma delta epsilon zeta eta theta") for d in range(12)]
    clique = spark.createDataFrame(rows, "doc_id: long, text: string")
    src = str(tmp_path / "src_replay_ceiling")
    state = str(tmp_path / "state_replay_ceiling")
    clique.coalesce(1).write.mode("append").parquet(src)
    try:
        # exactly at the ceiling: first pass must succeed
        spark.conf.set("spark.advbdi.maxLshBucket", "12")
        sc.run_streaming_dedup_index(
            spark.readStream.schema(clique.schema).parquet(src),
            state,
            str(tmp_path / "ck_rc1"),
        ).awaitTermination(600)
        n1 = sc.streaming_dedup_pairs(spark, state).count()
        assert n1 == 66  # C(12,2)
        # whole-stream replay on the warm index: every doc is now in
        # both bands_new and the log — a row count would see 24 > 12
        sc.run_streaming_dedup_index(
            spark.readStream.schema(clique.schema).parquet(src),
            state,
            str(tmp_path / "ck_rc2"),
        ).awaitTermination(600)
        assert sc.streaming_dedup_pairs(spark, state).count() == 66
    finally:
        spark.conf.unset("spark.advbdi.maxLshBucket")


def test_marker_less_legacy_bands_layout_raises(spark, tmp_path):
    """code-review r12: a marker-less bands dir written under the
    pre-r12 band_key-string layout must RAISE the designed layout error
    (driver-side footer probe), not be silently stamped 'bands=bk64'
    and then fail later with an unresolved-column error."""
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from adv_big_data_indexing_spark.streaming import statelog

    state = str(tmp_path / "state_legacy")
    legacy = spark.createDataFrame(
        [(1, 0, "123,456,789,0")], "doc_id long, band int, band_key string"
    )
    statelog.append_delta(legacy, os.path.join(state, "bands"), 0)

    docs = spark.createDataFrame([(5, "some text here")], "doc_id long, text string")
    src = str(tmp_path / "src_legacy")
    docs.coalesce(1).write.mode("append").parquet(src)
    q = sc.run_streaming_dedup_index(
        spark.readStream.schema(docs.schema).parquet(src),
        state,
        str(tmp_path / "ck_legacy"),
    )
    with pytest.raises(StreamingQueryException, match="layout mismatch"):
        q.awaitTermination(600)


def test_compact_sort_survives_readback_packing(spark, tmp_path):
    """compact() sorts each committed base file on ``sort_within``: the
    base is written once, and each file holds one sorted partition of
    the merged frame. Feed it a deliberately multi-partition unsorted
    merge and assert every committed base file is individually sorted."""
    import pyarrow.parquet as pq

    from adv_big_data_indexing_spark.streaming import statelog

    log = str(tmp_path / "sortlog")
    rows = spark.range(0, 4000).select(
        (F.xxhash64("id") % 1000).alias("k"), F.col("id").alias("v")
    )
    statelog.append_delta(rows, log, 0)
    merged = statelog.read_set_log(spark, log, "k bigint, v bigint").repartition(4)
    statelog.compact(spark, log, merged, 1, sort_within=("k", "v"))
    files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(os.path.join(log, "base"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    for path in files:
        t = pq.read_table(path, columns=["k", "v"])
        pairs = list(zip(t.column("k").to_pylist(), t.column("v").to_pylist()))
        assert pairs == sorted(pairs), f"base file not (k, v)-sorted: {path}"


def test_broadcast_cap_drops_hint_with_identical_pairs(spark, tmp_path, batch_pairs):
    """ADVICE r11: past STREAM_BCAST_IDS_CAP the candidate-id semi join
    drops its broadcast hint (AQE picks the join) — results must be
    IDENTICAL on both sides of the cap. Force the no-hint path by
    zeroing the cap and re-converge to the batch pair set."""
    from adv_big_data_indexing_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    orig = sc.STREAM_BCAST_IDS_CAP
    sc.STREAM_BCAST_IDS_CAP = 0  # every batch takes the no-hint path
    try:
        got, *_ = _stream_pairs(spark, tmp_path, [docs], "nobcast")
    finally:
        sc.STREAM_BCAST_IDS_CAP = orig
    assert got == batch_pairs


def test_compacted_bases_are_sorted_for_encoding(spark, tmp_path, batch_pairs):
    """r12 layout lever: after compaction the bands base files are
    sorted by (band, bk) and each sigs dk-partition file by doc_id —
    the clustering that lets parquet delta-encode the int64 probe
    columns and keeps row-group min/max tight (BASELINE.md r12)."""
    import pyarrow.parquet as pq

    from adv_big_data_indexing_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    got, state, *_ = _stream_pairs(
        spark, tmp_path, [docs], "sorted", compact_fanin=1
    )
    assert got == batch_pairs

    bands_files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(os.path.join(state, "bands", "base"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert bands_files
    for path in bands_files:
        t = pq.read_table(path, columns=["band", "bk"])
        pairs = list(zip(t.column("band").to_pylist(), t.column("bk").to_pylist()))
        assert pairs == sorted(pairs), f"bands base not (band, bk)-sorted: {path}"

    sigs_files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(os.path.join(state, "sigs", "base"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert sigs_files
    for path in sigs_files:
        ids = pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist()
        assert ids == sorted(ids), f"sigs base not doc_id-sorted: {path}"


def test_sigs_bucket_filter_reaches_partition_filters(spark, tmp_path):
    """Plan-level pin for the r11 lever: the candidate-bucket isin on
    the dk-partitioned sigs base must show up as PartitionFilters on
    the parquet scan (directory pruning), NOT as a post-scan Filter —
    otherwise the 'pruned' verify still reads every hs byte."""
    from adv_big_data_indexing_spark.streaming import statelog

    sigs_log = str(tmp_path / "sigs")
    rows = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        sc._dk(F.col("id")).alias("dk"),
        F.array(F.col("id"), F.col("id") + 1).alias("hs"),
    )
    statelog.append_delta(rows, sigs_log, 0)
    statelog.maybe_compact(
        spark,
        sigs_log,
        lambda: statelog.read_set_log(spark, sigs_log, sc._SIGS_SCHEMA),
        1,
        fanin=1,
        partition_by="dk",
        repartition=True,
    )
    assert statelog.delta_batches(sigs_log) == 0  # compacted

    pruned = statelog.read_set_log(spark, sigs_log, sc._SIGS_SCHEMA).filter(
        F.col("dk").isin([3, 7])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the dk predicate sits in PartitionFilters, and the scan lists
    # only the two pruned directories' worth of partitions
    pf_line = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "dk" in pf_line
    # and execution agrees with the unpruned read
    full = statelog.read_set_log(spark, sigs_log, sc._SIGS_SCHEMA)
    assert pruned.count() == full.filter(F.col("dk").isin([3, 7])).count() > 0


def test_marker_less_dk_less_sigs_dir_raises_not_stamped(spark, tmp_path):
    """ADVICE r12: the sigs probe must REQUIRE dk — a marker-less
    pre-r11 sigs dir holding only {doc_id, hs} would otherwise be
    stamped sigs_buckets=64, after which _SIGS_SCHEMA reads yield null
    dk and the isin bucket prune silently drops every stored sig."""
    from adv_big_data_indexing_spark.streaming import statelog

    log = str(tmp_path / "sigs_dkless")
    legacy = spark.createDataFrame(
        [(1, [10, 20])], "doc_id long, hs array<bigint>"
    )
    statelog.append_delta(legacy, log, 0)
    with pytest.raises(ValueError, match="layout mismatch"):
        statelog.verify_layout(
            log, "sigs_buckets=64", data_cols={"doc_id", "dk", "hs"}
        )
    # and the raise left no marker behind
    assert not os.path.exists(os.path.join(log, "_layout"))


def test_partition_path_segment_satisfies_data_cols(spark, tmp_path):
    """A dk=N hive path segment counts as the dk column being present:
    the sigs BASE stores dk in the directory name, not the footer, and
    the dk-required probe must still accept it (ADVICE r12 fix must not
    reject every legitimately-partitioned marker-less base)."""
    from adv_big_data_indexing_spark.streaming import statelog

    log = str(tmp_path / "sigs_hive")
    rows = spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        sc._dk(F.col("id")).alias("dk"),
        F.array(F.col("id")).alias("hs"),
    )
    # write a partitioned base directly (dk leaves the footer, enters
    # the path), then delete the marker compaction would have stamped
    statelog.append_delta(rows, log, 0)
    statelog.maybe_compact(
        spark,
        log,
        lambda: statelog.read_set_log(spark, log, sc._SIGS_SCHEMA),
        1,
        fanin=1,
        partition_by="dk",
        repartition=True,
    )
    marker = os.path.join(log, "_layout")
    if os.path.exists(marker):
        os.remove(marker)
    statelog.check_layout(
        log, "sigs_buckets=64", data_cols={"doc_id", "dk", "hs"}
    )  # must stamp, not raise
    assert open(marker, encoding="utf-8").read().strip() == "sigs_buckets=64"


def test_check_layouts_verifies_all_before_stamping_any(spark, tmp_path):
    """ADVICE r12: with a legacy bands dir next to a fresh sigs dir,
    the combined check must raise AND leave the sigs dir unstamped —
    the sequential form stamped sigs first, mislabeling a state the
    operator is about to rebuild."""
    from adv_big_data_indexing_spark.streaming import statelog

    state = str(tmp_path / "state_twophase")
    sigs_log = os.path.join(state, "sigs")
    bands_log = os.path.join(state, "bands")
    legacy_bands = spark.createDataFrame(
        [(1, 0, "123,456,789,0")], "doc_id long, band int, band_key string"
    )
    statelog.append_delta(legacy_bands, bands_log, 0)
    with pytest.raises(ValueError, match="layout mismatch"):
        statelog.check_layouts(
            [
                (sigs_log, "sigs_buckets=64", {"doc_id", "dk", "hs"}),
                (bands_log, "bands=bk64", {"doc_id", "band", "bk"}),
            ]
        )
    assert not os.path.exists(os.path.join(sigs_log, "_layout"))
    assert not os.path.exists(os.path.join(bands_log, "_layout"))


def test_mixed_layout_dir_raises_regardless_of_walk_order(spark, tmp_path):
    """ADVICE r12: a dir holding BOTH layouts (hand-migrated base,
    legacy deltas) must raise on the probe no matter which file os.walk
    yields first — the probe reads one footer from base/ and one from
    deltas/."""
    from adv_big_data_indexing_spark.streaming import statelog

    log = str(tmp_path / "bands_mixed")
    current = spark.createDataFrame(
        [(1, 0, 12345)], "doc_id long, band int, bk bigint"
    )
    legacy = spark.createDataFrame(
        [(2, 1, "9,8,7,6")], "doc_id long, band int, band_key string"
    )
    # current-layout base, legacy delta
    statelog.compact(spark, log, current, 0)
    statelog.append_delta(legacy, log, 1)
    with pytest.raises(ValueError, match="layout mismatch"):
        statelog.verify_layout(
            log, "bands=bk64", data_cols={"doc_id", "band", "bk"}
        )


def test_delta_appends_are_sorted_on_probe_keys(spark, tmp_path):
    """r13 (VERDICT r12 item 4): between compactions the probe reads
    base + accumulated deltas, and unsorted deltas were the intra-cycle
    batch-time climb — every sigs/bands DELTA file must now be
    internally sorted on the same keys the compacted base is."""
    import pyarrow.parquet as pq

    from adv_big_data_indexing_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    chunks = [
        docs.filter(F.col("doc_id") % 3 == k).repartition(4) for k in range(3)
    ]
    _pairs, state, _ck, _schema, _src = _stream_pairs(
        spark, tmp_path, chunks, "sorted_deltas"
    )
    checked = 0
    for log, keys in (("sigs", ("dk", "doc_id")), ("bands", ("band", "bk"))):
        dd = os.path.join(state, log, "deltas")
        for root, _dirs, files in os.walk(dd):
            for f in files:
                if not f.endswith(".parquet") or f.startswith(("_", ".")):
                    continue
                t = pq.read_table(os.path.join(root, f), columns=list(keys))
                rows = list(zip(*(t.column(c).to_pylist() for c in keys)))
                assert rows == sorted(rows), f"{log} delta {f} unsorted"
                checked += 1
    assert checked > 0  # non-vacuous: deltas existed and were checked
