"""Tiered LSH bucket expansion (VERDICT r5 item 5; r9 route-never-drop):
hot buckets must take the row-per-member self-join path (no single
collect_list row), and degenerate buckets must ROUTE through that same
spill-safe tier — a drop cap would silently lose exactly the
adversarial clique's pairs (the class the r9 simhash fix removed)."""

from __future__ import annotations

from pyspark.sql import functions as F

from adv_big_data_indexing_spark.operators.dedup import (
    BUCKET_INROW_CAP,
    BUCKET_PAIR_CAP,
    _lsh_pair_stats,
)


def _synthetic_sh(spark, n_hot: int, n_small: int = 4):
    """A corpus with one hot cluster (n_hot docs sharing one shingle set —
    they collide in every band) plus n_small pairwise-similar docs."""
    rows = []
    for d in range(n_hot):
        for s in ("alpha beta gamma", "beta gamma delta", "gamma delta eps"):
            rows.append((d, s))
    for d in range(n_hot, n_hot + n_small):
        # unique shingles per doc → singleton buckets
        rows.append((d, f"unique shingle {d}"))
    return spark.createDataFrame(rows, "doc_id: long, sh: string")


def _pairset(df):
    return {
        (r.doc_a, r.doc_b, r.n_inter, r.n_a, r.n_b)
        for r in df.select("doc_a", "doc_b", "n_inter", "n_a", "n_b")
        .distinct()
        .collect()
    }


def test_hot_bucket_self_join_path_matches_inrow_path(spark):
    """With the in-row cap forced below the hot-cluster size, the
    self-join overflow tier must produce EXACTLY the pair stats the
    in-row tier produces with default caps."""
    sh = _synthetic_sh(spark, n_hot=10)
    default = _pairset(_lsh_pair_stats(sh))
    forced_hot = _pairset(_lsh_pair_stats(sh, inrow_cap=4))
    assert default == forced_hot
    assert len(default) == 45  # C(10,2): the hot cluster, fully paired


def test_degenerate_bucket_routed_never_dropped(spark):
    """A bucket far above the in-row cap (the degenerate/clique shape)
    still pairs FULLY through the self-join tier — no size drops the
    cluster's pairs (r9; formerly a pair_cap excluded it silently)."""
    sh = _synthetic_sh(spark, n_hot=12)
    routed = _pairset(_lsh_pair_stats(sh, inrow_cap=4))
    assert len(routed) == 66  # C(12,2): the clique, fully paired


def test_max_lsh_bucket_ceiling_raises_never_drops(spark):
    """ADVICE r10 / VERDICT r10 item 6: spark.advbdi.maxLshBucket is a
    LOUD fail-fast on bucket degeneracy — buckets beyond it raise with
    the OFFENDING BAND KEY in the message (so the operator can re-key
    exactly that cluster) instead of silently dropping pairs; unset/0
    must be BIT-IDENTICAL to never having set the conf."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    sh = _synthetic_sh(spark, n_hot=12)
    baseline = _pairset(_lsh_pair_stats(sh))  # conf never set
    assert len(baseline) == 66
    try:
        spark.conf.set("spark.advbdi.maxLshBucket", "8")
        with pytest.raises(SparkRuntimeException, match="maxLshBucket") as ei:
            _lsh_pair_stats(sh).collect()
        # the message names the offending bucket: band index, band key,
        # and the size that tripped the ceiling
        msg = str(ei.value)
        assert "band=" in msg and "bk=" in msg and "size=12" in msg
        # at/below the ceiling and at 0: bit-identical to the baseline
        spark.conf.set("spark.advbdi.maxLshBucket", "12")
        assert _pairset(_lsh_pair_stats(sh)) == baseline
        spark.conf.set("spark.advbdi.maxLshBucket", "0")
        assert _pairset(_lsh_pair_stats(sh)) == baseline
    finally:
        spark.conf.unset("spark.advbdi.maxLshBucket")
    assert _pairset(_lsh_pair_stats(sh)) == baseline  # unset again


def test_audit_reports_degenerate_bucket_pairs(spark):
    """The bucket audit must account for every bucket and price the
    pair volume each size tier contributes — the top ('dropped'-labeled,
    historical name) tier's buckets ROUTE through the self-join since
    r9, so its n_pairs is what a degenerate cluster COSTS, the signal
    to re-key it."""
    from adv_big_data_indexing_spark.functions.text import base_hash48  # noqa: F401
    from adv_big_data_indexing_spark.operators import dedup as D

    sh = _synthetic_sh(spark, n_hot=12, n_small=3)
    bands, _ = D._banded(sh)
    sizes = bands.groupBy("band", "bk").agg(
        F.count("*").cast("bigint").alias("bsz")
    )
    tier = (
        F.when(F.col("bsz") == 1, "singleton")
        .when(F.col("bsz") <= 4, "inrow")
        .when(F.col("bsz") <= 8, "overflow")
        .otherwise("dropped")
    )
    audit = {
        r.tier: r
        for r in sizes.groupBy(tier.alias("tier"))
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum(F.expr("bsz * (bsz - 1) DIV 2")).cast("bigint").alias("n_pairs"),
        )
        .collect()
    }
    # the hot cluster: 12 docs colliding in all 4 bands → 4 top-tier
    # buckets, each contributing C(12,2)=66 band-pairs
    assert audit["dropped"].n_buckets == 4
    assert audit["dropped"].n_pairs == 4 * 66
    # the 3 unique docs: 4 bands × 3 singleton buckets
    assert audit["singleton"].n_buckets == 12


def test_default_caps_sane():
    assert 1 < BUCKET_INROW_CAP < BUCKET_PAIR_CAP


def test_simhash_degenerate_bucket_routes_not_drops(spark, tmp_path, monkeypatch):
    """r9 advisory (medium): ns_dedup_simhash must NOT silently drop
    chunk buckets above any size cap — the motivating sf10 case is a
    ~4800-doc clique that EXCEEDS the old BUCKET_PAIR_CAP, so a drop cap
    loses exactly the pairs the r8 tiering fix targeted. Degenerate
    buckets route through the spill-safe equi self-join (exact, no cap);
    with the caps forced tiny, a 12-doc identical clique must still
    produce all C(12,2) hamming-0 pairs."""
    from adv_big_data_indexing_spark.contract import registry
    from adv_big_data_indexing_spark.operators import dedup as D

    monkeypatch.setattr(D, "BUCKET_INROW_CAP", 4)
    monkeypatch.setattr(D, "BUCKET_PAIR_CAP", 8)

    rows = [(d, "lorem ipsum dolor sit amet consectetur", "en", "web", 38)
            for d in range(12)]
    rows += [(100 + d, f"solitary document number {d} with unique words {d}",
              "en", "web", 40) for d in range(3)]
    spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = registry()["ns_dedup_simhash"].fn(spark, str(tmp_path)).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert len(pairs) == 66  # C(12,2) — nothing dropped
    assert all(r.hamming == 0 for r in out)
    assert all(a < 12 and b < 12 for a, b in pairs)


def test_table_rows_counts_nested_parquet_layout(spark, tmp_path):
    """ADVICE r8: routing decisions (exact-vs-LSH pair source, brute-vs-
    ANN dense arm) read table_rows from parquet footers; a partition-
    structured layout must count fully, not just top-level files —
    an undercount routes the quadratic exact paths at scale."""
    from adv_big_data_indexing_spark.sources.catalog import table_rows

    df = spark.range(100).withColumn("k", F.col("id") % 4)
    df.write.partitionBy("k").mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    assert table_rows(str(tmp_path), "documents") == 100


def test_rect_cosine_blocks_match_whole_matrix(monkeypatch):
    """r9 find #7: the exact embedding ops' per-batch (batch × candidates)
    matmul must be blocked — the whole-batch matrices were ~10 GB/task at
    sf10. Blocked blocks (forced to one row) must reproduce the
    whole-matrix cosines exactly."""
    import numpy as np

    from adv_big_data_indexing_spark.operators import dedup as D

    monkeypatch.setattr(D, "_RECT_BLOCK_ELEMS", 8)  # blk=1 at n_b=8
    rng = np.random.RandomState(3)
    a = rng.randint(-(10**6), 10**6, size=(5, 16)).astype(np.int64)
    b = rng.randint(-(10**6), 10**6, size=(8, 16)).astype(np.int64)
    a_sqrt = np.sqrt((a * a).sum(axis=1).astype(np.float64))
    b_sqrt = np.sqrt((b * b).sum(axis=1).astype(np.float64))
    whole = ((a @ b.T).astype(np.float64) / a_sqrt[:, None]) / b_sqrt[None, :]
    got = np.full_like(whole, np.nan)
    spans = []
    for i0, i1, cos in D._cosine_blocks_vs_broadcast(a, a_sqrt, b, b_sqrt):
        got[i0:i1] = cos
        spans.append((i0, i1))
    assert spans == [(i, i + 1) for i in range(5)]  # truly multi-block
    assert (got == whole).all()  # bit-identical, not approx

    # int64 fallback window: dim·max² in [2^53, 2^63) — float64 BLAS
    # stops being exact, int64 doesn't wrap yet; must still match the
    # int64 whole-matrix form bit-for-bit
    ab, bb = a * (1 << 9), b * (1 << 9)
    assert 2.0**53 <= 16 * float(np.abs(np.vstack([ab, bb])).max()) ** 2 < 2.0**63
    as_, bs_ = (
        np.sqrt((ab * ab).sum(axis=1).astype(np.float64)),
        np.sqrt((bb * bb).sum(axis=1).astype(np.float64)),
    )
    whole_b = ((ab @ bb.T).astype(np.float64) / as_[:, None]) / bs_[None, :]
    got_b = np.vstack(
        [cos for _i0, _i1, cos in D._cosine_blocks_vs_broadcast(ab, as_, bb, bs_)]
    )
    assert (got_b == whole_b).all()


def test_pair_recall_slices_above_cap(spark, tmp_path, monkeypatch):
    """r9 sf10 sweep find: the recall contract's ground-truth side is the
    exact jaccard self-join, so above MAX_EXACT_JACCARD_DOCS it must
    measure on the deterministic 1-in-m doc slice instead of spilling
    quadratically (ENOSPC at sf10). With the cap forced below the corpus
    size, the result must equal running the contract directly on the
    sliced corpus."""
    from adv_big_data_indexing_spark.contract import registry
    from adv_big_data_indexing_spark.operators import dedup as D

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick brown fox jumps over the lazy dog again and again today",
        "completely different content about parquet shuffle partitions",
        "completely different content about parquet shuffle partition sizing",
    ]
    rows = [
        (i, texts[i % 4] + (" extra" if i >= 12 else ""), "en", "web", 60)
        for i in range(20)
    ]
    all_dir, even_dir = str(tmp_path / "all"), str(tmp_path / "even")
    mk = lambda rs, d: spark.createDataFrame(  # noqa: E731
        rs, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    mk(rows, all_dir)
    mk([r for r in rows if r[0] % 2 == 0], even_dir)

    fn = registry()["ns_dedup_lsh_pair_recall"].fn
    expected = fn(spark, even_dir).collect()[0]  # m=1 on the slice itself
    monkeypatch.setattr(D, "MAX_EXACT_JACCARD_DOCS", 10)  # 20 docs -> m=2
    sliced = fn(spark, all_dir).collect()[0]
    assert (sliced.n_exact, sliced.n_hit, sliced.recall) == (
        expected.n_exact, expected.n_hit, expected.recall,
    )
    assert sliced.n_exact > 0  # non-vacuous: the slice still has dups


def test_lsh_persist_drained_on_next_build(spark):
    """The sized band rows are held DISK_ONLY, one frame per pipeline
    build, and released when the session's next build starts
    (release_held, the first step of every registered query build): the
    CacheManager would otherwise pin the frame for the session lifetime,
    and a rebuild of the same plan would read the previous build's cache
    instead of recomputing."""
    from pyspark.storagelevel import StorageLevel

    from adv_big_data_indexing_spark import lifetime

    lifetime.release_held(spark)
    rows_read = spark.sparkContext.accumulator(0)

    def tag(doc_id):
        rows_read.add(1)
        return doc_id

    sh = _synthetic_sh(spark, n_hot=6).withColumn("doc_id", F.udf(tag, "long")("doc_id"))
    first = _pairset(_lsh_pair_stats(sh))
    ((held, barrier),) = lifetime._held[spark]
    assert barrier is None
    assert held.storageLevel == StorageLevel.DISK_ONLY
    once = rows_read.value
    assert once > 0

    lifetime.release_held(spark)
    assert spark not in lifetime._held
    assert held.storageLevel == StorageLevel.NONE
    # the rebuild computes the band rows from the input again
    assert _pairset(_lsh_pair_stats(sh)) == first
    assert rows_read.value == 2 * once
    lifetime.release_held(spark)


def test_lsh_hold_released_by_non_lsh_build(spark):
    """Any next registered build releases the LSH frame, not only the
    next LSH build: it is not left pinned on disk through later queries."""
    from pyspark.storagelevel import StorageLevel

    from adv_big_data_indexing_spark.contract import registry
    from adv_big_data_indexing_spark import lifetime
    from tests.conftest import SF_CORRECTNESS

    reg = registry()
    reg["ns_dedup_minhash_lsh"].fn(spark, SF_CORRECTNESS)
    ((lsh, _),) = lifetime._held[spark]
    assert lsh.storageLevel == StorageLevel.DISK_ONLY
    reg["ns_dedup_exact"].fn(spark, SF_CORRECTNESS)
    assert lsh.storageLevel == StorageLevel.NONE
    assert spark not in lifetime._held


def test_build_in_another_session_keeps_held_frames(spark):
    """Held frames are per session: a build in a second session over the
    same context releases only that session's frames."""
    from pyspark.storagelevel import StorageLevel

    from adv_big_data_indexing_spark.contract import registry
    from adv_big_data_indexing_spark import lifetime
    from tests.conftest import SF_CORRECTNESS

    reg = registry()
    other = spark.newSession()
    reg["ns_dedup_minhash_lsh"].fn(spark, SF_CORRECTNESS)
    ((lsh, _),) = lifetime._held[spark]
    try:
        reg["ns_minhash_jaccard_estimate"].fn(other, SF_CORRECTNESS)
        assert len(lifetime._held[other]) == 1
        assert lsh.storageLevel == StorageLevel.DISK_ONLY
    finally:
        lifetime.release_held(other)
        lifetime.release_held(spark)
    assert lsh.storageLevel == StorageLevel.NONE
