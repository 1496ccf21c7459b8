"""Streaming corpus maintenance: incremental near-dup detection over a
document stream (SURVEY §2.H × the north-star dedup tier).

``ns_dedup_incremental`` (operators/dedup.py) is the batch shape of
"probe today's crawl against the existing corpus"; this module is the
streaming shape: an LSH band index maintained as APPEND-ONLY SET LOGS,
each arriving micro-batch probed against everything indexed so far,
and the accumulated verified pair set equal to the full-corpus
``ns_dedup_minhash_lsh`` result under ANY chunking of the same
documents (tests/test_streaming_corpus.py).

The state discipline (COVERAGE.md §2.H inventory): append-only SET
state with distinct-at-read — shared, since r10, with the funnel and
log-structured retention twins via ``statelog.read_set_log``.
Indexed facts (a doc's shingle-hash set, its band keys, a verified
pair) are immutable rows of a growing set, so every log supports the
survival frontier's LSM layout (Θ(batch) appends, bounded-fan-in
compaction) with an even weaker merge: duplicate rows from replays or
crash-retries are REMOVED BY ``distinct()`` at read time — set union
is idempotent, so no batch_id guard and no retraction machinery exist
anywhere in the pipeline.

Scale notes (the 100 TB story; the pruning levers shipped in r11,
the layout levers in r12 — VERDICT r10 item 3 / r11 item 4, measured
at a 10⁶-doc index in BASELINE.md):
- per-batch work is batch bands × colliding index entries + the
  verify joins, never a corpus re-pair;
- the band-log probe SEMI-PRUNES the index on the batch's own
  (band, bk) set via a broadcast semi join before any exchange — the
  index is scanned (two skinny columns) but never shuffled;
  bucket-PARTITIONING the bands base was considered and rejected by
  arithmetic: ~4 band keys per batch doc means any realistic batch
  hits every bucket, so partition pruning cannot bind there;
- the bands log stores bk = xxhash64(band_key) instead of the
  ~40-byte comma-joined minhash STRING (r12; the batch tier buckets
  on the same bk since r13 — dedup._banded emits it directly): equal
  strings hash equal, so no collision is ever lost, and a 2⁻⁶⁴
  cross-key collision only ADDS a candidate pair — which reaches the
  result only if it ALSO passes the exact-jaccard verify, so the pair
  set is a probabilistically-negligible superset of the string-keyed
  result (a colliding pair of genuinely-similar docs that never
  shared a true band would survive; odds ~2⁻⁶⁴ per key pair), not
  guaranteed-identical (ADVICE r12). The probe-scanned log shrinks
  ~4× per row; the layout is stamped (`_layout` marker) and
  mismatches fail loudly at fold time;
- compaction SORTS each base within write tasks (statelog
  ``sort_within``): sigs by (dk, doc_id), bands by (band, bk) — the
  sorted int64 columns delta-encode instead of PLAIN and row-group
  min/max tighten, shrinking the per-batch columnar scan that is the
  remaining index-sized term (r11 residual 3);
- the verify prunes the HEAVY sig log (full shingle-hash arrays) to
  candidate doc_ids: its base is hive-partitioned on
  dk = pmod(xxhash64(doc_id), SIGS_BUCKETS), the candidate ids'
  bucket set (a bounded ≤ SIGS_BUCKETS collect) prunes the scan to
  colliding buckets, and a broadcast semi join prunes rows within
  them — before r11 the whole sig log was scanned AND shuffled twice
  per batch. SIGS_BUCKETS is stamped into the log dir and a mismatch
  fails loudly (ADVICE r11) — stored dk values bake the modulus in,
  so a silent change would make the isin prune drop candidates;
- the candidate-id semi join broadcasts only below
  STREAM_BCAST_IDS_CAP ids (ADVICE r11): a degenerate band bucket can
  make the candidate set index-sized, and a forced broadcast there is
  driver memory pressure, not a plan win — past the cap the hint is
  dropped and AQE picks the join. The batch tier's opt-in
  ``spark.advbdi.maxLshBucket`` fail-fast is honored here too: when
  set, any colliding (band, bk) bucket above the ceiling RAISES with
  the offending key, same contract as dedup._lsh_pair_stats;
- bucket-degeneracy boundary: since the r9 route-never-drop change the
  batch tier expands EVERY bucket through the spill-safe self-join, so
  the streaming pair set equals the batch result at any bucket size;
  a degenerate (boilerplate) bucket costs its quadratic pair volume in
  both shapes, and the bucket audit is the signal to re-key it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.streaming import statelog
from adv_big_data_indexing_spark.streaming.events import start_fold

#: compact a set log's delta batches into its base once this many
#: accumulate (same knob shape as events.SURVIVAL_COMPACT_FANIN).
CORPUS_COMPACT_FANIN = 8

#: hive partitions of the sigs base on dk = pmod(xxhash64(doc_id), N) —
#: the statelog bucketing lever (VERDICT r10 item 3). The sigs log is
#: the HEAVY log (each row carries the doc's full shingle-hash array),
#: and the per-batch verify only ever needs the CANDIDATE docs' rows,
#: so the read side prunes the base scan to the candidate ids' buckets
#: (a bounded ≤ N-value isin → PartitionFilters). The bands log is NOT
#: bucket-partitioned: its probe touches ~4 band keys per batch DOC, so
#: any realistic batch hits every bucket and partition pruning cannot
#: bind there (measured — BASELINE.md r11); its growing term is killed
#: by the broadcast semi prune instead.
SIGS_BUCKETS = 64

#: broadcast the candidate-id semi-join side only below this many ids
#: (ADVICE r11): the candidate set is COLLISION-sized, not batch-sized —
#: under a degenerate band bucket it approaches index size, and an
#: explicit F.broadcast there forces collision-sized state through the
#: driver. Past the cap the hint is dropped (no raise — results are
#: identical either way) and AQE picks the join strategy. 2M bigint ids
#: ≈ tens of MB broadcast — comfortably inside executor budgets while
#: far above any non-degenerate batch's collision set.
STREAM_BCAST_IDS_CAP = 2_000_000

_PAIRS_SCHEMA = "doc_a bigint, doc_b bigint, n_inter bigint, jaccard double"
_SIGS_SCHEMA = "doc_id bigint, dk int, hs array<bigint>"
#: bk = xxhash64(band_key): the probe log stores the 8-byte hash of the
#: ~40-byte minhash-concat string (r12 layout lever; the batch tier
#: shares the encoding since r13). Equal keys hash equal → no collision
#: lost; a 2⁻⁶⁴ cross-key hash collision only adds a candidate pair,
#: kept only if it also passes the exact-jaccard verify (negligible
#: superset, not guaranteed-identical — ADVICE r12).
_BANDS_SCHEMA = "doc_id bigint, band int, bk bigint"


def _dk(col):
    """Sig-log bucket id for a doc_id column (stable, data-independent)."""
    return F.pmod(F.xxhash64(col), SIGS_BUCKETS).cast("int")


#: shared marker protocol (statelog.check_layout): stamp-or-verify the
#: constants baked into stored rows — dk's modulus, bk's encoding
_check_layout = statelog.check_layout


def _read_set_log(spark, log_dir: str, schema: str):
    """Shared set-log reader — see statelog.read_set_log."""
    return statelog.read_set_log(spark, log_dir, schema)


def _maybe_compact_set_log(
    spark,
    log_dir: str,
    schema: str,
    batch_id: int,
    fanin: int,
    partition_by: str | None = None,
    sort_within: tuple[str, ...] | None = None,
) -> None:
    """Fold the delta batches into the base once ``fanin`` accumulate —
    the survival log's protocol with distinct() in place of max().
    ``partition_by`` hive-partitions the compacted base (the sigs log's
    dk buckets, repartitioned onto dk so the write emits one file per
    bucket dir — BASELINE.md r11 compaction-spike fix); ``sort_within``
    clusters each base file on its probe keys so the int64 columns
    delta-encode (r12 layout lever). Trigger, the partitioned-commit
    zero-row guard, the repartition and the sort live in
    statelog.maybe_compact."""
    statelog.maybe_compact(
        spark,
        log_dir,
        lambda: _read_set_log(spark, log_dir, schema),
        batch_id,
        fanin,
        partition_by=partition_by,
        repartition=partition_by is not None,
        sort_within=sort_within,
    )


def run_streaming_dedup_index(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    compact_fanin: int = CORPUS_COMPACT_FANIN,
) -> "StreamingQuery":
    """Maintain the LSH near-dup index over a document stream and emit
    every verified duplicate pair exactly once (up to the distinct-at-
    read view): per micro-batch, shingle + minhash + band the arriving
    docs (the batch tier's own expressions — `_banded`, dedup.py), probe
    the new band rows against the indexed band log AND against each
    other, verify candidates on the carried shingle-hash sets, and
    append (new docs' signatures, band rows, qualifying pairs) to the
    three set logs. A pair is found in whichever batch completes it —
    arrival order and chunking do not matter, so the accumulated pair
    set equals the full-corpus batch operator on the same documents.
    """
    from pyspark import StorageLevel  # noqa: PLC0415

    from adv_big_data_indexing_spark.operators.advanced import hold
    from adv_big_data_indexing_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _banded,
        _with_jaccard,
        shingles_of,
    )

    sigs_log = os.path.join(state_dir, "sigs")
    bands_log = os.path.join(state_dir, "bands")
    pairs_log = os.path.join(state_dir, "pairs")

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # layout contracts stamped/verified before anything touches the
        # logs: stored dk/bk values bake these constants in. data_cols
        # catches a marker-less LEGACY dir (string band keys instead of
        # bk) via a driver-side footer probe before the stamp can
        # mislabel it. Verify-all-THEN-stamp-all, and the sigs probe
        # requires dk too (satisfied by either a footer column or a dk=
        # partition path segment), so a dk-less sigs dir raises instead
        # of being stamped before the bands check can object.
        statelog.check_layouts(
            [
                (
                    sigs_log,
                    f"sigs_buckets={SIGS_BUCKETS}",
                    {"doc_id", "dk", "hs"},
                ),
                (bands_log, "bands=bk64", {"doc_id", "band", "bk"}),
            ]
        )
        # reused by the probe join, both verify sides and both appends;
        # held, NOT localCheckpointed: reuse is all that is needed
        # (_banded is deterministic md5 arithmetic, so a cache-miss
        # recompute cannot diverge), and a held frame is released when
        # the micro-batch ends, however the fold exits (start_fold).
        # DISK_ONLY keeps the batch-sized blocks out of the storage pool,
        # where an unroll would starve the tasks producing them
        banded_new = hold(_banded(shingles_of(batch))[0], StorageLevel.DISK_ONLY)
        # array_sort: hs comes from collect_set, whose element ORDER is
        # nondeterministic — a replayed batch could otherwise append the
        # same doc's set in a different order, a row distinct() cannot
        # collapse, so the sigs log (and its compacted base) would grow
        # duplicate doc_id rows across replays. Sorting makes replays
        # byte-identical; every consumer is set-invariant.
        sig_new = banded_new.filter(F.col("band") == 0).select(
            "doc_id", _dk(F.col("doc_id")).alias("dk"), F.array_sort("hs").alias("hs")
        )
        # bk64 layout (r12): the log stores the 8-byte hash of the
        # band-key string — see _BANDS_SCHEMA. Since r13 _banded emits
        # bk itself (same xxhash64 over the same string, so stored
        # indexes keep colliding with fresh probes byte-for-byte).
        bands_new = banded_new.select("doc_id", "band", "bk")

        # probe prune (VERDICT r10 item 3): the indexed band log grows
        # with the corpus, and joining it raw would SHUFFLE the whole
        # index every micro-batch — the growing term the r10 sf10 probe
        # saw (~1.3× batch time per 10× index). A broadcast semi join on
        # the batch's own (band, bk) set prunes the index to exactly the
        # colliding rows BEFORE any exchange: the index is scanned
        # (columnar, two skinny int64 columns reach the filter) but
        # never shuffled, and the per-batch exchange volume drops from
        # Θ(index) to Θ(collisions).
        batch_keys = bands_new.select("band", "bk").distinct()
        prev_bands = _read_set_log(spark, bands_log, _BANDS_SCHEMA).join(
            F.broadcast(batch_keys), ["band", "bk"], "left_semi"
        )

        # opt-in bucket-degeneracy ceiling: honor the batch
        # tier's spark.advbdi.maxLshBucket on the streaming probe view —
        # any colliding (band, bk) bucket above the ceiling RAISES with
        # the offending key (never a silent drop), the same
        # window-count + assert_true contract as dedup._lsh_pair_stats
        # (operators/dedup.py — the two sites differ only in key column
        # and the replay dedup below; evolve them together). Read at
        # BUILD time like the batch tier; unset/0 (default) leaves the
        # probe plan untouched. Bucket size counts DISTINCT doc_ids: a
        # re-delivered doc (crash replay, duplicate ingest) appears in
        # BOTH bands_new and the indexed log, and a raw row count would
        # double-count it — spuriously tripping the ceiling on every
        # restart and wedging a stream the batch tier would pass.
        ceiling = int(spark.conf.get("spark.advbdi.maxLshBucket", "0") or "0")
        if ceiling > 0:
            bsz = (
                bands_new.unionByName(prev_bands)
                .dropDuplicates(["band", "bk", "doc_id"])
                .groupBy("band", "bk")
                .agg(F.count(F.lit(1)).alias("bsz"))
            )
            msg = F.concat(
                F.lit(
                    "streaming LSH bucket exceeds spark.advbdi.maxLshBucket="
                    f"{ceiling}: band="
                ),
                F.col("band").cast("string"),
                F.lit(" bk="),
                F.col("bk").cast("string"),
                F.lit(" size="),
                F.col("bsz").cast("string"),
                F.lit(
                    " — a band key this hot has stopped discriminating "
                    "(boilerplate cluster?); re-key or pre-filter it, or "
                    "raise/unset the ceiling to pay its quadratic pairs"
                ),
            )
            guard = bsz.where(
                F.assert_true(F.col("bsz") <= F.lit(ceiling), msg).isNull()
            ).select("band", "bk")
            # inner join on the guarded key set: every surviving key
            # passed the assert, and the join forces the assert into
            # the executed probe plan (collision-sized exchange on the
            # keys the probe exchanges on anyway; opt-in only)
            probe_new = bands_new.join(guard, ["band", "bk"])
            probe_prev = prev_bands.join(guard, ["band", "bk"])
        else:
            probe_new, probe_prev = bands_new, prev_bands

        def id_pairs(left, right, strict_lt):
            id_cond = (
                F.col("n.doc_id") < F.col("e.doc_id")
                if strict_lt
                else F.col("n.doc_id") != F.col("e.doc_id")
            )
            return (
                left.alias("n")
                .join(
                    right.alias("e"),
                    (F.col("n.band") == F.col("e.band"))
                    & (F.col("n.bk") == F.col("e.bk"))
                    & id_cond,
                )
                .select(
                    F.least("n.doc_id", "e.doc_id").alias("doc_a"),
                    F.greatest("n.doc_id", "e.doc_id").alias("doc_b"),
                )
            )

        # reused by the bucket collect, both verify sides (via cand_ids)
        # and the stats join — held, same rationale as banded_new above
        cand = hold(
            id_pairs(probe_new, probe_prev, strict_lt=False)
            .unionByName(id_pairs(probe_new, probe_new, strict_lt=True))
            .distinct(),
            StorageLevel.DISK_ONLY,
        )
        cand_ids = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        # verify prune: the sigs log carries each doc's FULL shingle-hash
        # array — the heavy log — and the verify only ever reads the
        # CANDIDATE docs' rows. Its base is hive-partitioned on dk
        # (SIGS_BUCKETS above), so the candidate ids' bucket set — a
        # BOUNDED collect, ≤ SIGS_BUCKETS rows by construction (the
        # groupBy also yields the candidate-id COUNT for the broadcast
        # decision below, one job for both) — prunes the base scan to
        # the colliding buckets (PartitionFilters), and a semi join
        # prunes rows within them. Before r11 the whole hs-carrying log
        # was scanned AND shuffled (dropDuplicates) twice per batch —
        # the dominant index-sized term at a 10⁶-doc index.
        bk_rows = (
            cand_ids.groupBy(_dk(F.col("doc_id")).alias("dk"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        cand_bks = [r["dk"] for r in bk_rows]
        n_cand = sum(r["n"] for r in bk_rows)
        if cand_bks:
            prev_sigs = _read_set_log(spark, sigs_log, _SIGS_SCHEMA).filter(
                F.col("dk").isin(cand_bks)
            )
            # broadcast the candidate ids only while they are genuinely
            # small: under a degenerate bucket the set is
            # collision-sized, and forcing a broadcast there is driver
            # memory pressure — drop the hint and let AQE pick the join.
            sem_ids = (
                F.broadcast(cand_ids)
                if n_cand <= STREAM_BCAST_IDS_CAP
                else cand_ids
            )
            all_sigs = (
                prev_sigs.unionByName(sig_new)
                .join(sem_ids, "doc_id", "left_semi")
                .dropDuplicates(["doc_id"])  # replayed sigs: same SET, any order
                .drop("dk")
            )
            a = all_sigs.select(
                F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")
            )
            b = all_sigs.select(
                F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")
            )
            stats = (
                cand.join(a, "doc_a")
                .join(b, "doc_b")
                .select(
                    "doc_a",
                    "doc_b",
                    F.size(F.array_intersect("hs_a", "hs_b"))
                    .cast("bigint")
                    .alias("n_inter"),
                    F.size("hs_a").cast("bigint").alias("n_a"),
                    F.size("hs_b").cast("bigint").alias("n_b"),
                )
            )
            pairs = (
                _with_jaccard(stats)
                .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
                .distinct()
            )
        else:  # no collisions at all: nothing to verify
            pairs = spark.createDataFrame([], _PAIRS_SCHEMA)

        # deltas sorted on the same probe keys as the compacted base
        # (r13): between compactions the probe reads base + deltas, and
        # unsorted deltas were the intra-cycle batch-time climb
        # (4.09 → 6.50 s at the 10⁶-doc index — VERDICT r12 residual 2).
        statelog.append_delta(pairs, pairs_log, batch_id)
        statelog.append_delta(
            sig_new, sigs_log, batch_id, sort_within=("dk", "doc_id")
        )
        statelog.append_delta(
            bands_new, bands_log, batch_id, sort_within=("band", "bk")
        )
        # sort_within (r12 layout lever): cluster each base file on its
        # probe keys at compaction — sigs by (dk, doc_id) inside the dk
        # partition dirs, bands by (band, bk) — so the sorted int64
        # columns delta-encode and the per-batch probe scan shrinks
        # (BASELINE.md r12 before/after).
        for log_dir, schema, part, sortw in (
            (pairs_log, _PAIRS_SCHEMA, None, None),
            (sigs_log, _SIGS_SCHEMA, "dk", ("dk", "doc_id")),
            (bands_log, _BANDS_SCHEMA, None, ("band", "bk")),
        ):
            _maybe_compact_set_log(
                spark,
                log_dir,
                schema,
                batch_id,
                compact_fanin,
                partition_by=part,
                sort_within=sortw,
            )

    return start_fold(docs, fold, checkpoint_dir)


def streaming_dedup_pairs(spark, state_dir: str) -> DataFrame:
    """Every verified near-dup pair the index has ever emitted —
    matches ``ns_dedup_minhash_lsh`` on the documents streamed so far
    (column-for-column: doc_a, doc_b, n_inter, jaccard)."""
    return _read_set_log(spark, os.path.join(state_dir, "pairs"), _PAIRS_SCHEMA)
