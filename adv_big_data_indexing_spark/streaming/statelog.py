"""Streaming state tables: the package's one table commit, and the
append/compact log for data-sized state.

Commit. :func:`commit` writes a frame once, to a new directory
``<path>__v_<tag>``, and points the symlink ``path`` at it with one
``os.replace``; :func:`read` reads ``path`` if it exists. ``path``
therefore only ever names a version whose write returned: a crash
inside the write or before the swap leaves the previous version in
place, and the next commit removes the leftover. The frame may be
derived from ``path`` itself, because its input stays where it is
until the swap. Every rewritten streaming table goes through it: the
sketch folds' state tables, the CDC stores (``streaming/cdc.py``) and
the base of every log below.

Log layout, for state that rewriting per micro-batch would cost
Θ(state) (the survival frontier's max semantics, the corpus dedup
index's set semantics):

    <log_dir>/base               compacted table (a committed table)
    <log_dir>/deltas/batch=<id>/ one subdirectory per applied batch

Writes are Θ(batch): each micro-batch appends its delta under its own
``batch=<id>`` subdirectory at AQE's natural partitioning. The
compaction trigger counts delta batches (subdirectories), never part
files: a large batch legitimately produces many right-sized files, and
a file-count trigger would compact every such batch.

Crash windows, all idempotence-covered (callers' merges are max() or
distinct()): a replayed batch re-appends into its own subdirectory
(duplicate rows, invisible under the merge); a crash between the base
commit and the delta reset leaves absorbed deltas in the log, which
re-absorb invisibly on the next read or compaction.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def commit(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Make ``df`` the parquet table at ``path`` in one atomic step.

    ``df`` is written once, to ``<path>__v_<tag>``; then the symlink
    ``path`` is pointed at that directory by one ``os.replace``, and the
    other ``<path>__v_*`` (the version just replaced, and any a crash
    left behind) are removed. ``partition_by`` hive-partitions the table
    on one low-cardinality column, so readers filtering on it prune
    partitions. Each file holds what one partition of ``df`` holds: the
    caller shapes the frame it commits (``coalesce(1)``,
    ``sortWithinPartitions``, a rebalance hint).

    A plain directory at ``path`` (not a symlink) is not replaced:
    ``os.replace`` raises ``IsADirectoryError``."""
    version = f"{path}__v_{uuid.uuid4().hex[:8]}"
    w = df.write
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(version)
    link = f"{version}.link"
    os.symlink(os.path.basename(version), link)
    os.replace(link, path)
    for stale in glob.glob(glob.escape(path) + "__v_*"):
        if os.path.islink(stale):
            os.unlink(stale)  # a link whose swap a crash cut short
        elif stale != version:
            shutil.rmtree(stale, ignore_errors=True)


def read(spark, path: str) -> DataFrame | None:
    """The table at ``path``, or None when there is none. A table that
    exists but cannot be read raises, so a fold retries its batch
    instead of restarting from empty state."""
    if not os.path.lexists(path):
        return None
    return spark.read.parquet(path)


def _deltas_dir(log_dir: str) -> str:
    return os.path.join(log_dir, "deltas")


def check_layout(
    log_dir: str, expect: str, data_cols: frozenset[str] | set[str] | None = None
) -> None:
    """Stamp a log's layout contract into its state dir; fail loudly on
    mismatch. Stored rows can bake layout constants in (the dedup sigs
    log's dk = pmod(xxhash64(doc_id), SIGS_BUCKETS), the bands log's
    bk = xxhash64(band_key) encoding, the retention log's d-rows pruned
    at RETENTION_MAX_OFFSET), so resuming over a state dir written under
    different constants would produce wrong results with no error
    (mismatched bucket prunes drop verify candidates; a widened
    retention window reads pruned-away days as absent). The marker
    turns that into an immediate raise at fold time.

    A marker-less dir is stamped with the current contract on first
    touch only if it is empty or its data passes the ``data_cols``
    probe: when given, a marker-less dir that already holds parquet is
    checked driver-side for the expected column set, so a dir written
    under a renamed layout (necessarily marker-less) raises instead of
    being mislabeled with the current contract. The probe reads one
    footer from each of base/ and deltas/ (plus the first file elsewhere
    for non-log dirs), so a mixed-layout dir cannot pass or fail on
    traversal order; a column satisfied by a hive ``key=value`` path
    segment counts as present, so a partition-encoded column (the sigs
    base's dk) is still required of marker-less dirs. Constants that
    don't change the schema (a modulus, a window width) remain
    undetectable in marker-less dirs: the marker makes every future
    change loud. The '_'-prefixed name keeps the marker invisible to
    Spark's readers and to ``_visible_parquet_paths``."""
    verify_layout(log_dir, expect, data_cols)
    stamp_layout(log_dir, expect)


def check_layouts(
    specs: list[tuple[str, str, frozenset[str] | set[str] | None]],
) -> None:
    """Verify every spec's layout, then stamp: two phases, so a raise
    on any log leaves every other log unstamped too (a sequential form
    would stamp one log before another's check raises on a legacy dir,
    mislabeling a dir the operator is about to rebuild).
    Spec = (log_dir, expect, data_cols)."""
    for log_dir, expect, data_cols in specs:
        verify_layout(log_dir, expect, data_cols)
    for log_dir, expect, _ in specs:
        stamp_layout(log_dir, expect)


def _probe_files(log_dir: str) -> list[str]:
    """Bounded marker-less-dir probe set: the first visible parquet
    file under base/ and under deltas/ (a mixed-layout dir gets both
    sides checked instead of whichever os.walk hits first), falling
    back to the first visible file anywhere for dirs without the log's
    base/deltas shape."""
    files = []
    for sub in ("base", "deltas"):
        d = os.path.join(log_dir, sub)
        if os.path.isdir(d):
            first = next(_visible_parquet_paths(d), None)
            if first is not None:
                files.append(first)
    if not files:
        first = next(_visible_parquet_paths(log_dir), None)
        if first is not None:
            files.append(first)
    return files


def verify_layout(
    log_dir: str, expect: str, data_cols: frozenset[str] | set[str] | None = None
) -> None:
    """The verify phase of :func:`check_layout`: raises, never stamps."""
    marker = os.path.join(log_dir, "_layout")
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as f:
            stored = f.read().strip()
        if stored != expect:
            raise ValueError(
                f"statelog layout mismatch under {log_dir}: state dir was "
                f"written with '{stored}' but this build expects "
                f"'{expect}'. Stored rows bake that constant in — rebuild "
                "the state (or run the matching build) instead of "
                "resuming; resuming would silently produce wrong results."
            )
        return
    if data_cols is not None:
        import pyarrow.parquet as pq  # noqa: PLC0415

        for path in _probe_files(log_dir):
            have = set(pq.ParquetFile(path).schema_arrow.names)
            # hive partition keys live in the PATH, not the footer
            # (the sigs base's dk=N dirs) — count them as present
            rel = os.path.relpath(path, log_dir)
            for seg in rel.split(os.sep)[:-1]:
                if "=" in seg and not seg.startswith(("_", ".")):
                    have.add(seg.split("=", 1)[0])
            if not set(data_cols) <= have:
                raise ValueError(
                    f"statelog layout mismatch under {log_dir}: marker-less "
                    f"state file {rel} holds columns {sorted(have)} but "
                    f"this build expects {sorted(data_cols)} ('{expect}') "
                    "— a legacy layout; rebuild the state instead of "
                    "resuming."
                )


def stamp_layout(log_dir: str, expect: str) -> None:
    """The stamp phase of :func:`check_layout` (no-op if stamped).

    Atomic (tmp + rename): a kill -9 mid-write must not leave a
    truncated marker that would block the crash-recovery resume with a
    spurious mismatch."""
    os.makedirs(log_dir, exist_ok=True)
    marker = os.path.join(log_dir, "_layout")
    if os.path.exists(marker):
        return
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(expect)
    os.replace(tmp, marker)


def _visible_parquet_paths(root_dir: str):
    """Full paths of every parquet file Spark's reader would see,
    mirroring its hidden-path filter ('_'/'.'-prefixed dirs and files,
    e.g. a _temporary/ tree left by a crashed append): counting hidden
    files would build a parquet read over a directory Spark sees as
    empty, failing every later read and compaction with "unable to
    infer schema"."""
    for root, dirs, files in os.walk(root_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(root, f)


def log_rows(log_dir: str) -> int:
    """Total row count across the log (base + deltas) from parquet
    footers, driver-side, with no Spark job. The compaction emptiness
    guard reads this: an empty micro-batch still writes a zero-row,
    schema-carrying delta file, so file presence cannot distinguish an
    all-empty log, and committing a zero-row partitioned base writes a
    directory with no partition dirs whose schema no later read can
    infer. (A Spark-side isEmpty() would re-execute the whole merged
    aggregation, +5.6 s per compaction at sf10.)"""
    import pyarrow.parquet as pq  # noqa: PLC0415

    total = 0
    for sub in ("base", "deltas"):
        d = os.path.join(log_dir, sub)
        if os.path.isdir(d):
            for path in _visible_parquet_paths(d):
                total += pq.ParquetFile(path).metadata.num_rows
    return total


def append_delta(
    df: DataFrame,
    log_dir: str,
    batch_id: int,
    sort_within: tuple[str, ...] | None = None,
) -> None:
    """Θ(batch) append under the batch's own subdirectory.

    ``sort_within`` clusters the delta files on the same probe keys the
    compacted base is sorted on: between compactions every per-batch
    probe reads base + accumulated deltas, and unsorted deltas (plain-
    encoded key columns, useless row-group min/max) were what climbed
    batch time across a compaction cycle at a 10⁶-doc index (4.09 →
    6.50 s). sortWithinPartitions is batch-sized work with no exchange:
    the delta is written at the batch's own partitioning."""
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    df.write.mode("append").parquet(
        os.path.join(_deltas_dir(log_dir), f"batch={batch_id}")
    )


def delta_batches(log_dir: str) -> int:
    """Number of delta batches in the log (subdirectory count)."""
    dd = _deltas_dir(log_dir)
    if not os.path.isdir(dd):
        return 0
    return sum(1 for f in os.listdir(dd) if f.startswith("batch="))


def read_parts(spark, log_dir: str) -> list[DataFrame]:
    """[base?, deltas?] as raw frames (no merge applied — the caller
    owns the max()/distinct() semantics). Empty list = log absent."""
    parts = []
    base = read(spark, os.path.join(log_dir, "base"))
    if base is not None:
        parts.append(base.drop("batch_id"))
    dd = _deltas_dir(log_dir)

    has_files = os.path.isdir(dd) and any(_visible_parquet_paths(dd))
    if has_files:
        # recursiveFileLookup: batch=<id> stays a directory name, not a
        # partition column — delta schema is exactly what was appended
        parts.append(
            spark.read.option("recursiveFileLookup", "true").parquet(dd)
        )
    return parts


def compact(
    spark,
    log_dir: str,
    merged: DataFrame,
    batch_id: int,
    partition_by: str | None = None,
    sort_within: tuple[str, ...] | None = None,
) -> None:
    """Commit the caller-merged table as the new base (natural
    partitioning — the base is data-sized), then reset the delta log.
    Deltas are removed only after the base commit, so a crash in between
    re-absorbs them harmlessly. ``partition_by`` hive-partitions the
    base on one low-cardinality column; ``sort_within`` sorts the rows
    of each committed file on the given columns."""
    base = merged.withColumn("batch_id", F.lit(batch_id))
    if sort_within:
        base = base.sortWithinPartitions(*sort_within)
    commit(base, os.path.join(log_dir, "base"), partition_by)
    shutil.rmtree(_deltas_dir(log_dir), ignore_errors=True)


def maybe_compact(
    spark,
    log_dir: str,
    merged_fn,
    batch_id: int,
    fanin: int,
    partition_by: str | None = None,
    repartition: bool = False,
    sort_within: tuple[str, ...] | None = None,
) -> None:
    """Fold the delta batches into the base once ``fanin`` accumulate:
    the shared trigger for every log-structured twin. ``merged_fn`` is
    called only when compaction fires (building the merged frame costs
    plan time on every batch otherwise).

    The zero-row guard applies only to partitioned commits: a zero-row
    partitionBy write creates a directory with no partition dirs whose
    schema no later read can infer, while a zero-row unpartitioned
    commit writes valid schema-carrying parquet, and skipping it would
    let an empty log's delta subdirectories (and the driver-side footer
    walk that counts them) grow forever.

    Caller contract of the guard: it checks ``log_rows`` (base + deltas
    from parquet footers), not the merged frame, so ``merged_fn`` must
    return a non-empty frame whenever the log holds any rows. Every
    current merge satisfies this structurally (``distinct()`` and
    per-key ``max()`` both retain at least one row per input row's
    key); a merge that can filter every row away would commit a
    zero-row partitioned base past the guard. Such a merge must keep a
    frontier row per partition value or not use a partitioned base. The
    base commit stays the single commit point of a compaction: no
    check-and-rollback after it.

    ``repartition=True`` shuffles the merged frame onto the partition
    column first so the partitionBy write emits one file per bucket dir
    instead of shuffle_partitions × buckets small files — right for a
    many-bucket key (the sigs log's 64 dk buckets), wrong for a
    low-cardinality key like the funnel's kind (it would serialize the
    data-sized write into #kinds tasks).

    ``sort_within`` sorts rows inside each write task
    (``sortWithinPartitions``, no extra exchange) so the base's parquet
    files carry clustered values: sorted int64 key columns compress
    tightly and row-group min/max stats stay tight (the dedup index's
    probe-scanned bases, measured in BASELINE.md). Compaction-only cost;
    reads unchanged."""
    if delta_batches(log_dir) < fanin:
        return
    if partition_by is not None and log_rows(log_dir) == 0:
        return
    merged = merged_fn()
    if repartition and partition_by is not None:
        merged = merged.repartition(partition_by)
    compact(
        spark,
        log_dir,
        merged,
        batch_id,
        partition_by=partition_by,
        sort_within=sort_within,
    )


def read_set_log(spark, log_dir: str, schema: str) -> DataFrame:
    """base ∪ deltas with duplicate rows removed: the set the log
    denotes (distinct() as the merge). Returns an empty frame of
    ``schema`` when the log does not exist. The shared reader for every
    set-semantics log (the dedup index's sigs/bands/pairs, the funnel
    and retention twins' kind/val rows)."""
    parts = read_parts(spark, log_dir)
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()
