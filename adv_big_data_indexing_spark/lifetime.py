"""The lifetime of held frames: every persist in the package goes through
:func:`hold`, and every streaming fold starts through :func:`start_fold`.

A held frame lives until the end of the work that held it: the
session's next registered query build (``contract.query`` calls
:func:`release_held` first), or the end of the micro-batch for a fold
started with :func:`start_fold`. The module imports nothing of the
package, so the document path pays for no operator module to use it.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.storagelevel import StorageLevel

#: SparkSession -> [(held frame, lazy reliable checkpoint over it or None)]
_held: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def hold(df: DataFrame, level=StorageLevel.MEMORY_AND_DISK_DESER, checkpoint: bool = False) -> DataFrame:
    """Persist ``df`` at ``level`` until the work that holds it ends, and
    return the held frame — with ``checkpoint``, a lazy reliable
    checkpoint over it instead.

    Lifetime rule: a held frame lives until the end of the work that
    held it. For a query that is the start of the session's next query
    build: every registered build first calls :func:`release_held`
    (``contract.query``), so all branches of one build share the held
    frame's single execution, and a rebuild of the same query recomputes
    from its inputs instead of reading the previous build's cache (the
    CacheManager matches canonicalized plans across rebuilds and would
    otherwise pin the frame for the session's lifetime). A frame held
    outside any registered build lives until the session's next build.
    For a streaming fold it is the end of the micro-batch:
    :func:`start_fold` releases the batch's session (its own wrapper per
    batch) after the fold returns or raises.

    A lazy reliable checkpoint writes its files in a separate job after
    the caller's first action; the held frame makes that job read the
    computed rows instead of computing them again (a checkpoint planned
    before the persist would never read the cache, so ``hold`` makes it).

    One build at a time per session: a result executed after a later
    build of the same session has started recomputes its held frames —
    the same rows, only slower."""
    held = df.persist(level)
    barrier = held.checkpoint(eager=False) if checkpoint else None
    _held.setdefault(df.sparkSession, []).append((held, barrier))
    return held if barrier is None else barrier


def release_held(spark: SparkSession) -> None:
    """Unpersist every frame :func:`hold` recorded for ``spark``.

    A held checkpoint is first counted: Spark writes a lazy checkpoint
    after the first job that computes it, so after the count its files
    are written from the held rows, and dropping the cache can no longer
    let the writer recompute a nondeterministic lineage into files that
    differ from what the caller read. When the caller already acted, the
    count is one read of the checkpointed files; it is paid only by
    reliable-mode lazy checkpoints."""
    for held, barrier in _held.pop(spark, ()):
        if barrier is not None:
            try:
                barrier.count()
            except Exception:
                pass  # a failed count (deleted input, exhausted retries)
                #       must not skip the unpersist below
        try:
            held.unpersist()
        except Exception:
            pass  # the frame's session is stopped: nothing left to free


def start_fold(stream: DataFrame, fold, checkpoint_dir: str) -> StreamingQuery:
    """Start ``stream`` with ``fold(batch, batch_id)`` as its per-micro-
    batch sink, checkpointed in ``checkpoint_dir``, over the input
    available now.

    Every frame the fold holds (:func:`hold`) is released when its
    micro-batch ends, whether the fold returns or raises: each batch's
    ``sparkSession`` is its own wrapper, so the frames held under it are
    exactly that batch's."""

    def run(batch: DataFrame, batch_id: int) -> None:
        try:
            fold(batch, batch_id)
        finally:
            release_held(batch.sparkSession)

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
