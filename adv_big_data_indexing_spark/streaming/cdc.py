"""OP-A11/A12/2.H — the write-behind index pipeline, done right.

Reference architecture: writes land in Redis (authoritative), an index
request is published to RabbitMQ (sendMessage, src/utils/rabbitMq.ts:5-42,
message = {doc, type: insert|update}), a consumer drains the queue into
ES (receiveMessage, :92-115, manual-ack at-least-once + idempotent
upsert-by-_id), while the HTTP writer polls ES every 200 ms until
visible (OP-G7, apiLogicForCRUD.ts:17-58).

Spark-first replacement (SURVEY.md §3.1):
- the queue is a streaming source directory of JSON CDC records
  {key, op, seq, doc} (op ∈ insert|update|delete — delete via queue is
  the reference's unimplemented V2 requirement, README.md:118; shipped
  here),
- the consumer is ONE Structured Streaming job: readStream →
  foreachBatch MERGE into a parquet store of one row per key,
- exactly-once: checkpointed source offsets + an idempotent,
  deterministic merge (max-seq wins per key; replays converge),
- the 200 ms visibility poll disappears — micro-batch commit IS the
  visibility barrier (processAllAvailable ≈ awaiting the queue drain).

Both indexers keep each key's latest record, a delete as a tombstone
that ``read_store`` hides, and ignore a record older than the stored
one: a replay from before a delete does not bring the key back. Of an
update and a delete with equal seqs, the delete wins.

Document indexer (``run_document_indexer``): the search projection
(``refresh_reconstructed``) is the one document store, and a version
store of one ``apply_cdc_batch`` row per root holds the seqs. Each
micro-batch is deduped to its latest record per key, validated and
joined to the version store once, and held until the batch ends. A
record at least as new as its root replaces the root's document in the
projection (a delete drops it). Rejects not yet recorded are appended
to the rejects table after both stores are written (see
``_apply_documents``).

Scale: the batch dedup (row_number over key) keeps state out of the
streaming engine. Every store is written by ``statelog.commit``, a
symlink swapped onto a versioned directory by one ``os.replace``, so a
crash leaves a whole version. Each batch rewrites the whole store (a
Delta MERGE would rewrite only touched files); written frames are
rebalanced, so the file count follows the data size, not the number of
batches.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from adv_big_data_indexing_spark.lifetime import hold, start_fold
from adv_big_data_indexing_spark.streaming import statelog

CDC_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("op", T.StringType(), False),  # insert | update | delete
        T.StructField("seq", T.LongType(), False),  # monotone per key
        T.StructField("doc", T.StringType(), True),  # payload JSON (null for delete)
    ]
)


def enqueue(spark: SparkSession, queue_dir: str, records: list[dict]) -> None:
    """OP-A11 producer: append CDC records to the queue directory.

    One JSON-lines file per call ≈ one AMQP publish batch (sendESRequest,
    rabbitMq.ts:5-17), written from Python without a Spark job. It is
    written under a ``.``-prefixed name, which the file source skips, and
    renamed into place, so the stream never sees a partial file. Files
    are immutable-once-written, which is what makes the directory a valid
    replayable streaming source. ``spark`` is not used.
    """
    os.makedirs(queue_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.json"
    tmp = os.path.join(queue_dir, "." + name)
    with open(tmp, "w") as f:
        for r in records:
            rec = {"key": r["key"], "op": r["op"], "seq": r["seq"], "doc": r.get("doc")}
            f.write(json.dumps(rec) + "\n")
    os.replace(tmp, os.path.join(queue_dir, name))


def _versions(store_dir: str, batch: DataFrame) -> DataFrame:
    """Every row of the CDC store, tombstones included; on the first
    batch (no store yet) an empty frame of the batch's columns."""
    if os.path.lexists(store_dir):
        return batch.sparkSession.read.schema(CDC_SCHEMA).parquet(store_dir)
    return batch.limit(0)


def apply_cdc_batch(store_dir: str, batch: DataFrame, batch_id: int) -> None:
    """Idempotent MERGE of one micro-batch into the parquet CDC store.

    Replay-safe by construction: one max-seq dedup per key over the
    store ∪ the batch (the batch alone on the first batch), so applying
    the same batch twice is a no-op (the reference leans on ES
    upsert-by-_id for this, rabbitMq.ts:44-48). A delete stays as a
    tombstone row, so an older record replayed after it loses to it.
    """
    from adv_big_data_indexing_spark.operators.mutate import upsert_last_writer

    merged = upsert_last_writer(_versions(store_dir, batch), batch, "key", "seq")
    statelog.commit(merged.hint("rebalance"), store_dir)


def run_indexer(
    spark: SparkSession,
    queue_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """OP-A12 consumer: the streaming index-maintenance job."""
    return start_fold(
        _read_queue(spark, queue_dir),
        lambda b, i: apply_cdc_batch(store_dir, b, i),
        checkpoint_dir,
    )


def _read_queue(spark: SparkSession, queue_dir: str) -> DataFrame:
    """The CDC queue directory as a stream of at most 16 files a batch."""
    return (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .json(queue_dir)
    )


def drain(query: StreamingQuery, timeout_sec: int = 120) -> None:
    """OP-G7 analog: await queue visibility. The reference polls ES every
    200 ms (apiLogicForCRUD.ts:47-58); here commit == visibility, so
    waiting for the availableNow trigger to finish is the whole story."""
    query.awaitTermination(timeout_sec)


def read_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """The live rows of the CDC store (tombstones filtered out), read with
    its known schema: no inference job, and a damaged store fails the
    read instead of passing for an empty one."""
    return spark.read.schema(CDC_SCHEMA).parquet(store_dir).filter(F.col("op") != "delete")


# ---------------------------------------------------------------------------
# full document write path as one streaming job (SURVEY §3.1 "Spark shape")
# ---------------------------------------------------------------------------


def run_document_indexer(
    spark: SparkSession,
    queue_dir: str,
    versions_dir: str,
    rejects_dir: str,
    checkpoint_dir: str,
    schema: dict,
    reconstructed_dir: str,
) -> StreamingQuery:
    """POST /plan, end-to-end, streaming: each micro-batch of CDC records
    carrying raw plan JSON is validated against the registered schema
    (plans/json_schema_compiler), invalid docs are routed to a rejects
    table (the 400 path, with their violation list), and valid docs
    replace their root's document in the search projection at
    ``reconstructed_dir`` by seq, as the version store at
    ``versions_dir`` rules (see the module docstring) — replacing the
    reference's 10-step Redis→AMQP→poll→ES choreography
    (apiLogicForCRUD.ts:82-144) with one exactly-once pipeline.
    """
    def process(batch: DataFrame, batch_id: int) -> None:
        recorded = _recorded(batch.sparkSession, rejects_dir)
        staged = hold(_stage_documents(batch, _versions(versions_dir, batch), recorded, schema))
        _apply_documents(staged, batch_id, versions_dir, rejects_dir, reconstructed_dir)

    return start_fold(_read_queue(spark, queue_dir), process, checkpoint_dir)


_REJECT_KEY = "key string, seq bigint"


def _recorded(spark: SparkSession, rejects_dir: str) -> DataFrame:
    """The (key, seq) of every reject already in the rejects table."""
    if os.path.lexists(rejects_dir):
        return spark.read.schema(_REJECT_KEY).parquet(rejects_dir)
    return spark.createDataFrame([], _REJECT_KEY)


def _stage_documents(batch: DataFrame, versions: DataFrame, recorded: DataFrame, schema: dict) -> DataFrame:
    """The latest record per key of one batch, validated: ``kind`` is
    upsert, delete or reject; ``recorded`` is true for a reject already
    in the rejects table; ``applied`` says whether the record changes
    the stores: it is at least as new as the stored record of its root
    (tombstones included), and an equal-seq tie goes to a delete."""
    from adv_big_data_indexing_spark.operators.mutate import upsert_last_writer
    from adv_big_data_indexing_spark.plans.json_schema_compiler import validate

    latest = upsert_last_writer(batch.limit(0), batch, "key", "seq").select(
        "key", "op", "seq", F.col("doc").alias("raw")
    )
    stored = versions.select("key", F.col("seq").alias("stored_seq"), F.col("op").alias("stored_op"))
    kind = (
        F.when(F.col("op") == "delete", "delete")
        .when(F.col("is_valid"), "upsert")
        .otherwise("reject")
    )
    seen = recorded.select("key", "seq", F.lit("reject").alias("kind"), F.lit(True).alias("recorded"))
    staged = (
        validate(latest, schema)
        .join(stored, "key", "left")
        .withColumn("kind", kind)
        .join(seen, ["key", "seq", "kind"], "left")
    )
    seq, stored_seq = F.col("seq"), F.col("stored_seq")
    fresh = (
        stored_seq.isNull()
        | (seq > stored_seq)
        | ((seq == stored_seq) & ((F.col("kind") == "delete") | (F.col("stored_op") != "delete")))
    )
    return staged.withColumn("applied", (F.col("kind") != "reject") & fresh)


def _apply_documents(
    staged: DataFrame,
    batch_id: int,
    versions_dir: str,
    rejects_dir: str,
    reconstructed_dir: str,
) -> None:
    """Write one staged batch: refresh the projection of its applied
    roots, merge their seqs into the version store, then append its
    rejects not yet recorded (a retried or replayed batch appends none).

    The rejects go last because the append drops the cache of every held
    frame that reads the rejects table, ``staged`` among them. The
    version store is swapped before it, so from the swap on ``staged``
    is read from its cache only: the version it was derived from is
    gone. Were a cached block lost there, the batch would fail and be
    replayed, which every write here tolerates."""
    spark = staged.sparkSession
    new_reject = (F.col("kind") == "reject") & F.col("recorded").isNull()
    n = staged.agg(
        F.count_if(new_reject).alias("rejects"),
        F.count_if(F.col("applied") & (F.col("kind") == "upsert")).alias("upserts"),
        F.count_if(F.col("applied") & (F.col("kind") == "delete")).alias("deletes"),
    ).first()
    if n.upserts or n.deletes:
        applied = staged.filter(F.col("applied"))
        upserts = applied.filter(F.col("kind") == "upsert").select("doc.*")
        refresh_reconstructed(
            spark,
            reconstructed_dir,
            upserts if n.upserts else upserts.limit(0),
            applied.filter(F.col("kind") == "delete").select(F.col("key").alias("root_key")) if n.deletes else None,
        )
        apply_cdc_batch(
            versions_dir,
            applied.select("key", "op", "seq", F.lit(None).cast("string").alias("doc")),
            batch_id,
        )
    if n.rejects:
        rejects = staged.filter(new_reject).select("key", "seq", "violations", F.col("raw").alias("doc"))
        rejects.hint("rebalance").write.mode("append").parquet(rejects_dir)


def refresh_reconstructed(
    spark: SparkSession,
    reconstructed_dir: str,
    changed_docs: DataFrame,
    deleted_roots: DataFrame | None,
) -> None:
    """Incremental search-projection maintenance: upsert the reconstructed
    (nested, ETag-stamped) view for CHANGED documents only, drop deleted
    ones. The Spark analog of the reference's ES index being brought up
    to date per queue message — but set-oriented per micro-batch, and
    only touched documents are re-reconstructed, not the corpus.

    ``changed_docs`` holds plan documents (the compiled plan struct's
    columns), zero rows when none changed: its reconstruction's schema
    is the projection's, so the stored projection is read with a known
    schema and no inference job. ``deleted_roots`` holds a ``root_key``
    column, or is None when there are none.
    """
    from adv_big_data_indexing_spark.operators.reconstruct import reconstruct, with_etag
    from adv_big_data_indexing_spark.operators.shred import object_key, shred

    fresh = with_etag(reconstruct(shred(changed_docs)))
    merged = fresh
    if os.path.lexists(reconstructed_dir):
        ids = changed_docs.select(object_key(F.col("objectType"), F.col("objectId")).alias("id"))
        kept = spark.read.schema(fresh.schema).parquet(reconstructed_dir).join(ids, "id", "left_anti")
        if deleted_roots is not None:
            kept = kept.join(deleted_roots.select(F.col("root_key").alias("id")), "id", "left_anti")
        merged = kept.unionByName(fresh)
    statelog.commit(merged.hint("rebalance"), reconstructed_dir)
