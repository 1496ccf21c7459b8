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
  foreachBatch MERGE into the parquet entity store,
- exactly-once: checkpointed source offsets + an idempotent,
  deterministic merge (max-seq wins per key; replays converge),
- the 200 ms visibility poll disappears — micro-batch commit IS the
  visibility barrier (processAllAvailable ≈ awaiting the queue drain).

Document indexer (``run_document_indexer``): each micro-batch is deduped
to its latest record per key, validated and joined to the seq the entity
store holds for that key, once; the result is held until the batch
ends and every write reads it. The merge replaces documents by root: a
batch record (upsert or delete) is applied when its seq is at least the
stored seq of its root, and then all stored fragments of that root go
and the record's fragments (none for a delete) come in; a record older
than the stored root changes nothing, in the entity store or the
search projection. Deletes leave no tombstone: once a root is deleted,
a record for it with an older seq (a replay from before the delete)
inserts it again.

Scale: the batch dedup (row_number over key) keeps state out of the
streaming engine, so no state-store growth. Each batch reads and
rewrites the whole store (a Delta MERGE would rewrite only touched
files); written frames are rebalanced, so the file count follows the
data size, not the number of batches.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from adv_big_data_indexing_spark.lifetime import hold, start_fold

CDC_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("op", T.StringType(), False),  # insert | update | delete
        T.StructField("seq", T.LongType(), False),  # monotone per key
        T.StructField("doc", T.StringType(), True),  # payload JSON (null for delete)
    ]
)

#: the document indexer's entity store: shred's entities, tagged with the
#: CDC key and seq of their root document. Reads pass it, which spares the
#: footer-reading job of schema inference.
ENTITIES_SCHEMA = "id string, root_key string, seq bigint, object_type string, payload string"


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


def _replace_dir(df: DataFrame, path: str) -> None:
    """Write ``df`` as the parquet dataset at ``path``: parquet has no
    transactional MERGE, so write a staging dir next to it and swap it in
    by rename (a Delta MERGE on a real deployment)."""
    tag = uuid.uuid4().hex[:8]
    stage, old = f"{path}__stage_{tag}", f"{path}__old_{tag}"
    df.write.mode("overwrite").parquet(stage)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old, ignore_errors=True)


def apply_cdc_batch(store_dir: str, batch: DataFrame, batch_id: int) -> None:
    """Idempotent MERGE of one micro-batch into the parquet entity store.

    Replay-safe by construction: one max-seq dedup per key over the
    store ∪ the batch (the batch alone on the first batch), so applying
    the same batch twice is a no-op (the reference leans on ES
    upsert-by-_id for this, rabbitMq.ts:44-48).
    """
    from adv_big_data_indexing_spark.operators.mutate import upsert_last_writer

    store = (
        read_store(batch.sparkSession, store_dir)
        if os.path.exists(store_dir)  # not the first batch
        else batch.limit(0)
    )
    merged = upsert_last_writer(store, batch, "key", "seq")
    _replace_dir(merged.filter(F.col("op") != "delete"), store_dir)


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
    """The CDC store, read with its known schema: no inference job, and a
    damaged store fails the read instead of passing for an empty one."""
    return spark.read.schema(CDC_SCHEMA).parquet(store_dir)


# ---------------------------------------------------------------------------
# full document write path as one streaming job (SURVEY §3.1 "Spark shape")
# ---------------------------------------------------------------------------


def run_document_indexer(
    spark: SparkSession,
    queue_dir: str,
    entities_dir: str,
    rejects_dir: str,
    checkpoint_dir: str,
    schema: dict,
    reconstructed_dir: str | None = None,
) -> StreamingQuery:
    """POST /plan, end-to-end, streaming: each micro-batch of CDC records
    carrying raw plan JSON is validated against the registered schema
    (plans/json_schema_compiler), invalid docs are routed to a rejects
    table (the 400 path, with their violation list), valid docs are
    shredded (operators/shred) and replace their root's fragments in the
    entity store by seq (see the module docstring) — replacing the
    reference's 10-step Redis→AMQP→poll→ES choreography
    (apiLogicForCRUD.ts:82-144) with one exactly-once pipeline.
    """
    def process(batch: DataFrame, batch_id: int) -> None:
        store = None
        if os.path.exists(entities_dir):
            store = batch.sparkSession.read.schema(ENTITIES_SCHEMA).parquet(entities_dir)
        staged = hold(_stage_documents(batch, store, schema))
        _apply_documents(staged, store, entities_dir, rejects_dir, reconstructed_dir)

    return start_fold(_read_queue(spark, queue_dir), process, checkpoint_dir)


def _stage_documents(batch: DataFrame, store: DataFrame | None, schema: dict) -> DataFrame:
    """The latest record per key of one batch, validated: ``kind`` is
    upsert, delete or reject; ``applied`` says whether the record is new
    enough (seq at least the stored seq of its root) to change the stores."""
    from adv_big_data_indexing_spark.operators.mutate import upsert_last_writer
    from adv_big_data_indexing_spark.plans.json_schema_compiler import validate

    latest = upsert_last_writer(batch.limit(0), batch, "key", "seq").select(
        "key", "op", "seq", F.col("doc").alias("raw")
    )
    staged = validate(latest, schema)
    if store is not None:
        stored = store.groupBy("root_key").agg(F.max("seq").alias("stored_seq"))
        staged = staged.join(stored, staged.key == stored.root_key, "left").drop("root_key")
    else:
        staged = staged.withColumn("stored_seq", F.lit(None).cast("long"))
    kind = (
        F.when(F.col("op") == "delete", "delete")
        .when(F.col("is_valid"), "upsert")
        .otherwise("reject")
    )
    fresh = F.col("stored_seq").isNull() | (F.col("seq") >= F.col("stored_seq"))
    return staged.withColumn("kind", kind).withColumn(
        "applied", (F.col("kind") != "reject") & fresh
    )


def _apply_documents(
    staged: DataFrame,
    store: DataFrame | None,
    entities_dir: str,
    rejects_dir: str,
    reconstructed_dir: str | None,
) -> None:
    """Write one staged batch: append its rejects, refresh the projection
    of its applied roots, then replace those roots in the entity store.
    The store is swapped last, because ``staged`` is derived from it."""
    from adv_big_data_indexing_spark.operators.shred import shred

    spark = staged.sparkSession
    n = staged.agg(
        F.count_if(F.col("kind") == "reject").alias("rejects"),
        F.count_if(F.col("applied") & (F.col("kind") == "upsert")).alias("upserts"),
        F.count_if(F.col("applied") & (F.col("kind") == "delete")).alias("deletes"),
    ).first()
    if n.rejects:
        (
            staged.filter(F.col("kind") == "reject")
            .select("key", "seq", "violations", F.col("raw").alias("doc"))
            .hint("rebalance")
            .write.mode("append")
            .parquet(rejects_dir)
        )
    if not (n.upserts or n.deletes):
        return
    upserts = staged.filter(F.col("applied") & (F.col("kind") == "upsert"))
    if reconstructed_dir is not None:
        deletes = staged.filter(F.col("applied") & (F.col("kind") == "delete"))
        refresh_reconstructed(
            spark,
            reconstructed_dir,
            upserts.select("doc.*") if n.upserts else None,
            deletes.select(F.col("key").alias("root_key")) if n.deletes else None,
        )
    fragments = shred(
        upserts.select("doc.*", F.col("key").alias("root_key"), "seq"),
        carry=("root_key", "seq"),
    )["entities"]
    if store is not None:
        roots = staged.filter(F.col("applied")).select(F.col("key").alias("root_key"))
        fragments = store.join(roots, "root_key", "left_anti").unionByName(fragments)
    _replace_dir(fragments.hint("rebalance"), entities_dir)


def refresh_reconstructed(
    spark: SparkSession,
    reconstructed_dir: str,
    changed_docs: DataFrame | None,
    deleted_roots: DataFrame | None,
) -> None:
    """Incremental search-projection maintenance: upsert the reconstructed
    (nested, ETag-stamped) view for CHANGED documents only, drop deleted
    ones. The Spark analog of the reference's ES index being brought up
    to date per queue message — but set-oriented per micro-batch, and
    only touched documents are re-reconstructed, not the corpus.

    ``changed_docs`` holds plan documents (the compiled plan struct's
    columns) and ``deleted_roots`` a ``root_key`` column; pass None for
    either when there are none.
    """
    from adv_big_data_indexing_spark.operators.reconstruct import reconstruct, with_etag
    from adv_big_data_indexing_spark.operators.shred import object_key, shred

    fresh = None if changed_docs is None else with_etag(reconstruct(shred(changed_docs)))
    merged = None
    if os.path.exists(reconstructed_dir):
        reader = spark.read if fresh is None else spark.read.schema(fresh.schema)
        merged = reader.parquet(reconstructed_dir)
        if changed_docs is not None:
            ids = changed_docs.select(object_key(F.col("objectType"), F.col("objectId")).alias("id"))
            merged = merged.join(ids, "id", "left_anti")
        if deleted_roots is not None:
            merged = merged.join(deleted_roots.select(F.col("root_key").alias("id")), "id", "left_anti")
    if fresh is not None:
        merged = fresh if merged is None else merged.unionByName(fresh)
    if merged is not None:
        _replace_dir(merged.hint("rebalance"), reconstructed_dir)
