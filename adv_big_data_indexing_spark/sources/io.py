"""Ingest/egress connectors beyond the driver parquet catalog.

The reference's only I/O is Redis strings / ES docs / AMQP messages
(SURVEY §2.A tail note); the engine's storage story is columnar:

- **JSON ingest** with enforced schema + PERMISSIVE corrupt-record
  capture — the batch form of the reference's 400-on-invalid path
  (the constraint-level validation lives in plans/json_schema_compiler).
- **Partitioned parquet** entity store (partition by object_type →
  partition pruning for type-scoped queries, the dominant access path).
- **CSV** read/write for interchange.

All writers are deterministic-layout (sorted within partitions) so
reruns produce byte-stable files where the format allows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from adv_big_data_indexing_spark.lifetime import hold


def read_json_documents(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Schema-enforced JSON-lines ingest; malformed rows land in
    ``_corrupt_record`` instead of failing the job (PERMISSIVE)."""
    full = schema.add("_corrupt_record", T.StringType())
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    # Spark refuses queries that project only _corrupt_record from a live
    # JSON scan (SPARK-2115x guard); holding the parsed frame makes the
    # split legal and also avoids double-parsing the input for the two
    # branches. The hold ends when the session's next query build starts.
    df = hold(df)
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad


def write_entity_store(entities: DataFrame, path: str) -> None:
    """Partition by object_type (low-cardinality, the main filter axis)
    so type-scoped scans prune whole directories."""
    (
        entities.repartition("object_type")
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .partitionBy("object_type")
        .parquet(path)
    )


def read_entity_store(
    spark: SparkSession, path: str, object_type: str | None = None
) -> DataFrame:
    df = spark.read.parquet(path)
    if object_type is not None:
        # hits the partition column → directory pruning, zero data read
        # for other types
        df = df.filter(F.col("object_type") == object_type)
    return df


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).option("header", True).csv(path)


def compact(df: DataFrame, path: str, n_files: int) -> None:
    """Rewrite a table into ``n_files`` evenly-sized parquet files.

    The local testdata ships one row group per table, which pins every
    scan to a single task (BASELINE.md note 1). Real ingest controls its
    layout: target row groups of 64–256 MB so scan parallelism matches
    the cluster. This is the maintenance job that restores that invariant
    after skewed/streaming writes.
    """
    df.repartition(n_files).write.mode("overwrite").parquet(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC egress — the other columnar interchange format Spark reads
    natively (vectorized, predicate pushdown, column pruning, same as
    parquet)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
