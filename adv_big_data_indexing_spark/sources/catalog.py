"""Parquet source catalog for the driver test tables.

Reads are plain ``spark.read.parquet`` so Catalyst gets the native
vectorized parquet scan with predicate pushdown, column pruning and
min/max row-group skipping for free — the Spark analog of the
reference's delegated index lookups (SURVEY.md §4.2: ES term/range
pruning ≈ parquet stats pruning).

Schema memo: inferring a parquet schema runs a footer-reading Spark job,
so each table's inferred ``StructType`` is kept per ``SparkSession``
(a weak-keyed map; a new session infers afresh). The key is the absolute
path, the data-file listing (relative name, size and ``mtime_ns`` of
every parquet file, walked recursively, hidden names skipped), and the
session values of the confs in ``_INFERENCE_CONFS``. The first read for
a key infers as ``spark.read.parquet`` does; later reads pass the cached
schema to ``spark.read.schema(...)`` and launch zero jobs. A rewritten
table has a new listing and is inferred again. A path with no local
parquet files (a remote URI, a missing path) is inferred on every read.
"""

from __future__ import annotations

import json
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Tables small enough to broadcast in any join at any scale factor
#: (region/nation are fixed-cardinality dimensions even at 100 TB).
BROADCAST_DIMS = frozenset({"region", "nation"})

#: session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: SparkSession -> {(abs path, listing, conf values): inferred schema}
_schemas: weakref.WeakKeyDictionary[SparkSession, dict[tuple, StructType]] = (
    weakref.WeakKeyDictionary()
)


def _hidden(name: str) -> bool:
    """Spark's rule for names a parquet directory read skips."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(path: str) -> list[str]:
    """The parquet data files of a table: the file itself, or every
    ``.parquet`` file under the directory, walked recursively so nested
    (hive-partitioned) layouts count fully, hidden names skipped."""
    if not os.path.isdir(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".parquet") and not _hidden(f)]
    return out


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema memo (module docstring)."""
    files = _data_files(path) if os.path.exists(path) else []
    if not files:
        return spark.read.parquet(path)
    # listed before inferring: a rewrite racing the inference leaves a key
    # that no later listing matches
    listing = []
    for f in files:
        st = os.stat(f)
        listing.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    key = (os.path.abspath(path), tuple(listing), confs)
    memo = _schemas.setdefault(spark, {})
    schema = memo.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    memo[key] = df.schema
    return df


def _ts_is_nanos(path: str) -> bool:
    """Whether ``ts`` is parquet TIMESTAMP(NANOS), read driver-side from
    the first data file's footer (no Spark job). A path with no local
    parquet files reads as not NANOS."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    files = _data_files(path) if os.path.exists(path) else []
    cols = pq.read_metadata(files[0]).schema if files else ()
    return any(c.path == "ts" and json.loads(c.logical_type.to_json()).get("timeUnit") == "nanoseconds" for c in cols)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) (which the
        # Spark vectorized reader rejects, so it must be read as long and
        # truncated — integer DIV, exact, matching DuckDB's ns→us truncation)
        # and plain TIMESTAMP(MICROS). Normalize either to TIMESTAMP_NTZ so
        # event-time semantics are independent of the session timezone. The
        # unit comes from the footer, so the session conf (part of every
        # table's schema-memo key) is set only when a NANOS file needs it.
        nanos = _ts_is_nanos(path)
        if nanos:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        ts = "timestamp_micros(ts DIV 1000)" if nanos else "ts"
        return df.selectExpr(
            "event_id", f"CAST({ts} AS TIMESTAMP_NTZ) AS ts", "user_id", "event_type", "value", "props"
        )
    return _read_parquet(spark, path)


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of a catalog table from parquet FOOTERS, driver-side —
    no Spark job at all (routing decisions read this: the exact-vs-LSH
    dedup pair source, the brute-vs-ANN dense arm). On a parquet
    directory the counts sum over every data file of ``_data_files``,
    nested (hive-partitioned) layouts included, so the routed paths see
    the full count; on a bare file it reads the one footer. Equivalent to
    ``COUNT(*)`` (parquet footers store exact row counts) at zero
    job-scheduling cost."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    path = os.path.join(sf_dir, f"{name}.parquet")
    return sum(pq.read_metadata(f).num_rows for f in _data_files(path))


def spread(df: DataFrame, factor: int = 2) -> DataFrame:
    """Ensure minimum scan parallelism before CPU-heavy per-row work.

    Single-row-group parquet (the local testdata) pins the whole scan to
    one task; a round-robin repartition lets the expensive expressions
    above it run on all cores. A no-op when the source already has at
    least cores/factor partitions — so on a real multi-file table this
    introduces no extra exchange.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * factor <= target:
        return df.repartition(target)
    return df
