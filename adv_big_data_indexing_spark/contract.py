"""Query registry backing the driver contract (``__spark_entry__.py``).

Each operator from SURVEY.md §2 registers a :class:`QuerySpec` — a named
PySpark query ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
the equivalent DuckDB oracle SQL. The driver compares both at sf0.01 by
row-count + schema + order-insensitive value hash, so every computed
column is aliased identically on both sides, and floating-point results
are produced by bit-deterministic recipes (exact decimal/integer
arithmetic followed by correctly-rounded double ops) — see
``functions/exact.py``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from adv_big_data_indexing_spark.lifetime import release_held

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over the pre-registered table views
    bench: bool = False  # include in bench.py headline set
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    _REGISTRY[spec.name] = spec
    return spec


def query(
    name: str, oracle: str | None = None, bench: bool = False, doc: str = ""
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query.

    The registered ``fn`` first releases the frames the session's
    previous build held (``lifetime.hold``), then builds. The
    decorator returns the raw function, so a query composing another
    inside the package releases nothing in the middle of its own build."""

    def wrap(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_held(spark)
            return fn(spark, sf_dir)

        register(QuerySpec(name=name, fn=build, oracle=oracle, bench=bench, doc=doc or (fn.__doc__ or "")))
        return fn

    return wrap


def registry() -> dict[str, QuerySpec]:
    """All registered specs (importing operator modules as a side effect)."""
    # Imports deferred so `import adv_big_data_indexing_spark` stays cheap.
    from adv_big_data_indexing_spark.operators import (  # noqa: F401
        advanced,
        clustering,
        curation,
        dedup,
        documents,
        graph,
        mining,
        multimodal,
        partitioning,
        relational,
        retrieval,
        sampling,
        similarity,
        sketches,
        text,
        timeseries,
        tokenizer,
        tpch,
        udfs,
    )

    return dict(_REGISTRY)
