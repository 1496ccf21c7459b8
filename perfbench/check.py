"""Output checks for the analytics workloads: each query's collected
result against its registered DuckDB oracle, compared by the
repository's parity rules (``tests/parity.py``: column-name set,
order-insensitive rows, floats by ``repr``, int/float dtype mismatches
fail)."""

from __future__ import annotations

import re

from adv_big_data_indexing_spark.sources.catalog import TABLES
from tests.parity import compare


def oracle_connection(data_dir: str):
    import duckdb  # noqa: PLC0415

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")
    return con


def run_oracle(con, sql: str):
    """The oracle's rows, with its CTEs materialized where DuckDB accepts
    it: same result, but a chain that refers to each step twice is no
    longer re-expanded (the BPE oracle takes minutes without it)."""
    try:
        return con.execute(re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)).df()
    except Exception:  # noqa: BLE001 - e.g. recursive CTEs; fall back to the oracle as written
        return con.execute(sql).df()


class _Collected:
    """A collected frame in the shape ``compare`` reads from either side."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the Spark DataFrame method name
        return self._pdf

    def df(self):
        return self._pdf


def compare_frames(got, want) -> list[str]:
    """Mismatch descriptions between two pandas frames (empty means equal)."""
    return compare(_Collected(got), _Collected(want))
