"""Bit-deterministic numeric recipes shared by Spark queries and oracles.

The driver's correctness gate hashes result values, so any float that can
differ by 1 ulp between Spark and DuckDB is a failed query. Strategy
(SURVEY.md §7 hard-part 5):

- **Money/quantity aggregates**: cast to ``DECIMAL(18,2)`` before
  summing — decimal addition is exact and association-order-free — then
  cast the final value to double (correctly-rounded, deterministic).
- **Averages/ratios**: exact integer/decimal numerator and denominator,
  one double division at the end (IEEE-754 division is correctly
  rounded, so both engines produce the same bits).
- **Vector math**: quantize float embeddings to integers
  (``floor(x * 1e6)``), do exact 64-bit integer dot products, and only
  then apply double ``sqrt``/division (both correctly rounded).

Never: sum doubles directly, round doubles on a decimal grid, or convert
doubles to strings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def dec(col: Column | str) -> Column:
    """Exact money/quantity representation for aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def sum_money(col: Column | str, alias: str) -> Column:
    """Exact decimal sum surfaced as double (deterministic conversion)."""
    return F.sum(dec(col)).cast("double").alias(alias)


def cents(col: Column | str) -> Column:
    """Exact integer cents from a ≤2-decimal money double.

    ``x*100`` lands within float-error of an integer, so any
    round-to-nearest recovers it exactly in every engine regardless of
    tie mode (no true halves can occur) — which licenses the cheap form
    ``floor(x*100 + 0.5)``: correct for negatives too in this domain
    (the value is never within 0.5-ε of a half-integer), and a primitive
    double op in whole-stage codegen, where ``F.round`` on a double
    allocates a java.math.BigDecimal per row (~2× the whole scan stage
    on the TPC-H Q1 shape). Long arithmetic on cents then beats
    decimal(18,2) aggregation ~2× on top.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100 + F.lit(0.5)).cast("bigint")


def quantize_vec(col: Column, scale: int = 1_000_000) -> Column:
    """array<float> -> array<bigint> via floor(x * scale).

    float->double widening is exact and floor is exact, so both engines
    produce identical integers from identical parquet floats.
    """
    return F.transform(col, lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("bigint"))


# DuckDB fragment mirroring quantize_vec (embedding list -> BIGINT list).
DUCK_QUANTIZE = "list_transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"


def epoch_us(col: Column | str) -> Column:
    """Microseconds since epoch from a (NTZ) timestamp.

    NTZ wall-clock is interpreted as UTC (the session timezone is pinned
    to UTC), matching DuckDB's epoch_us on naive timestamps.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def int_dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """Exact dot product for fixed-width array<bigint> columns, unrolled
    into ``dim`` element products summed as a balanced tree — plain
    arithmetic that stays inside whole-stage codegen, unlike the
    interpreted ``aggregate(zip_with(...))`` form (~5× on the ANN scan).
    """
    terms = [a.getItem(i) * b.getItem(i) for i in range(dim)]
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def ilog2_q4(col: Column) -> Column:
    """floor-ish(4·log2 x) for BIGINT x ≥ 1, overflow-safe to 2^63.

    ``length(bin(y⁴))−1`` gives floor(4·log2 y) exactly, but y⁴ only
    fits an int64 for y < 2^15.75 — so for larger x the top 15 bits are
    kept (y = x div 2^s, s = max(L−14, 0), L = floor(log2 x)) and the
    result is 4·s + floor(4·log2 y). The truncation can differ from the
    true floor(4·log2 x) by at most one quarter-bit step near a
    boundary (relative error ~2^−14), but the FORMULA is pure integer
    arithmetic evaluated identically in both engines, so cross-engine
    parity is exact regardless. 2^s is exact in a double up to s = 49.
    """
    c = col.cast("bigint")
    L = (F.length(F.bin(c)) - F.lit(1)).cast("int")
    s = F.greatest(L - F.lit(14), F.lit(0))
    p = F.pow(F.lit(2.0), s).cast("bigint")
    # exact top-15-bit extraction without integer-div syntax: c - c%p is
    # y·2^s with y < 2^15 (≤15 significant bits), so the double division
    # by 2^s is exact at ANY magnitude — no 53-bit mantissa hazard.
    y = ((c - (c % p)) / p).cast("bigint")
    return (
        F.lit(4) * s.cast("bigint")
        + (F.length(F.bin(y * y * y * y)) - F.lit(1)).cast("bigint")
    )


#: DuckDB mirror of :func:`ilog2_q4` (substitute {col}); y⁴ is spelled as
#: repeated multiplication because ``**`` returns DOUBLE (inexact > 2^53).
_DUCK_ILOG_S = "greatest(length(bin(CAST({col} AS BIGINT))) - 15, 0)"
_DUCK_ILOG_Y = (
    "(CAST({col} AS BIGINT) // CAST(power(2, " + _DUCK_ILOG_S + ") AS BIGINT))"
)
DUCK_ILOG2_Q4 = (
    "(4 * " + _DUCK_ILOG_S + " + length(bin("
    + _DUCK_ILOG_Y + " * " + _DUCK_ILOG_Y + " * "
    + _DUCK_ILOG_Y + " * " + _DUCK_ILOG_Y + ")) - 1)"
)


def rev_c2(price: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """TPC-H revenue ``extendedprice*(1-discount)`` in exact integer
    centi-cents: cents(price) * (100 - discount-percent). The shared
    money-exactness invariant for every revenue query (tpch.py,
    relational.py Q1/Q3 shapes)."""
    return (cents(price) * (F.lit(100) - cents(disc))).cast("bigint")


#: DuckDB mirror of :func:`rev_c2`.
DUCK_REV_C2 = (
    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))"
)
