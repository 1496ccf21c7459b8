"""Shared text primitives for the text-analysis / dedup operator families.

All expression-only (JVM-side, whole-stage-codegen friendly): tokenize,
word n-gram shingles, deterministic 64-bit-hex minhash material. Each
has an exact DuckDB mirror used by the oracles, so results are
bit-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of a single-space-separated document."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


#: DuckDB mirror of :func:`tokens`.
DUCK_TOKENS = "regexp_split_to_array(trim({col}), '\\s+')"


def token_rows(d, cols: list[str], alias: str = "w"):
    """One row per whitespace token of ``text``, keeping ``cols``.

    Uses explode_outer + a post-generate null filter instead of plain
    explode: explode makes Catalyst infer a size(tokens) > 0 filter whose
    pushdown below a repartition re-runs the tokenizer inside the
    (single-task, at test scale) scan stage. The outer variant infers
    nothing, so the tokenizer runs exactly once, after the repartition."""
    return (
        d.select(*cols, F.explode_outer(tokens("text")).alias(alias))
        .filter(F.col(alias).isNotNull())
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a *materialized* tokens column.

    ``toks`` must be a plain column reference (project ``tokens(...)``
    first): Spark does no subexpression elimination inside higher-order
    lambdas, so passing the split expression directly re-tokenizes the
    document for every element access (~100× slower).

    Uses transform over an index sequence rather than a window — no
    shuffle, purely per-row, scales embarrassingly.
    """
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    gram = lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)])  # noqa: E731
    return F.array_distinct(F.when(F.size(toks) >= n, F.transform(idx, gram)).otherwise(F.array()))


#: DuckDB mirror of :func:`shingles` (n=3), 1-based list indexing.
DUCK_SHINGLES3 = (
    "list_distinct(CASE WHEN len({toks}) >= 3 THEN "
    "list_transform(generate_series(1, len({toks}) - 2), "
    "i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]) "
    "ELSE [] END)"
)


# --- Universal-hash minhash family -----------------------------------------
#
# One strong base hash per shingle (48 bits of md5), then each minhash
# function i is the affine transform (a_i*h + b_i) mod P over the Mersenne
# prime P = 2^31 - 1 — the standard universal-hash construction. This does
# ONE md5 per shingle instead of one per (shingle, seed): at 100 TB the
# signature build dominates LSH dedup cost, so a 16× hash reduction is the
# difference between a pass over the corpus and sixteen. The a/b constants
# derive from md5 of a public tag, so any engine reproduces them; every
# intermediate is exact BIGINT (a*h < 2^62), so sketches are bit-identical
# cross-engine.

MINHASH_P = (1 << 31) - 1


def _mh_const(tag: str, i: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:8], 16) % MINHASH_P


def minhash_ab(n: int) -> tuple[list[int], list[int]]:
    """n deterministic (a, b) affine constants; a is forced nonzero."""
    return (
        [_mh_const("mh-a", i) or 1 for i in range(n)],
        [_mh_const("mh-b", i) for i in range(n)],
    )


def base_hash48(shingle: Column) -> Column:
    """48-bit base hash: first 12 hex chars of md5, parsed exactly (conv is
    JVM-side; 48 bits is exact in BIGINT and collision-safe for ~2^20 docs)."""
    return F.conv(F.substring(F.md5(shingle), 1, 12), 16, 10).cast("bigint")


#: DuckDB mirror of :func:`base_hash48`: every product term and the running
#: sum stay below 2^52, so the double arithmetic is exact before the cast.
DUCK_BASE48 = (
    "CAST(list_sum(list_transform(generate_series(1, 12),"
    " p -> (strpos('0123456789abcdef', substr(md5({sh}), p, 1)) - 1)"
    " * (16.0 ** (12 - p)))) AS BIGINT)"
)

#: Nibble value of one hex char (both engines): strpos over the hex alphabet.
HEX_ALPHABET = "0123456789abcdef"


def hex_nibble(ch: Column) -> Column:
    """hex char -> 0..15 as int."""
    return (F.instr(F.lit(HEX_ALPHABET), ch) - 1).cast("int")


DUCK_HEX_NIBBLE = "(strpos('0123456789abcdef', {ch}) - 1)"
