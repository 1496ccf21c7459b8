"""Query-param dict → Column predicate — the engine's tiny "parser".

The reference's only query planner is a loop that turns request params
into ES Query DSL: ``{field: value}`` pairs become ``bool.must``
``match_phrase`` clauses (src/utils/apiLogicForSearch.ts:248-269,
295-326) and ``{field: {lt|gt: v}}`` becomes a ``range`` clause
(:193-221, strict comparison per the DSL). Here the same dict shape
compiles to a Catalyst Column, and Catalyst is the planner (SURVEY.md
§3.3).

Vocabulary (deliberately the reference's, nothing more): equality,
lt/gt (strict), lte/gte (the README's prose variant), conjunction.
"""

from __future__ import annotations

from typing import Any, Callable, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

_RANGE_OPS = {
    "lt": lambda c, v: c < v,
    "gt": lambda c, v: c > v,
    "lte": lambda c, v: c <= v,
    "gte": lambda c, v: c >= v,
}


def compile_params(params: Mapping[str, Any], col: Callable[[str], Column] = F.col) -> Column:
    """AND-of-clauses predicate from a param dict. ``col`` resolves a
    field name to the Column it tests: a column of the frame by default,
    or, e.g., a field of a struct (a child row inside a lambda).

    >>> compile_params({"planType": "inNetwork", "copay": {"lt": 100}})
    Column<...(planType = inNetwork) AND (copay < 100)...>
    """
    clauses: list[Column] = []
    for field, value in params.items():
        c = col(field)
        if isinstance(value, Mapping):
            for op, v in value.items():
                try:
                    clauses.append(_RANGE_OPS[op](c, F.lit(v)))
                except KeyError:
                    raise ValueError(f"unsupported range op {op!r} (have {sorted(_RANGE_OPS)})")
        else:
            clauses.append(c == F.lit(value))
    if not clauses:
        return F.lit(True)
    out = clauses[0]
    for c in clauses[1:]:
        out = out & c
    return out
