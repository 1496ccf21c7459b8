"""Source scans over the package that need no Spark session.

- Every top-level package function has a use. An ``import`` of it or
  an ``__all__`` entry naming it is not a use: a helper whose only
  reference is its own import or re-export is dead code.
- The streaming twins in ``streaming/events.py`` finish through their
  batch query's own functions: none of the batch side's estimator,
  gain or log-space constants is spelled there again.
- Every rewritten streaming table is committed by ``statelog.commit``.
"""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "adv_big_data_indexing_spark"

#: Python sources whose code may use a package function.
_CODE_DIRS = (PKG, ROOT / "tests", ROOT / "tools")
#: entry points whose every mention of a name counts as a use, strings
#: included (the entry contract and the benchmarks reach functions by name).
_ENTRY_SOURCES = (ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "perfbench")


def _py_files(where: Path):
    if where.is_file():
        yield where
        return
    for root, _dirs, files in os.walk(where):
        for fname in sorted(files):
            if fname.endswith(".py"):
                yield Path(root) / fname


def _is_query_decorator(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Name) and f.id == "query") or (
        isinstance(f, ast.Attribute) and f.attr == "query"
    )


def _package_functions() -> dict[str, str]:
    """name -> 'module-relative path:line' for every module-level def not
    registered through ``@query``."""
    out = {}
    for path in _py_files(PKG):
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not any(
                _is_query_decorator(d) for d in node.decorator_list
            ):
                out[node.name] = f"{path.relative_to(PKG)}:{node.lineno}"
    return out


def _used_names() -> set[str]:
    """Names loaded as a variable or read as an attribute anywhere in
    code, plus every word of the entry sources. Import aliases, ``def``
    names and ``__all__`` strings are none of these."""
    used: set[str] = set()
    for where in _CODE_DIRS:
        for path in _py_files(where):
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.Name):
                    used.add(node.id)
                elif isinstance(node, ast.Attribute):
                    used.add(node.attr)
    for where in _ENTRY_SOURCES:
        for path in _py_files(where):
            used.update(re.findall(r"\w+", path.read_text()))
    return used


def test_every_package_function_has_a_use():
    used = _used_names()
    dead = sorted(
        f"{where} {name}" for name, where in _package_functions().items() if name not in used
    )
    assert not dead, (
        "package functions referenced only by their own def, an import or "
        "__all__ — delete them or use them:\n" + "\n".join(dead)
    )


def test_streaming_twins_spell_no_batch_constant():
    """Each streaming twin finishes through the batch side's own state
    and finisher functions (operators/timeseries.py, operators/udfs.py),
    so the constants those functions close over are never needed in the
    streaming module. Finding one there means a finishing expression or
    recurrence was copied instead of called."""
    src = (PKG / "streaming" / "events.py").read_text()
    names = ("ilog2_q4", "_HLL_ESTIMATE", "HLL_M", "HOLT_ADIV", "HOLT_BDIV", "HW_DIV", "CUSUM_KDIV")
    found = [n for n in names if re.search(rf"\b{n}\b", src)]
    assert not found, f"streaming/events.py spells batch-side constants {found}"


def test_streaming_tables_have_one_commit():
    """Every rewritten streaming table goes through ``statelog.commit``:
    the package's streaming modules create a symlink only there and
    overwrite no parquet directory in place."""
    streaming = PKG / "streaming"
    symlinks = sorted(p.name for p in _py_files(streaming) if "os.symlink(" in p.read_text())
    overwrites = sorted(p.name for p in _py_files(streaming) if 'mode("overwrite")' in p.read_text())
    assert symlinks == ["statelog.py"], symlinks
    assert overwrites == [], overwrites
