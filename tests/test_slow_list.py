"""Guard for the central slow-test list (tests/conftest.py, r14): a
renamed, moved or deleted test must not leave a silent orphan in
SLOW_TESTS — an orphan would mean a >10 s test quietly rejoined the
default run (the r13 truncation class)."""

from __future__ import annotations

from pathlib import Path

from tests.conftest import REPO_ROOT, SLOW_TESTS


def test_slow_list_names_exist():
    def defined(node_id: str) -> bool:
        path, name = node_id.split("::")
        file = REPO_ROOT / path
        return file.is_file() and f"def {name}(" in file.read_text()

    missing = sorted(n for n in SLOW_TESTS if not defined(n))
    assert not missing, f"SLOW_TESTS entries with no matching test: {missing}"
