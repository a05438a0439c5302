"""Every ``conftest.SLOW_NODEIDS`` entry names a test function that
exists, so a test deleted or renamed later cannot leave a dead skip
entry behind. Names are checked by parsing the test files, not by
importing them: no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

from tests.conftest import SLOW_NODEIDS

TESTS = Path(__file__).resolve().parent


def _stale(entries) -> list[str]:
    """The ``file::name`` entries whose file has no top-level function
    ``name``; a parametrized id ``name[param]`` is compared by its base
    name."""
    defined: dict[str, set[str]] = {}
    stale = []
    for entry in sorted(entries):
        fname, _, test = entry.partition("::")
        if fname not in defined:
            path = TESTS / fname
            body = ast.parse(path.read_text()).body if path.is_file() else []
            defined[fname] = {
                node.name for node in body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            }
        if test.split("[", 1)[0] not in defined[fname]:
            stale.append(entry)
    return stale


def test_slow_nodeids_name_existing_tests():
    assert _stale(SLOW_NODEIDS) == []


def test_stale_entries_are_reported():
    existing = "test_slow_nodeids.py::test_slow_nodeids_name_existing_tests"
    gone = [
        "test_slow_nodeids.py::test_no_such_test[a/b]",
        "test_no_such_file.py::test_slow_nodeids_name_existing_tests",
    ]
    assert _stale([existing, f"{existing}[p]", *gone]) == sorted(gone)
