"""Static checks over the test files themselves.

A module-level `def` or `class` defined twice in one file silently
shadows the first definition, so pytest never collects it and the
test it held stops running without any failure.  No linter runs over
this suite, so the check lives here.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _duplicate_top_level_names(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    names = Counter(
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    )
    return sorted(name for name, n in names.items() if n > 1)


def test_no_test_file_redefines_a_top_level_name():
    dupes = {
        name: found
        for name in sorted(os.listdir(TESTS_DIR))
        if name.endswith(".py")
        and (found := _duplicate_top_level_names(os.path.join(TESTS_DIR, name)))
    }
    assert not dupes, f"top-level names defined more than once: {dupes}"
