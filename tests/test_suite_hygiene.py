"""Static checks over the test files and the scripts beside them.

A module-level `def` or `class` defined twice in one file silently
shadows the first definition, so pytest never collects it and the
test it held stops running without any failure.  No linter runs over
this suite, so the check lives here.

`bench.py` and `tools/*.py` run only when someone runs them, so a
script that no longer compiles, or imports a package name that was
deleted, would otherwise go unnoticed until then.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import py_compile
from collections import Counter

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS_DIR)
PKG = "damg7245_casestudy_03_ai_scoring_engine_spark"
SCRIPTS = [os.path.join(REPO, "bench.py")] + sorted(
    glob.glob(os.path.join(REPO, "tools", "*.py"))
)


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


def _missing_package_names(path: str) -> list[str]:
    """`from <package module> import name` lines whose name is gone."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    missing = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG)):
            continue
        mod = importlib.import_module(node.module)
        missing += [
            f"{node.module}.{a.name}"
            for a in node.names
            if not hasattr(mod, a.name)
            and importlib.util.find_spec(f"{node.module}.{a.name}") is None
        ]
    return missing


def test_scripts_compile_and_import_existing_names(tmp_path):
    assert len(SCRIPTS) > 1
    for path in SCRIPTS:
        py_compile.compile(path, cfile=str(tmp_path / "script.pyc"), doraise=True)
    missing = {
        os.path.relpath(path, REPO): found
        for path in SCRIPTS
        if (found := _missing_package_names(path))
    }
    assert not missing, f"scripts import names that no longer exist: {missing}"
