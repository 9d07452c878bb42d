"""Static checks over the package, the test files and the scripts
beside them.

A module-level `def`, `class` or assigned name bound twice in one file
silently shadows the first binding: pytest never collects a shadowed
test, and a package constant spelled twice can drift apart while every
caller reads whichever binding comes last.  No linter runs over this
repository, so the check lives here.

`bench.py` and `tools/*.py` run only when someone runs them, so a
script that no longer compiles, or imports a package name that was
deleted, would otherwise go unnoticed until then.

A top-level package definition that nothing reads is dead code that
still looks like an API; stale copies of a formula hide there.
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


def _top_level_bindings(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                yield from (n.id for n in ast.walk(target) if isinstance(n, ast.Name))


def _duplicate_top_level_names(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    names = Counter(_top_level_bindings(tree))
    return sorted(name for name, n in names.items() if n > 1)


def test_no_test_file_redefines_a_top_level_name():
    dupes = {
        name: found
        for name in sorted(os.listdir(TESTS_DIR))
        if name.endswith(".py")
        and (found := _duplicate_top_level_names(os.path.join(TESTS_DIR, name)))
    }
    assert not dupes, f"top-level names defined more than once: {dupes}"


def test_no_package_module_binds_a_top_level_name_twice():
    paths = glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    assert len(paths) > 1
    dupes = {
        os.path.relpath(path, REPO): found
        for path in sorted(paths)
        if (found := _duplicate_top_level_names(path))
    }
    assert not dupes, f"top-level names bound more than once: {dupes}"


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


def _is_registered_query(node: ast.stmt) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in getattr(node, "decorator_list", ())
    )


def _read_names(tree: ast.Module):
    """Names a module reads: loaded names, attributes, imported names."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]


def test_every_top_level_package_name_is_referenced():
    package = glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    readers = set(package + SCRIPTS + [os.path.join(REPO, "__spark_entry__.py")])
    for d in ("tests", "tools", "perfbench"):
        readers.update(glob.glob(os.path.join(REPO, d, "**", "*.py"), recursive=True))
    read = set()
    for path in readers:
        with open(path, encoding="utf-8") as fh:
            read.update(_read_names(ast.parse(fh.read(), filename=path)))
    unread = []
    for path in sorted(package):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        exempt = read | {n.name for n in tree.body if _is_registered_query(n)}
        unread += [
            f"{os.path.relpath(path, REPO)}: {name}"
            for name in _top_level_bindings(tree)
            if name not in exempt and not (name.startswith("__") and name.endswith("__"))
        ]
    assert not unread, f"top-level package names referenced nowhere: {unread}"
