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

A function-local import of a name the module already imports at top
level, or one the function never reads, is the same kind of silent
second binding.

A top-level package definition that nothing reads is dead code that
still looks like an API; stale copies of a formula hide there.

A per-group top-k (rank, then keep rk <= k) has one spelling,
`functions/core.py::topk_ranked`; a hand-written rank-filter tail
elsewhere is a second spelling of the same operator.  Likewise the
similarity family's exact query/candidate cosine has one spelling,
`operators/similarity.py::_exact_cosine`, and the fixed-point round
and the clamp have one each, the `functions/core.py` fragments
`round_stable_sql` and `clamp_sql`.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import py_compile
import re
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


def _own_nodes(fn: ast.AST):
    """Nodes of `fn`'s body, not descending into nested defs or classes."""
    todo = list(fn.body)
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            todo.extend(ast.iter_child_nodes(node))


def _bound(alias: ast.alias) -> str:
    """The name an import binds: `import a.b` binds `a`."""
    return (alias.asname or alias.name).split(".")[0]


def _redundant_local_imports(path: str) -> list[str]:
    """Function-local imports that rebind a top-level import of the
    module, or bind a name the function never reads."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    top = {
        _bound(a)
        for node in tree.body
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
    }
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        read = {
            n.id
            for n in ast.walk(fn)
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
        }
        for node in _own_nodes(fn):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                found += [
                    f"{fn.name}:{node.lineno}:{_bound(a)}"
                    for a in node.names
                    if _bound(a) in top or _bound(a) not in read
                ]
    return sorted(found)


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
    local = {
        os.path.relpath(path, REPO): found
        for path in sorted(paths)
        if (found := _redundant_local_imports(path))
    }
    assert not local, f"function-local imports rebinding or unread: {local}"


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


def _call_named(node: ast.AST, name: str) -> bool:
    """`node` is a call of a function or method called `name`."""
    return isinstance(node, ast.Call) and name in (
        getattr(node.func, "attr", None),
        getattr(node.func, "id", None),
    )


def _sql_text(node: ast.AST) -> str | None:
    """The text of a string literal or f-string (`{…}` read as `0`)."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "0" for v in node.values
        )
    return None


def _is_row_number(value: ast.AST) -> bool:
    """`F.row_number().over(w)` (or the helper's own `F.expr("row_number()
    OVER (…)")`), with any `.cast(…)` around it."""
    while _call_named(value, "cast"):
        value = value.func.value
    if _call_named(value, "over"):
        return _call_named(value.func.value, "row_number")
    return _call_named(value, "expr") and bool(
        re.match(r"\s*row_number\(\) OVER", _sql_text(value.args[0]) or "", re.I)
    )


def _bounds_only(pred: ast.AST, rank: str) -> bool:
    """The filter reads no column but `rank`: a constant bound, not a
    quantile pick such as `rk == (n + 1) div 2`."""
    bound = re.compile(rf"\s*{re.escape(rank)}\s*(<=|<|==|=)\s*\w+\s*")
    texts = [t for n in ast.walk(pred) if (t := _sql_text(n)) is not None]
    return all(t == rank or bound.fullmatch(t) for t in texts)


def _rank_filter_tails(tree: ast.Module):
    """Line numbers of hand-written rank-filter tails: a `.filter` called
    directly on `.withColumn(name, row_number().over(…))` that bounds
    only that rank, or directly on a `selectExpr` whose SQL ranks with
    `row_number() OVER`."""
    for node in ast.walk(tree):
        if not (_call_named(node, "filter") and isinstance(node.func, ast.Attribute)):
            continue
        inner = node.func.value
        if _call_named(inner, "withColumn") and len(inner.args) == 2:
            name = _sql_text(inner.args[0])
            if name and _is_row_number(inner.args[1]) and _bounds_only(node.args[0], name):
                yield node.lineno
        elif _call_named(inner, "selectExpr") and any(
            "row_number() over" in (_sql_text(a) or "").lower() for a in inner.args
        ):
            yield node.lineno


def test_every_rank_filter_tail_goes_through_topk_ranked():
    core = os.path.join(REPO, PKG, "functions", "core.py")
    package = glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    tails = []
    for path in sorted(set(package) - {core}):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        tails += [f"{os.path.relpath(path, REPO)}:{n}" for n in _rank_filter_tails(tree)]
    assert not tails, f"rank-filter tails outside topk_ranked: {tails}"


def test_query_candidate_cosine_goes_through_exact_cosine():
    """`cosine_similarity_sql("qv", "cv")` is spelled once, inside the
    scorer; rag_context_assembly keeps its raw, unrounded cosine as its
    oracle's order key."""
    similarity = os.path.join(PKG, "operators", "similarity.py")
    allowed = {(similarity, "_exact_cosine"), (similarity, "rag_context_assembly")}
    sites = []
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        rel = os.path.relpath(path, REPO)
        for top in tree.body:
            where = (rel, getattr(top, "name", "<module>"))
            sites += [
                f"{rel}:{node.lineno} ({where[1]})"
                for node in ast.walk(top)
                if _call_named(node, "cosine_similarity_sql")
                and [_sql_text(a) for a in node.args] == ["qv", "cv"]
                and where not in allowed
            ]
    assert not sites, f"query/candidate cosine outside _exact_cosine: {sites}"


def _f_call(node: ast.AST, name: str) -> bool:
    """`node` is `F.<name>(…)`, a Spark Column function (not `np.<name>`)."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _is_half(node: ast.AST) -> bool:
    """`0.5` or `F.lit(0.5)`."""
    if _f_call(node, "lit") and len(node.args) == 1:
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == 0.5


def _column_formula_copies(tree: ast.Module):
    """Line numbers of Column-built copies of the two formulas: the
    fixed-point round `F.floor(x + 0.5) / p` and the clamp
    `F.least(F.greatest(…), …)`.  An integer quantizer
    `F.floor(x + 0.5).cast(…)` divides nothing and is not one."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Div)
            and _f_call(node.left, "floor")
            and len(node.left.args) == 1
            and isinstance(node.left.args[0], ast.BinOp)
            and isinstance(node.left.args[0].op, ast.Add)
            and _is_half(node.left.args[0].right)
        ):
            yield node.lineno
        elif _f_call(node, "least") and any(_f_call(a, "greatest") for a in node.args):
            yield node.lineno


def test_fixed_point_round_and_clamp_go_through_the_core_fragments():
    package = glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    copies = []
    for path in sorted(package):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        copies += [f"{os.path.relpath(path, REPO)}:{n}" for n in _column_formula_copies(tree)]
    assert not copies, (
        f"Column copies of round_stable_sql / clamp_sql outside functions/core.py: {copies}"
    )
