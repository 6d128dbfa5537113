"""Static checks over the package source (no Spark)."""

from __future__ import annotations

import ast
import io
import pathlib
import re
import tokenize

import dss_nlp_ingestion_spark

PKG = pathlib.Path(dss_nlp_ingestion_spark.__file__).parent
ROOT = PKG.parent


def _used_names(tree: ast.AST) -> set[str]:
    """Every bare name the module reads, including names inside
    quoted annotations such as ``-> "Column"``."""
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        # ``annotation`` on arguments and annotated assignments,
        # ``returns`` on functions
        for ann in (getattr(node, "annotation", None), getattr(node, "returns", None)):
            if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
                used |= _used_names(ast.parse(ann.value, mode="eval"))
    return used


def test_no_unused_module_level_imports():
    """A module-level import nothing in the module reads is dead code
    that still costs import time and hides what a module depends on.
    ``__init__.py`` files (re-exports), lines marked ``# noqa`` and
    ``__future__`` imports are exempt."""
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        src = path.read_text(encoding="utf-8")
        tree = ast.parse(src)
        lines = src.splitlines()
        used = _used_names(tree)
        for node in tree.body:
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if "# noqa" in lines[node.lineno - 1]:
                continue
            for alias in node.names:
                name = (alias.asname or alias.name).split(".")[0]
                if name not in used:
                    rel = path.relative_to(PKG.parent)
                    unused.append(f"{rel}:{node.lineno}: {name}")
    assert not unused, "unused imports:\n" + "\n".join(unused)


#: The files whose comments and strings the citation checks read.
_SOURCES = [
    *sorted(PKG.rglob("*.py")),
    ROOT / "bench.py",
    *sorted((ROOT / "tools").glob("*.py")),
]

#: A ``dir/module.py`` path, not the tail of a longer path.
_CITED_PATH = re.compile(r"(?<![\w./-])((?:[\w.-]+/)+[\w-]+\.py)\b")


def _comments_and_docstrings(src: str):
    """(line, text) of every comment and docstring in ``src``."""
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            yield tok.start[0], tok.string
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            doc = ast.get_docstring(node, clean=False)
            if doc:
                yield node.body[0].lineno, doc


def test_cited_package_paths_exist():
    """Every ``dir/module.py`` a comment or docstring of the package,
    ``bench.py`` or ``tools/`` cites exists, relative to the repo root
    or to the package, so deleting or moving a module cannot leave a
    stale citation behind. Citations of the reference code (``src/...``)
    are exempt."""
    stale = []
    for path in _SOURCES:
        for line, text in _comments_and_docstrings(path.read_text(encoding="utf-8")):
            for cited in _CITED_PATH.findall(text):
                if cited.startswith("src/"):
                    continue
                if not ((ROOT / cited).exists() or (PKG / cited).exists()):
                    stale.append(f"{path.relative_to(ROOT)}:{line}: {cited}")
    assert not stale, "cited paths that do not exist:\n" + "\n".join(stale)


#: A ``path.py:name`` or ``path.py::name`` citation of a definition.
_CITED_NAME = re.compile(r"(?<![\w./-])((?:[\w.-]+/)*[\w-]+\.py)::?([A-Za-z_]\w*)")


def _top_level_names(path: pathlib.Path) -> set[str]:
    """The defs, classes and assigned constants at a module's top level."""
    names = set()
    for node in ast.parse(path.read_text(encoding="utf-8")).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def test_cited_names_exist():
    """Every ``path.py:name`` or ``path.py::name`` a comment or string
    of the package, ``bench.py`` or ``tools/`` cites names a top-level
    def, class or constant of that module, so deleting or renaming a
    function cannot leave a stale citation behind. String tokens are
    read one at a time, so a citation split across implicitly joined
    literals is reported by its broken half. Citations of the
    reference code (``src/...``) and line citations (``path.py:12``)
    are exempt."""
    stale = []
    for path in _SOURCES:
        src = path.read_text(encoding="utf-8")
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type not in (tokenize.COMMENT, tokenize.STRING):
                continue
            for m in _CITED_NAME.finditer(tok.string):
                cited, name = m.groups()
                if cited.startswith("src/"):
                    continue
                module = next(
                    (p for p in (ROOT / cited, PKG / cited) if p.exists()), None
                )
                if module is None or name not in _top_level_names(module):
                    line = tok.start[0] + tok.string.count("\n", 0, m.start())
                    stale.append(f"{path.relative_to(ROOT)}:{line}: {cited}:{name}")
    assert not stale, "cited names that do not exist:\n" + "\n".join(stale)


def _method_call_sites(tree: ast.AST, method: str, scope: str = ""):
    """The dotted def scope (``outer.inner``; ``""`` at module level)
    of every ``<expr>.method(...)`` or bare ``method(...)`` call in
    ``tree``."""
    for node in ast.iter_child_nodes(tree):
        inner = scope
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            inner = f"{scope}.{node.name}" if scope else node.name
        elif isinstance(node, ast.Call) and method in (
            getattr(node.func, "attr", None),
            getattr(node.func, "id", None),
        ):
            yield scope
        yield from _method_call_sites(node, method, inner)


def test_one_local_checkpoint_in_converge():
    """``converge`` is the package's only superstep loop, so it holds
    the only ``.localCheckpoint(`` call: a loop that cuts lineage on
    its own bypasses the driver's convergence count and any change to
    how rounds are materialized."""
    sites = [
        f"{path.relative_to(ROOT)}::{scope or '<module>'}"
        for path in sorted(PKG.rglob("*.py"))
        for scope in _method_call_sites(
            ast.parse(path.read_text(encoding="utf-8")), "localCheckpoint"
        )
    ]
    assert sites == ["dss_nlp_ingestion_spark/operators/graph.py::converge"], sites


def test_one_rewrite_call_in_txlog():
    """``_cow_rewrite`` is the tx-log store's one copy-on-write loop, so
    inside ``sources/txlog.py`` it alone calls ``rewrite(``: a second
    pick-rewrite-retry loop would miss every change made to the one
    loop (merge-on-read deletes, row-level conflicts)."""
    path = PKG / "sources" / "txlog.py"
    sites = list(
        _method_call_sites(ast.parse(path.read_text(encoding="utf-8")), "rewrite")
    )
    assert sites == ["_cow_rewrite"], sites
