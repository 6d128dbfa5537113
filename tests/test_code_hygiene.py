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
    sources = [
        *sorted(PKG.rglob("*.py")),
        ROOT / "bench.py",
        *sorted((ROOT / "tools").glob("*.py")),
    ]
    stale = []
    for path in sources:
        for line, text in _comments_and_docstrings(path.read_text(encoding="utf-8")):
            for cited in _CITED_PATH.findall(text):
                if cited.startswith("src/"):
                    continue
                if not ((ROOT / cited).exists() or (PKG / cited).exists()):
                    stale.append(f"{path.relative_to(ROOT)}:{line}: {cited}")
    assert not stale, "cited paths that do not exist:\n" + "\n".join(stale)
