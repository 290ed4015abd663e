"""Callers and callees of the package, checked from source.

Every package import in the scripts around the package resolves:
``tools/``, ``bench.py``, ``__spark_entry__.py`` and ``perfbench/``
import the package, mostly lazily inside functions, and most of them
run in no other test.  A deleted or renamed package name would break
them silently; this guard reads their source (AST only, nothing is
executed) and imports each named package module, without a Spark
session.

The other direction: every top-level package function and class, and
every package module, has a caller outside tests — code only tests
call is a second copy to keep correct, not a feature.
"""

from __future__ import annotations

import ast
import importlib
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "play_bq_gcp_spark"
CALLERS = sorted(
    [*ROOT.glob("tools/*.py"), *ROOT.glob("perfbench/*.py"),
     ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)


def _package_imports(path: pathlib.Path):
    """(line, module, name) for every package import in ``path``, at any
    depth; ``name`` is None for a plain ``import module``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module == PKG or node.module.startswith(PKG + "."):
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name == PKG or alias.name.startswith(PKG + "."):
                    yield node.lineno, alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ModuleNotFoundError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize(
    "path", CALLERS, ids=[str(p.relative_to(ROOT)) for p in CALLERS]
)
def test_package_imports_resolve(path):
    imports = list(_package_imports(path))
    stranded = [
        f"{path.relative_to(ROOT)}:{line}: {module}"
        + (f".{name}" if name else "")
        for line, module, name in imports
        if not _resolves(module, name)
    ]
    assert not stranded, stranded


def test_callers_are_scanned():
    assert {p.name for p in CALLERS} >= {"bench.py", "__spark_entry__.py",
                                          "compare.py", "run.py"}
    assert sum(len(list(_package_imports(p))) for p in CALLERS) > 20


PKG_FILES = sorted((ROOT / PKG).rglob("*.py"))

#: Top-level package definitions kept on purpose although nothing
#: outside tests references them, one reason each.  A name here that
#: gains a caller, or is deleted, must leave the list.
KEPT_WITHOUT_CALLER = {
    "storage.txn_table.ConditionalPutCommit":
        "the object-store PUT-if-none-match CommitStrategy; the commit "
        "race tests drive it through the same seam as the POSIX one",
    "streaming.stateful.running_user_stats_native":
        "native streaming-aggregation twin a test pins equal to the "
        "pandas-state entry (the SCALING.md r9 A/B decision rule)",
    "catalog.table_schema": "reference surface S4: schema fetch",
    "catalog.create_database": "reference surface S9: DDL create",
    "catalog.drop_table": "reference surface S10: DDL drop",
    "functions.scalar.strip_literal":
        "reference surface F2: strip a literal character",
    "functions.scalar.interval_seconds":
        "reference surface F7: timestamp difference in seconds",
}


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _trees():
    return {
        p: ast.parse(p.read_text(), filename=str(p))
        for p in [*PKG_FILES, *CALLERS]
    }


def _references(trees):
    """name -> [(path, line)] for every loaded name, attribute and
    imported name (``from m import f as g`` counts for ``f``)."""
    refs: dict[str, list] = {}
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            else:
                continue
            for name in names:
                refs.setdefault(name, []).append((path, node.lineno))
    return refs


def _uncalled_definitions(trees):
    """``module.name`` (package-relative) of every top-level package
    def/class that nothing outside its own body references; decorated
    definitions (registry entries, UDFs) count as used."""
    refs = _references(trees)
    out = set()
    for path in PKG_FILES:
        for node in trees[path].body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.decorator_list:
                continue
            own = range(node.lineno, node.end_lineno + 1)
            if not any(
                p != path or line not in own
                for p, line in refs.get(node.name, [])
            ):
                out.add(_module_name(path)[len(PKG) + 1:] + "." + node.name)
    return out


def test_every_package_definition_has_a_caller():
    uncalled = _uncalled_definitions(_trees())
    assert not uncalled - set(KEPT_WITHOUT_CALLER), (
        "package code only tests call — give it a caller or delete it "
        "with its tests",
        sorted(uncalled - set(KEPT_WITHOUT_CALLER)),
    )
    stale = set(KEPT_WITHOUT_CALLER) - uncalled
    assert not stale, ("drop from KEPT_WITHOUT_CALLER", sorted(stale))


def test_every_package_module_is_imported():
    """A module no caller imports is dead as a whole, even when its
    own functions call each other."""
    trees = _trees()
    imported = set()
    for path, tree in trees.items():
        me = _module_name(path)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:  # relative: resolve against this package
                    pkg = me.split(".")
                    if path.name != "__init__.py":
                        pkg = pkg[:-1]
                    pkg = pkg[: len(pkg) - node.level + 1]
                    base = ".".join([*pkg, base] if base else pkg)
                names = [base, *(f"{base}.{a.name}" for a in node.names)]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            else:
                continue
            imported.update(n for n in names if n != me)
    orphans = [
        _module_name(p) for p in PKG_FILES
        if p.name not in ("__init__.py", "__main__.py")
        and _module_name(p) not in imported
    ]
    assert not orphans, orphans
