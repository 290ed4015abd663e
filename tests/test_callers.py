"""Every package import in the scripts around the package resolves.

``tools/``, ``bench.py``, ``__spark_entry__.py`` and ``perfbench/``
import the package, mostly lazily inside functions, and most of them
run in no other test.  A deleted or renamed package name would break
them silently; this guard reads their source (AST only, nothing is
executed) and imports each named package module, without a Spark
session.
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
