"""Layering gate: the library packages sit BELOW the declared-query layer,
and ``mount`` sits above the rest of the library.

The order is queries → mount → library: ``operators``, ``functions``,
``sources``, ``streaming`` and ``mount`` never import
``simsearch_spark.queries``, and ``operators``, ``functions``,
``sources`` and ``streaming`` never import ``simsearch_spark.mount``.
There is no exception list.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "simsearch_spark"
LIBRARY = ("operators", "functions", "sources", "streaming")


def _imports_of(path: Path, layer: str) -> set[tuple[str, str, tuple[str, ...]]]:
    """Every import of ``simsearch_spark.<layer>`` (any submodule, any
    form, at any nesting depth) in one module."""
    target = f"simsearch_spark.{layer}"
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.module:
            names = tuple(sorted(a.name for a in node.names))
            if node.module == target or node.module.startswith(target + "."):
                found.add((path.name, node.module, names))
            elif node.module == "simsearch_spark" and layer in names:
                found.add((path.name, target, names))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name == target or a.name.startswith(target + "."):
                    found.add((path.name, a.name, ()))
    return found


def _upward(pkgs: tuple[str, ...], layer: str) -> list:
    return sorted(
        (f"{pkg}/{f}", mod, names)
        for pkg in pkgs
        for path in sorted((PKG / pkg).rglob("*.py"))
        for f, mod, names in _imports_of(path, layer)
    )


def test_library_packages_never_import_queries():
    bad = _upward(LIBRARY + ("mount",), "queries")
    assert not bad, f"library modules import the declared-query layer: {bad}"


def test_library_packages_never_import_mount():
    bad = _upward(LIBRARY, "mount")
    assert not bad, f"library modules import the mount layer: {bad}"
