"""Layering gate: the library packages sit BELOW the declared-query layer.

``operators``, ``functions``, ``sources`` and ``streaming`` must never
import ``simsearch_spark.queries``.  ``mount`` still reaches up for a few
text-family constants and helpers; those sites are listed here
explicitly, and the list may only shrink — a new upward import fails,
and so does a listed site that no longer exists (delete its entry).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "simsearch_spark"

#: (module file, imported module, imported names) — text-family only
MOUNT_QUERY_IMPORTS = {
    ("artifacts.py", "simsearch_spark.queries.vocab", ("lm_count_tables", "lm_doc_bigrams")),
    ("artifacts.py", "simsearch_spark.queries.pipeline", ("MINHASH_T", "N_BANDS", "N_HASHES")),
    ("audit.py", "simsearch_spark.queries.vocab", ("lm_doc_bigrams", "lm_score")),
    ("bpe.py", "simsearch_spark.queries.vocab", ("BPE_MERGES",)),
    ("maintain.py", "simsearch_spark.queries.vocab", ("lm_doc_bigrams",)),
    ("serve.py", "simsearch_spark.queries.vocab", ("lm_doc_bigrams", "lm_score")),
}


def _query_imports(path: Path) -> set[tuple[str, str, tuple[str, ...]]]:
    """Every import of ``simsearch_spark.queries`` (any submodule, any
    form, at any nesting depth) in one module."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.module:
            names = tuple(sorted(a.name for a in node.names))
            if node.module.startswith("simsearch_spark.queries"):
                found.add((path.name, node.module, names))
            elif node.module == "simsearch_spark" and "queries" in names:
                found.add((path.name, "simsearch_spark.queries", names))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("simsearch_spark.queries"):
                    found.add((path.name, a.name, ()))
    return found


def test_library_packages_never_import_queries():
    bad = {
        (f"{pkg}/{f}", mod, names)
        for pkg in ("operators", "functions", "sources", "streaming")
        for path in sorted((PKG / pkg).rglob("*.py"))
        for f, mod, names in _query_imports(path)
    }
    assert not bad, f"library modules import the declared-query layer: {sorted(bad)}"


def test_mount_query_imports_match_the_shrinking_list():
    found = set()
    for path in sorted((PKG / "mount").rglob("*.py")):
        found |= _query_imports(path)
    assert found - MOUNT_QUERY_IMPORTS == set(), (
        f"new upward imports from mount/: {sorted(found - MOUNT_QUERY_IMPORTS)}"
    )
    assert MOUNT_QUERY_IMPORTS - found == set(), (
        "listed sites no longer exist; delete their entries: "
        f"{sorted(MOUNT_QUERY_IMPORTS - found)}"
    )
    assert not any("ivfpq" in mod or "cluster" in mod for _f, mod, _n in found)
