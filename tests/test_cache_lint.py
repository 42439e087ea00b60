"""Grep-driven cache-lifecycle lint (VERDICT-r6 item 4).

Every ``.cache()`` / ``.persist()`` call site in the package must
either be RELEASED (an ``unpersist`` within the following 80 source
lines — the eager-materialization pattern: finally blocks,
the pagerank loop) or carry an OWNERSHIP MARKER — a nearby comment
containing "cache"/"persist" that says who reuses the table and what
frees it (the lazy-operator pattern: the returned DataFrame's lineage
still references the cached table, so per-call eager unpersist is
impossible; lifecycle is the dedup module's Cache note — session-
scoped, LRU-evicted MEMORY_AND_DISK, reclaimable via
``spark.catalog.clearCache()``).

AST-based (not regex over raw lines) so mentions of ``.cache()``
inside comments and docstrings don't trip it.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "proglog_spark"

MARKER_WINDOW_ABOVE = 7  # lines above the call expression's start
UNPERSIST_LOOKAHEAD = 80  # lines after the call expression's end


def _cache_call_sites(tree: ast.AST):
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("cache", "persist")
        ):
            yield node


def test_every_cache_site_has_lifecycle():
    violations = []
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        lines = src.splitlines()
        for call in _cache_call_sites(ast.parse(src)):
            start = call.lineno  # 1-based, start of the chained expr
            end = call.end_lineno or start
            window = lines[max(0, start - 1 - MARKER_WINDOW_ABOVE) : end]
            has_marker = any(
                ln.lstrip().startswith("#")
                and ("cach" in ln.lower() or "persist" in ln.lower())
                for ln in window
            )
            lookahead = "\n".join(lines[end : end + UNPERSIST_LOOKAHEAD])
            if not has_marker and "unpersist" not in lookahead:
                violations.append(f"{path.relative_to(PACKAGE.parent)}:{end}")
    assert not violations, (
        "cache/persist sites without an ownership marker comment or a "
        f"nearby unpersist: {violations} — document who reuses the "
        "table and what frees it (see tests/test_cache_lint.py)"
    )
