"""Every function in the engine releases what it caches.

The SparkContext has one cache manager, shared by every session and
every registered query's child session. A ``persist()`` that outlives
its function is a cached relation nobody releases, and a
``clearCache()`` drops what every other caller cached. So, read off
the source: no ``clearCache`` call anywhere in the package, and a
function that calls ``.persist(``/``.cache(`` also calls
``.unpersist(`` inside a ``finally`` of its own. A lazy result that
reads an intermediate twice takes it from ``session.stage_boundary``,
whose blocks the caller's boundary scope releases (``Query.run``
opens one per query), and nothing else in the package checkpoints.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "yahoofinancedatalake_spark"


def _own_nodes(fn: ast.AST):
    """The nodes of ``fn``'s body, not descending into nested defs."""
    todo = list(ast.iter_child_nodes(fn))
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        yield node
        todo.extend(ast.iter_child_nodes(node))


def _calls(nodes, attrs: set[str]) -> list[ast.Call]:
    return [
        n
        for n in nodes
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in attrs
    ]


def _sources():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE.parent), ast.parse(path.read_text())


def test_no_clear_cache_in_engine():
    found = [
        f"{path}:{call.func.end_lineno}"
        for path, tree in _sources()
        for call in _calls(ast.walk(tree), {"clearCache"})
    ]
    assert found == []


def test_every_persist_is_released_in_finally():
    unreleased = []
    for path, tree in _sources():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            own = list(_own_nodes(fn))
            persists = _calls(own, {"persist", "cache"})
            if not persists:
                continue
            released = any(
                _calls(ast.walk(stmt), {"unpersist"})
                for t in own
                if isinstance(t, ast.Try)
                for stmt in t.finalbody
            )
            if not released:
                line = min(c.func.end_lineno for c in persists)
                unreleased.append(f"{path}:{line} {fn.name}")
    assert unreleased == []


def test_every_materialization_goes_through_stage_boundary():
    """``session.stage_boundary`` is the one place that picks how an
    intermediate is materialized (local or reliable checkpoint), so
    ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` holds only if no other code
    checkpoints directly."""
    found = [
        f"{path}:{call.func.end_lineno}"
        for path, tree in _sources()
        if path.name != "session.py"
        for call in _calls(ast.walk(tree), {"localCheckpoint", "checkpoint"})
    ]
    assert found == []
