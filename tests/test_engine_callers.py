"""Every public function and class in the engine has a caller outside
the tests.

Code that only tests reach is kept passing while no query,
``Pipeline``, prep run, benchmark or tool depends on it. So, read off
the source: each public top-level function and class of the package
is named somewhere in the package (outside its own definition), in
``tools/``, ``perfbench/``, ``bench.py``, ``pipeline.py`` or
``__spark_entry__.py``. A name counts when it appears in code (a name,
an attribute or an imported name) or as a word of a string literal,
which covers names looked up by string and the docstrings and ``doc=``
texts that point at an operator; so a function that only a docstring
names still passes. A query registered with the registry's
``_register(...)`` decorator is used by the registry.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "yahoofinancedatalake_spark"
CALLERS = (
    *sorted(PACKAGE.rglob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / "bench.py",
    ROOT / "pipeline.py",
    ROOT / "__spark_entry__.py",
)
_WORD = re.compile(r"[A-Za-z_]\w*")


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "_register"
        for d in node.decorator_list
    )


def _references(tree: ast.AST):
    """(name, line) of every name ``tree`` refers to."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                yield alias.name, node.lineno
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            for word in _WORD.findall(node.value):
                yield word, node.lineno


def test_every_public_function_has_a_caller():
    defs = {}  # (path, name) -> the lines of its definition
    refs = defaultdict(list)  # name -> [(path, line)]
    for path in CALLERS:
        tree = ast.parse(path.read_text())
        if path.is_relative_to(PACKAGE):
            for node in tree.body:
                if (
                    isinstance(
                        node,
                        (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                    )
                    and not node.name.startswith("_")
                    and not _registered(node)
                ):
                    span = range(node.lineno, node.end_lineno + 1)
                    defs[path, node.name] = span
        for name, line in _references(tree):
            refs[name].append((path, line))
    uncalled = sorted(
        f"{path.relative_to(ROOT)}::{name}"
        for (path, name), span in defs.items()
        if all(p == path and line in span for p, line in refs[name])
    )
    assert uncalled == []
