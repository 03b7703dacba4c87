"""Every top-level function and class in the engine has a caller
outside the tests.

Code that only tests reach is kept passing while no query,
``Pipeline``, prep run, benchmark or tool depends on it. So, read off
the source: each top-level function and class of the package, private
ones included (dunder names aside), is named somewhere in the package
(outside its own definition), in ``tools/``, ``perfbench/``,
``bench.py``, ``pipeline.py`` or ``__spark_entry__.py``.

A name counts when code refers to it: a name, an attribute or an
imported name. Prose does not count: module, class and function
docstrings, the values of ``doc=`` keywords and the oracle SQL passed
to the registry's ``_register(...)`` are skipped (code interpolated
into an f-string there still counts). A word of any other string
literal does count, because some names are looked up by string. A
query registered with ``_register(...)`` is used by the registry.
There is no allow-list.
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
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _is_register(call: ast.AST) -> bool:
    return (
        isinstance(call, ast.Call)
        and isinstance(call.func, ast.Name)
        and call.func.id == "_register"
    )


def _prose(tree: ast.AST) -> set[int]:
    """ids of the string constants in ``tree`` that are prose:
    docstrings, ``doc=`` values and ``_register``'s oracle SQL."""
    prose = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEFS)) and ast.get_docstring(node):
            prose.append(node.body[0].value)
        if isinstance(node, ast.Call):
            prose += [k.value for k in node.keywords if k.arg == "doc"]
            if _is_register(node):
                prose += node.args[1:2]
                prose += [k.value for k in node.keywords if k.arg == "oracle"]
    return {
        id(c)
        for p in prose
        for c in ast.walk(p)
        if isinstance(c, ast.Constant) and isinstance(c.value, str)
    }


def _references(tree: ast.AST):
    """(name, line) of every name the code of ``tree`` refers to."""
    prose = _prose(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                yield alias.name, node.lineno
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in prose
        ):
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
                    isinstance(node, _DEFS)
                    and not (node.name.startswith("__") and node.name.endswith("__"))
                    and not any(map(_is_register, node.decorator_list))
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
