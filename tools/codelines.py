"""Count code lines of Python files.

A line counts when it holds a token that is not a comment, a newline
or an indent, and that lies outside every module, class and function
docstring. Blank lines, comment-only lines and docstring lines do not
count; every line of a multi-line statement does.

Usage: python tools/codelines.py [path ...]
Paths are files or directories (searched for ``*.py``); the default
is the engine package. Prints one ``count path`` line per file and a
total line.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def _docstring_spans(tree: ast.AST) -> list[tuple[tuple[int, int], tuple[int, int]]]:
    """(start, end) (row, col) positions of every docstring."""
    spans = []
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            d = body[0].value
            spans.append(
                ((d.lineno, d.col_offset), (d.end_lineno, d.end_col_offset))
            )
    return spans


def code_lines(source: str) -> int:
    """The number of code lines in ``source`` (see the module doc)."""
    spans = _docstring_spans(ast.parse(source))
    rows: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        if any(s <= tok.start and tok.end <= e for s, e in spans):
            continue
        rows.update(range(tok.start[0], tok.end[0] + 1))
    return len(rows)


def _files(paths: list[Path]) -> list[Path]:
    out = []
    for p in paths:
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(argv: list[str]) -> int:
    root = Path(__file__).resolve().parents[1]
    paths = [Path(a) for a in argv] or [root / "yahoofinancedatalake_spark"]
    total = 0
    for f in _files(paths):
        n = code_lines(f.read_text())
        total += n
        print(f"{n:7d} {f}")
    print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
