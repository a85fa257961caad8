#!/usr/bin/env python
"""Count code lines per module of the ``large_csv_etl_spark`` package.

Usage:
    python tools/code_lines.py [--root DIR]

A code line is a physical line that carries at least one token other than
a comment, and that is not part of a docstring (the leading string
statement of a module, class or function, found with ``ast``). Blank
lines, comment-only lines and docstring lines are left out; the lines of
a multi-line string that is not a docstring (an oracle's SQL, say) count.
Prints one ``<lines>  <module>`` row per file, largest first, then the
package total. ``--root`` points at another checkout to count that one.
"""
from __future__ import annotations

import argparse
import ast
import io
import os
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
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
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of code lines in one Python source text."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def package_counts(root: str) -> dict[str, int]:
    """``{module path relative to root: code lines}`` for every .py file
    under ``root/large_csv_etl_spark``."""
    pkg = os.path.join(root, "large_csv_etl_spark")
    out: dict[str, int] = {}
    for d, dirs, files in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    out[os.path.relpath(p, root)] = code_lines(fh.read())
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument(
        "--root",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        help="checkout to count (default: this one)",
    )
    counts = package_counts(ap.parse_args().root)
    for path, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:7d}  {path}")
    print(f"{sum(counts.values()):7d}  total")


if __name__ == "__main__":
    main()
