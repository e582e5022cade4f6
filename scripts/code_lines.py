#!/usr/bin/env python
"""Count the code lines of the Python files under a directory.

A code line holds at least one token that is not a comment, and is not
part of a docstring (the string that opens a module, class or function
body). Blank lines, comment-only lines and docstring lines are left
out. Needs no Spark.

Usage: python scripts/code_lines.py [dir]

Prints one ``count path`` line per file, then the total on the last
line.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
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


def count_source(src: str) -> int:
    """Code lines of one module's source text."""
    docs = _docstring_lines(ast.parse(src))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def count_tree(root: str) -> dict[str, int]:
    """{path relative to ``root``: code lines} for every ``.py`` file."""
    out: dict[str, int] = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(d, fn)
                with open(p, encoding="utf-8") as f:
                    out[os.path.relpath(p, root)] = count_source(f.read())
    return out


def main(argv: list[str]) -> int:
    counts = count_tree(argv[0] if argv else "ripple_server_spark")
    for rel, n in counts.items():
        print(f"{n:7d} {rel}")
    print(sum(counts.values()))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
