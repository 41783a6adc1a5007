#!/usr/bin/env python
"""Count the code lines of Python sources: every line that holds a
token of code, leaving out blank lines, comment-only lines and
docstrings (the string that opens a module, class or function).

    python scripts/code_lines.py searchengine_spark
    python scripts/code_lines.py searchengine_spark/index scripts --files

Prints "<lines> <path>" for each argument (a file or a directory,
walked for *.py), per file with --files, and a total when given more
than one path.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import tokenize

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        first = node.body[0] if node.body else None
        if (isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Lines of `source` that carry code."""
    doc = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NON_CODE:
            continue
        code.update(
            n for n in range(tok.start[0], tok.end[0] + 1) if n not in doc
        )
    return len(code)


def python_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files if f.endswith(".py")
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--files", action="store_true",
                    help="also print each file's count")
    args = ap.parse_args()
    total = 0
    for path in args.paths:
        n = 0
        for f in python_files(path):
            with open(f, encoding="utf-8") as fh:
                c = code_lines(fh.read())
            if args.files:
                print(c, f)
            n += c
        print(n, path)
        total += n
    if len(args.paths) > 1:
        print(total, "total")


if __name__ == "__main__":
    main()
