#!/usr/bin/env python3
"""Count the lines of code under ``lakeflow/`` (``.py`` and ``.sql``).

Prints two numbers: every line (raw), and the lines left after dropping
blank lines, comments (``#`` in Python, ``--`` in SQL) and Python
docstrings. A line counts as code when any token of it is code, so a
statement with a trailing comment counts once.

Usage: python tools/loc.py
"""

from __future__ import annotations

import ast
import io
import os
import tokenize

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "lakeflow")


def _docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers spanned by module, class and function docstrings."""
    out: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        first = node.body[0] if node.body else None
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            out.update(range(first.lineno, first.end_lineno + 1))
    return out


def py_code_lines(src: str) -> int:
    docs = _docstring_lines(ast.parse(src))
    skip = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
            tokenize.DEDENT, tokenize.ENDMARKER}
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in skip or tok.start[0] in docs:
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code)


def sql_code_lines(src: str) -> int:
    return sum(1 for ln in src.splitlines() if ln.strip() and not ln.strip().startswith("--"))


def main() -> None:
    raw = code = 0
    for root, dirs, names in os.walk(ROOT):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(names):
            if not name.endswith((".py", ".sql")):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as fh:
                src = fh.read()
            raw += len(src.splitlines())
            code += py_code_lines(src) if name.endswith(".py") else sql_code_lines(src)
    print(f"raw {raw}")
    print(f"code {code}")


if __name__ == "__main__":
    main()
