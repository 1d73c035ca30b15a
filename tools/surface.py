#!/usr/bin/env python3
"""List the test-only surface of ``lakeflow/``.

Prints every top-level function and class method defined under
``lakeflow/`` that no code outside ``tests/`` reaches, one
``module.name`` or ``module.Class.method`` per line, sorted.

Reachability is by name, over the AST, and transitive:

- The roots are every Python file outside ``lakeflow/`` and ``tests/``
  (``bench.py``, ``__spark_entry__.py``, ``perfbench/``, ``tools/``),
  plus the module-level and class-level statements of ``lakeflow/``
  itself (the registry tables, constants, decorators, defaults).
- A definition is reached when a reached piece of code names it: a bare
  name, an attribute, or a string constant holding a dotted name (the
  tracer binds methods with ``getattr``).
- Names match across modules, so a reference to ``read`` reaches every
  ``read``. The scan can miss test-only code that shares a name with
  live code; it never reports live code as test-only.
- Dunder methods are always reached, since Python calls them.

Usage: python tools/surface.py
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "lakeflow")
SKIP_DIRS = {"tests", "lakeflow", "__pycache__"}


def _names(nodes: list[ast.AST]) -> set[str]:
    """Every identifier a piece of code refers to."""
    out: set[str] = set()
    for root in nodes:
        for n in ast.walk(root):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                parts = n.value.split(".")
                if all(p.isidentifier() for p in parts):
                    out.update(parts)
    return out


def _py_files(top: str, skip: set[str]) -> list[str]:
    out = []
    for root, dirs, files in os.walk(top):
        dirs[:] = sorted(d for d in dirs if d not in skip and not d.startswith("."))
        out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def find_test_only() -> list[str]:
    """Qualified names of the definitions only tests reach."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    defs: dict[str, ast.AST] = {}  # qualified name -> definition
    roots: set[str] = set()
    for path in _py_files(PKG, {"__pycache__"}):
        mod = os.path.relpath(path, PKG)[: -len(".py")].replace(os.sep, ".")
        for node in _parse(path).body:
            if isinstance(node, funcs):
                defs[f"{mod}.{node.name}"] = node
            elif isinstance(node, ast.ClassDef):
                roots |= _names(node.bases + node.decorator_list + node.keywords)
                for item in node.body:
                    name = getattr(item, "name", "")
                    dunder = name.startswith("__") and name.endswith("__")
                    if isinstance(item, funcs) and not dunder:
                        defs[f"{mod}.{node.name}.{item.name}"] = item
                    else:
                        roots |= _names([item])
            else:
                roots |= _names([node])
    for path in _py_files(REPO, SKIP_DIRS):
        if os.path.abspath(path) != os.path.abspath(__file__):
            roots |= _names([_parse(path)])

    reached: set[str] = set()
    frontier = roots
    while frontier:
        new = {q for q, d in defs.items() if q not in reached and d.name in frontier}
        reached |= new
        frontier = _names([defs[q] for q in new])
    return sorted(set(defs) - reached)


def main() -> None:
    for q in find_test_only():
        print(q)


if __name__ == "__main__":
    main()
