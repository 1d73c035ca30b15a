#!/usr/bin/env python3
"""List the test-only surface of ``lakeflow/``.

Prints every top-level function and class method defined under
``lakeflow/`` that no code outside ``tests/`` reaches, one
``module.name`` or ``module.Class.method`` per line, sorted.

Reachability is over the AST, transitive, and class-aware:

- The roots are every Python file outside ``lakeflow/`` and ``tests/``
  (``bench.py``, ``__spark_entry__.py``, ``perfbench/``, ``tools/``),
  plus the module-level and class-level statements of ``lakeflow/``
  itself (the registry tables, constants, decorators, defaults).
- A bare name reaches the module-level functions of that name. A
  method is reached only through an attribute or a dotted string.
- An attribute whose receiver the AST resolves to a ``lakeflow`` class
  reaches that class's method only. ``self.m`` and ``cls.m`` resolve to
  the enclosing class (no ``lakeflow`` class subclasses another, so
  ``self`` never stands for an override); ``Class.m`` and
  ``Class(...).m`` to ``Class``; and a local variable to ``Class`` when
  every assignment to it in the enclosing function is ``Class(...)``.
- Any other attribute, and each part of a string constant holding a
  dotted name, reaches every function and method of that name. So does
  a resolved receiver whose class defines no such method. The scan can
  therefore miss test-only code that shares its name with live code
  behind an unresolved receiver; it does not report live code as
  test-only.
- Dunder methods are always reached, since Python calls them.

Usage: python tools/surface.py
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "lakeflow")
SKIP_DIRS = {"tests", "lakeflow", "__pycache__"}
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


class _Index:
    """The definitions of ``lakeflow/``, by the names code reaches them by."""

    def __init__(self) -> None:
        self.defs: dict[str, ast.AST] = {}  # qualified name -> definition
        self.funcs: dict[str, set[str]] = defaultdict(set)  # name -> module functions
        self.methods: dict[str, set[str]] = defaultdict(set)  # name -> methods
        # class name -> {method name -> qualified name}, one dict per class
        self.classes: dict[str, list[dict[str, str]]] = defaultdict(list)

    def by_name(self, name: str) -> set[str]:
        return self.funcs[name] | self.methods[name]

    def on_class(self, cls: str, name: str) -> set[str]:
        return {m[name] for m in self.classes[cls] if name in m}


def _terminal(node: ast.AST) -> str | None:
    """``X`` for ``X`` or ``a.b.X``."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _walk(node: ast.AST, cls: str | None):
    """``ast.walk`` that pairs each node with the class ``self`` names
    there: none inside a class nested in a function."""
    yield node, cls
    for child in ast.iter_child_nodes(node):
        yield from _walk(child, None if isinstance(child, ast.ClassDef) else cls)


def _constructed(value: ast.AST, index: _Index) -> str | None:
    """The class ``value`` instantiates, when it is ``Class(...)``."""
    if isinstance(value, ast.Call):
        name = _terminal(value.func)
        if name in index.classes:
            return name
    return None


def _instances(unit: ast.AST, index: _Index) -> dict[str, str]:
    """Local variable -> class, for the variables every assignment in
    ``unit`` binds to ``Class(...)`` (tuple unpacking included)."""
    bound: dict[int, str | None] = {}  # id(target Name) -> class or None
    for n in ast.walk(unit):
        if isinstance(n, ast.Assign) and len(n.targets) == 1:
            pairs = [(n.targets[0], n.value)]
            if isinstance(n.targets[0], ast.Tuple) and isinstance(n.value, ast.Tuple):
                pairs = list(zip(n.targets[0].elts, n.value.elts))
            for target, value in pairs:
                if isinstance(target, ast.Name):
                    bound[id(target)] = _constructed(value, index)
    kinds: dict[str, set[str | None]] = defaultdict(set)
    for n in ast.walk(unit):
        if isinstance(n, ast.Name) and isinstance(n.ctx, (ast.Store, ast.Del)):
            kinds[n.id].add(bound.get(id(n)))
        elif isinstance(n, ast.arg):
            kinds[n.arg].add(None)
    return {v: c for v, ks in kinds.items() if len(ks) == 1 and (c := next(iter(ks)))}


def _receiver_classes(
    node: ast.AST, cls: str | None, local: dict[str, str], index: _Index
) -> set[str]:
    """The lakeflow classes an attribute's receiver resolves to (empty
    when the AST does not say)."""
    if isinstance(node, ast.Name):
        if node.id in ("self", "cls") and cls is not None:
            return {cls}
        if node.id in index.classes:
            return {node.id}
        if node.id in local:
            return {local[node.id]}
    c = _constructed(node, index)
    return {c} if c else set()


def _refs(unit: ast.AST, cls: str | None, index: _Index) -> set[str]:
    """Qualified names of the definitions a piece of code reaches;
    ``cls`` is the class it sits in."""
    local = _instances(unit, index)
    out: set[str] = set()
    for n, here in _walk(unit, cls):
        if isinstance(n, ast.Name):
            out |= index.funcs[n.id]
        elif isinstance(n, ast.Attribute):
            hits: set[str] = set()
            for c in _receiver_classes(n.value, here, local, index):
                hits |= index.on_class(c, n.attr)
            out |= hits or index.by_name(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            parts = n.value.split(".")
            if len(parts) > 1 and all(p.isidentifier() for p in parts):
                for p in parts:
                    out |= index.by_name(p)
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
    index = _Index()
    owner: dict[str, str | None] = {}  # qualified name -> enclosing class
    roots: list[tuple[ast.AST, str | None]] = []  # (code, enclosing class)
    for path in _py_files(PKG, {"__pycache__"}):
        mod = os.path.relpath(path, PKG)[: -len(".py")].replace(os.sep, ".")
        for node in _parse(path).body:
            if isinstance(node, _FUNCS):
                q = f"{mod}.{node.name}"
                index.defs[q], owner[q] = node, None
                index.funcs[node.name].add(q)
            elif isinstance(node, ast.ClassDef):
                methods: dict[str, str] = {}
                index.classes[node.name].append(methods)
                roots += [(n, None) for n in node.bases + node.decorator_list + node.keywords]
                for item in node.body:
                    name = getattr(item, "name", "")
                    if isinstance(item, _FUNCS) and not (
                        name.startswith("__") and name.endswith("__")
                    ):
                        q = f"{mod}.{node.name}.{name}"
                        index.defs[q], owner[q] = item, node.name
                        index.methods[name].add(q)
                        methods[name] = q
                    else:
                        roots.append((item, node.name))
            else:
                roots.append((node, None))
    for path in _py_files(REPO, SKIP_DIRS):
        if os.path.abspath(path) != os.path.abspath(__file__):
            roots += [(node, None) for node in _parse(path).body]

    frontier: set[str] = set()
    for code, cls in roots:
        frontier |= _refs(code, cls, index)
    reached: set[str] = set()
    while frontier:
        reached |= frontier
        frontier = {
            q for r in frontier for q in _refs(index.defs[r], owner[r], index)
        } - reached
    return sorted(set(index.defs) - reached)


def main() -> None:
    for q in find_test_only():
        print(q)


if __name__ == "__main__":
    main()
