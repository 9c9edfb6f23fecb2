"""Dead-code guard: every top-level function or class in the package, and
every top-level assignment to a ``_``-prefixed name, is registered or
referenced somewhere. References are names, attributes,
imports and identifiers inside string values (not docstrings, and not
from the definition's own body), read from the package, the tests, the
scripts, ``bench.py``, ``__spark_entry__.py`` and ``perfbench``."""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "recommedation_system_under_flink_spark"
_SOURCES = (_PKG, "tests", "scripts", "perfbench", "bench.py", "__spark_entry__.py")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(rel: str) -> list[str]:
    path = os.path.join(_REPO, rel)
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the string constants that are module/class/def docstrings."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _refs(node: ast.AST, docstrings: set[int]) -> Counter:
    refs: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            refs[n.id] += 1
        elif isinstance(n, ast.Attribute):
            refs[n.attr] += 1
        elif isinstance(n, ast.alias):
            refs[n.name.rsplit(".", 1)[-1]] += 1
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docstrings
        ):
            refs.update(_IDENT.findall(n.value))
    return refs


def _registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        func = dec.func if isinstance(dec, ast.Call) else dec
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
        if name == "register":
            return True
    return False


def _private_targets(stmt: ast.stmt) -> list[str]:
    """The ``_``-prefixed (not dunder) names a top-level assignment binds."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name)
        and n.id.startswith("_")
        and not n.id.startswith("__")
    ]


def unreferenced_definitions() -> list[str]:
    """``module.name`` of every unregistered, unreferenced top-level
    function or class, and every unreferenced top-level ``_``-prefixed
    constant, in the package."""
    total: Counter = Counter()
    defs = []  # (qualified name, name, own refs)
    for rel in _SOURCES:
        for path in _py_files(rel):
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            docstrings = _docstrings(tree)
            in_pkg = os.path.relpath(path, _REPO).startswith(_PKG + os.sep)
            module = os.path.relpath(path, _REPO)[:-3].replace(os.sep, ".")
            for stmt in tree.body:
                own = _refs(stmt, docstrings)
                total.update(own)
                if (
                    in_pkg
                    and isinstance(
                        stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                    )
                    and not _registered(stmt)
                    and not stmt.name.startswith("__")
                ):
                    defs.append((f"{module}.{stmt.name}", stmt.name, own))
                if in_pkg:
                    defs += [
                        (f"{module}.{name}", name, own)
                        for name in _private_targets(stmt)
                    ]
    return sorted(q for q, name, own in defs if total[name] - own[name] <= 0)


def test_no_unreferenced_definitions():
    dead = unreferenced_definitions()
    assert not dead, f"unregistered and never referenced: {dead}"
