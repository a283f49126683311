"""Dead-code guard: every top-level function, class and upper-case
constant of the package must be referenced by some ``.py`` file of the
repository (library, tools, benchmarks, tests) outside its own
definition.

A reference is any use of the name: a bare name, an attribute, an
import alias, or an identifier-shaped string literal (``getattr`` or
registry lookups). No allow-list: delete what nothing uses."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "wq_data_pipeline_spark")


def _py_files() -> list[str]:
    out = []
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "__pycache__"]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return out


def _names(node: ast.AST, skip: ast.AST | None = None) -> set[str]:
    out: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if n is skip:
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
        stack.extend(ast.iter_child_nodes(n))
    return out


def _defined(node: ast.stmt) -> list[str]:
    """Names a module-level statement defines that the guard checks:
    functions, classes, and upper-case (constant) assignment targets."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return [n for n in names if n.isupper()]


def test_no_unreferenced_top_level_definitions():
    trees = {}
    for f in _py_files():
        with open(f, encoding="utf-8") as fh:
            trees[f] = ast.parse(fh.read(), f)
    refs = {f: _names(t) for f, t in trees.items()}
    dead = []
    for f, t in trees.items():
        if not f.startswith(PKG + os.sep):
            continue
        for node in t.body:
            for name in _defined(node):
                used = name in _names(t, skip=node) or any(
                    name in r for g, r in refs.items() if g != f
                )
                if not used:
                    dead.append(f"{os.path.relpath(f, ROOT)}:{node.lineno} {name}")
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(sorted(dead))
