"""Dead-code guard: every top-level function and class of the package
must be referenced by some ``.py`` file of the repository (library,
tools, benchmarks, tests) outside its own body.

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
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            used = node.name in _names(t, skip=node) or any(
                node.name in r for g, r in refs.items() if g != f
            )
            if not used:
                dead.append(f"{os.path.relpath(f, ROOT)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(sorted(dead))
