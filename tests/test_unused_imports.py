"""No module under ``datavault4dbt_spark/`` imports a name it never uses.

An AST scan of every module-level import: the bound name must appear as
a name somewhere in the module. A deliberate re-export is marked with
``noqa`` on its line, like ``plans/delta.py``'s interface-parity
import. ``from __future__`` imports are exempt."""

import ast
import os

from datavault4dbt_spark import context

PKG = os.path.dirname(os.path.abspath(context.__file__))


def _unused_imports(source: str) -> list:
    tree = ast.parse(source)
    lines = source.splitlines()
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    found = []
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        for alias in node.names:
            name = (alias.asname or alias.name).split(".")[0]
            if name not in used and "noqa" not in lines[alias.lineno - 1]:
                found.append(f"{alias.lineno}: {name}")
    return found


def test_scan_flags_unused_and_honours_noqa():
    src = ("from __future__ import annotations\n"
           "import os\n"
           "from a import (b,\n"
           "               c)  # noqa: F401\n"
           "from d import e as f, g\n"
           "print(g)\n")
    assert _unused_imports(src) == ["2: os", "3: b", "5: f"]


def test_no_unused_module_imports():
    found = {}
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    hits = _unused_imports(fh.read())
                if hits:
                    found[os.path.relpath(path, PKG)] = hits
    assert not found, found
