"""The engine's settable surface is exactly the conf table in the
``context.py`` module docstring: every ``spark.dv4dbt.*`` key the
package reads and every environment variable it reads must be a row of
that table, and every row must still be read somewhere. A new tuning
knob therefore cannot land without being documented (and reviewed)."""

import ast
import os
import re

from datavault4dbt_spark import context

PKG = os.path.dirname(os.path.abspath(context.__file__))
_KEY = re.compile(r"spark\.dv4dbt\.[A-Za-z0-9_.]*[A-Za-z0-9_]")


def _documented() -> set:
    """First-column entries of the docstring's reST table (the rows
    between its second and third ``===`` rules)."""
    lines = context.__doc__.splitlines()
    rules = [i for i, ln in enumerate(lines) if re.fullmatch(r"=+ +=+", ln)]
    assert len(rules) == 3, "context.py docstring has no conf table"
    rows = lines[rules[1] + 1:rules[2]]
    return {m.group(1) for ln in rows if (m := re.match(r"``([^`]+)``", ln))}


def _docstring_ids(tree) -> set:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)):
                ids.add(id(body[0].value))
    return ids


def _is_environ(node) -> bool:
    return ((isinstance(node, ast.Attribute) and node.attr == "environ")
            or (isinstance(node, ast.Name) and node.id == "environ"))


def _env_key(node) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "<dynamic>"


def _settings_read(tree) -> set:
    found = set()
    skip = _docstring_ids(tree)
    keyed = set()
    for node in ast.walk(tree):
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and id(node) not in skip):
            found.update(_KEY.findall(node.value))
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            keyed.add(id(node.value))
            found.add(_env_key(node.slice))
        elif isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else \
                getattr(fn, "id", None)
            if (isinstance(fn, ast.Attribute) and _is_environ(fn.value)
                    and node.args):
                keyed.add(id(fn.value))
                found.add(_env_key(node.args[0]))
            elif name == "getenv":
                found.add(_env_key(node.args[0]) if node.args
                          else "<dynamic>")
    for node in ast.walk(tree):
        if _is_environ(node) and id(node) not in keyed:
            found.add("<os.environ>")
    return found


def test_settings_read_equal_documented_conf_table():
    found = {}
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                for key in _settings_read(tree):
                    found.setdefault(key, []).append(
                        os.path.relpath(path, PKG))
    assert set(found) == _documented(), found
