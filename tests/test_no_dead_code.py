"""Dead-code guard: every top-level function or class in the package must be
referenced somewhere in the repo's Python sources.

No Spark: the check parses source files with ``ast`` and counts identifier
uses (names, attributes, import aliases and identifier-shaped string
literals, which covers ``getattr``-style dispatch).  A definition's own name
is not a use, so a helper called only inside its own module still counts as
referenced.  Decorated definitions are exempt: the decorator is the
registration (``queries.q``, ``monitoring`` registries, pandas UDFs).
"""

from __future__ import annotations

import ast
import os
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "mysql_cdc_rs_spark")
SKIP_DIRS = {"__pycache__", "spark-warehouse"}


def _python_files() -> list[str]:
    out = []
    for d, dirs, files in os.walk(REPO):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x not in SKIP_DIRS]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return out


def _uses(tree: ast.AST) -> Counter:
    c: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            c[node.id] += 1
        elif isinstance(node, ast.Attribute):
            c[node.attr] += 1
        elif isinstance(node, ast.alias):
            c[node.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                c[node.value] += 1
    return c


def unreferenced_definitions() -> list[str]:
    uses: Counter = Counter()
    defs = []
    for path in _python_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        uses += _uses(tree)
        if path.startswith(PACKAGE + os.sep):
            rel = os.path.relpath(path, REPO)
            defs += [
                (rel, node.name)
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
            ]
    return sorted(f"{rel}::{name}" for rel, name in defs if not uses[name])


def test_every_package_definition_is_referenced():
    dead = unreferenced_definitions()
    assert not dead, "defined but never referenced:\n  " + "\n  ".join(dead)
