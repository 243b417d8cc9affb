"""Dead-code guard: every top-level function and class in the package is
named somewhere in the repo's Python outside its own definition — by a
caller, an import, a test or a string. Decorated definitions are exempt:
the workload registry holds its queries through ``@query``, and nothing
has to name them."""

from __future__ import annotations

import ast
import collections
import os
import re

from conftest import REPO

_SKIP_DIRS = {"__pycache__", "spark-warehouse", "metastore_db"}
_WORD = re.compile(r"\w+")


def _python_files() -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(REPO):
        dirnames[:] = [
            d for d in dirnames if d not in _SKIP_DIRS and not d.startswith(".")
        ]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return out


def test_no_unreferenced_top_level_definitions():
    sources = {}
    for path in _python_files():
        with open(path, encoding="utf-8") as f:
            sources[path] = f.read()
    mentions = collections.Counter()
    for text in sources.values():
        mentions.update(_WORD.findall(text))
    pkg = os.path.join(REPO, "ariadne_dbt_spark") + os.sep
    unreferenced = []
    for path, text in sources.items():
        if not path.startswith(pkg):
            continue
        lines = text.splitlines()
        for node in ast.parse(text, path).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.decorator_list:
                continue
            own = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            if mentions[node.name] == _WORD.findall(own).count(node.name):
                rel = os.path.relpath(path, REPO)
                unreferenced.append(f"{rel}:{node.lineno} {node.name}")
    assert unreferenced == [], "delete or use: " + ", ".join(unreferenced)
