"""Static lint over the package source: driver-local literal tables go
through ``catalog.local_relation``.

``spark.createDataFrame(<python list>, schema)`` plans a Python RDD
(``Scan ExistingRDD`` over ``applySchemaToPythonRDD``), so every plan that
reads the literal forks Python workers, and a broadcast of it runs a Spark
job in them.  ``local_relation`` builds the same table as a JVM
``LocalRelation``.  This lint pins that no package code outside the helper
calls ``createDataFrame`` at all, so the Python-RDD path cannot come back
through a new literal table.
"""

from __future__ import annotations

import ast
import os

import etl_for_ecol_fusion_database_spark as pkg

PKG_DIR = os.path.dirname(os.path.abspath(pkg.__file__))
#: the one function allowed to call createDataFrame: (module path, function)
HELPER = ("catalog.py", "local_relation")


def _create_dataframe_calls(path: str):
    """(function name, line) of every ``*.createDataFrame(...)`` call in
    ``path``, attributed to its innermost enclosing function."""
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    found: list[tuple[str, int]] = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                found.append((fn, child.lineno))
            walk(child, name)

    walk(tree, "<module>")
    return found


def test_no_create_dataframe_outside_local_relation():
    offenders: list[str] = []
    helper_calls = 0
    for root, _dirs, files in os.walk(PKG_DIR):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG_DIR)
            for fn, line in _create_dataframe_calls(path):
                if (rel, fn) == HELPER:
                    helper_calls += 1
                else:
                    offenders.append(f"{rel}:{line} in {fn}()")
    assert not offenders, (
        "package code calls createDataFrame directly (a Python-RDD scan for "
        "a list; build literal tables with catalog.local_relation):\n"
        + "\n".join(offenders)
    )
    # the lint would pass vacuously if the helper moved or were renamed
    assert helper_calls, f"no createDataFrame call found in {HELPER}"

