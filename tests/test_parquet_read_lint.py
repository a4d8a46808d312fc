"""Static lint over the package source: parquet tables are read through
``catalog.read_parquet``.

A bare ``spark.read.parquet(path)`` runs a one-task Spark job
(``mergeSchemasInParallel``) to infer the schema from one footer;
``read_parquet`` reads that footer on the driver and hands the schema to
``.schema(...)``.  This lint pins that no package code outside it reads
parquet without a given schema, except a deliberate ``mergeSchema`` read,
which must look at every footer.
"""

from __future__ import annotations

import ast
import os

import etl_for_ecol_fusion_database_spark as pkg

PKG_DIR = os.path.dirname(os.path.abspath(pkg.__file__))
#: the one function allowed to read parquet without a schema
HELPER = ("catalog.py", "read_parquet")


def _reader_chain(call: ast.Call) -> list[ast.AST]:
    """The receiver chain of ``<...>.parquet(...)``, innermost last."""
    chain, node = [], call.func.value
    while isinstance(node, (ast.Call, ast.Attribute)):
        chain.append(node)
        node = node.func if isinstance(node, ast.Call) else node.value
    return chain


def _schemaless(chain: list[ast.AST]) -> bool:
    """Whether a ``.read`` chain reaches ``.parquet`` with no
    ``.schema(...)`` call and no ``mergeSchema`` option."""
    for node in chain:
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "schema":
                return False
            if node.func.attr in ("option", "options") and any(
                isinstance(c, ast.Constant) and c.value == "mergeSchema"
                for c in ast.walk(node)
            ):
                return False
    return True


def _parquet_reads(path: str):
    """(function name, line, schemaless) of every ``<...>.read...parquet(...)``
    call in ``path``, attributed to its innermost enclosing function."""
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    found: list[tuple[str, int, bool]] = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "parquet"
            ):
                chain = _reader_chain(child)
                if any(isinstance(n, ast.Attribute) and n.attr == "read" for n in chain):
                    found.append((fn, child.lineno, _schemaless(chain)))
            walk(child, name)

    walk(tree, "<module>")
    return found


def test_no_schemaless_parquet_read_outside_read_parquet():
    offenders: list[str] = []
    helper_reads = 0
    for root, _dirs, files in os.walk(PKG_DIR):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG_DIR)
            for fn, line, schemaless in _parquet_reads(path):
                if (rel, fn) == HELPER:
                    helper_reads += 1
                elif schemaless:
                    offenders.append(f"{rel}:{line} in {fn}()")
    assert not offenders, (
        "package code reads parquet without a schema (a Spark job per read "
        "to infer it; use catalog.read_parquet):\n" + "\n".join(offenders)
    )
    # the lint would pass vacuously if the helper moved or were renamed
    assert helper_reads, f"no parquet read found in {HELPER}"
