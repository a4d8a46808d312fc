"""Static lint over the package source: fold/Arrow kernel dispatch goes
through ``kernels.use_arrow``, and numpy, pandas and pyarrow are required.

Six operators pair a fold plan with an Arrow kernel.  When each carried its
own dispatch, the copies drifted: some rejected a misspelled kernel name,
others silently ran the slow fold on it, and their ``"auto"`` rules
differed.  This lint fails if any package code outside ``use_arrow``
compares a ``kernel``/``pair_kernel`` argument to a string literal, or if
any code at all imports numpy, pandas or pyarrow under an
``ImportError``/``ModuleNotFoundError`` handler: the package does not run
without them, so such a guard only keeps an unreachable path alive.
"""

from __future__ import annotations

import ast
import os

import etl_for_ecol_fusion_database_spark as pkg

PKG_DIR = os.path.dirname(os.path.abspath(pkg.__file__))
#: the one dispatch function: (module path, function)
DISPATCH = ("kernels.py", "use_arrow")
KERNEL_ARGS = {"kernel", "pair_kernel"}
REQUIRED_DEPS = {"numpy", "pandas", "pyarrow"}


def _is_kernel_compare(node) -> bool:
    if not isinstance(node, ast.Compare):
        return False
    sides = [node.left, *node.comparators]
    names = any(isinstance(s, ast.Name) and s.id in KERNEL_ARGS for s in sides)
    literal = any(
        isinstance(c, ast.Constant) and isinstance(c.value, str)
        for s in sides
        for c in ast.walk(s)
    )
    return names and literal


def _is_deps_probe(node) -> bool:
    if not isinstance(node, ast.Try):
        return False
    caught = {
        n.id
        for h in node.handlers
        if h.type is not None
        for n in ast.walk(h.type)
        if isinstance(n, ast.Name)
    }
    if not caught & {"ImportError", "ModuleNotFoundError"}:
        return False
    for stmt in node.body:
        for n in ast.walk(stmt):
            if isinstance(n, ast.Import) and any(
                a.name.split(".")[0] in REQUIRED_DEPS for a in n.names
            ):
                return True
            if isinstance(n, ast.ImportFrom) and (n.module or "").split(".")[0] in REQUIRED_DEPS:
                return True
    return False


def _dispatch_sites(path: str):
    """(function name, line, kind) of every kernel-name comparison and
    guarded import of a required dependency in ``path``, attributed to its
    innermost function."""
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    found: list[tuple[str, int, str]] = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if _is_kernel_compare(child):
                found.append((fn, child.lineno, "kernel-name comparison"))
            if _is_deps_probe(child):
                found.append((fn, child.lineno, "guarded import of a required dependency"))
            walk(child, name)

    walk(tree, "<module>")
    return found


def test_kernel_dispatch_only_in_use_arrow():
    offenders: list[str] = []
    kinds_in_dispatch: set[str] = set()
    for root, _dirs, files in os.walk(PKG_DIR):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG_DIR)
            for fn, line, kind in _dispatch_sites(path):
                if (rel, fn) == DISPATCH and kind == "kernel-name comparison":
                    kinds_in_dispatch.add(kind)
                else:
                    offenders.append(f"{rel}:{line} in {fn}(): {kind}")
    assert not offenders, (
        "kernel dispatch outside kernels.use_arrow (call it instead), or an "
        "import of a required dependency guarded as optional:\n"
        + "\n".join(offenders)
    )
    # the lint would pass vacuously if the dispatch moved or were renamed
    assert kinds_in_dispatch == {"kernel-name comparison"}, (
        f"{DISPATCH} no longer holds the dispatch: found {kinds_in_dispatch}"
    )
