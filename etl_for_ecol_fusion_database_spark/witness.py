"""Change-aware witness fingerprints for the driver CORRECTNESS rotation.

A driver CORRECTNESS row witnesses the code it ran, so ``__spark_entry__``
counts a query as witnessed only while its fingerprint still matches the
one recorded in ``docs/WITNESS_FP.json`` (by ``scripts/update_witness_fp.py``);
an edited query re-enters the driver's 50-slot sample window.

Fingerprints come from a static symbol graph over the package's source
files; nothing is imported or executed.  Each module is parsed once: its
top-level defs, classes and assignments are symbols, its imports are
bindings.  A symbol's text is its ``ast.unparse`` rendering without
docstrings, so comments, docstrings and layout never count (the rendering
is the interpreter's: record and check with the same Python version).

A query's fingerprint is the md5 of its oracle SQL plus the sorted texts of
every symbol reachable from its decorated ``def``.  That node carries its
decorators and default arguments, so the ``registry.query`` wrapper, the
parity conf it pins and a function passed only as a default all count.
Names resolve through module-level and function-local imports:

- ``module.attr`` on a package-module handle narrows to that one symbol;
- a bare module handle (passed as a value, ``getattr``) or an attribute the
  module does not define pulls in the whole module — over-invalidating,
  the safe direction;
- a name imported from outside the package contributes its import target.

Texts carry no module name, so moving a helper between modules moves no
fingerprint.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import inspect
import json
import os
from typing import NamedTuple

_PKG_NAME = __name__.rsplit(".", 1)[0]
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_PKG_DIR)

#: committed fingerprint snapshot consumed by __spark_entry__._witnessed_names
RECORDED_PATH = os.path.join(_REPO_DIR, "docs", "WITNESS_FP.json")

#: committed re-anchor ledger: query -> round of the newest driver sheet
#: when its witness was re-anchored by builder-run verification
#: (``update_witness_fp.py --accept-verified``).  Such a witness is weaker
#: than a driver row, so ``__spark_entry__._rotated_names`` ranks these
#: names first in the witnessed tail until a later driver row retires them.
REANCHOR_PATH = os.path.join(_REPO_DIR, "docs", "WITNESS_REANCHOR.json")


def reanchored_rounds() -> dict[str, int]:
    """The committed re-anchor ledger (see ``REANCHOR_PATH``); {} when
    absent or unreadable — degrading to the plain LRW rotation, never
    crashing the driver contract."""
    try:
        with open(REANCHOR_PATH) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return {}
    return {k: v for k, v in data.items() if isinstance(v, int)}


# A graph node: ("sym", module, name) for a top-level symbol, ("mod", module)
# for a whole package module, ("ext", "module:attr") for an outside import.
_Node = tuple[str, ...]


class _Module(NamedTuple):
    package: str  # what a level-1 relative import inside it refers to
    symbols: dict[str, list[ast.stmt]]  # name -> the statements binding it
    imports: dict[str, tuple[str, str | None]]  # alias -> (module, attr)


def _module_file(pkg_dir: str, modname: str) -> str | None:
    rel = modname[len(_PKG_NAME):].lstrip(".").replace(".", os.sep)
    for cand in (
        os.path.join(pkg_dir, rel + ".py"),
        os.path.join(pkg_dir, rel, "__init__.py"),
    ):
        if os.path.isfile(cand):
            return cand
    return None


def _import_bindings(stmt: ast.Import | ast.ImportFrom, package: str) -> dict:
    if isinstance(stmt, ast.Import):
        # ``import a.b as x`` binds x to a.b; plain ``import a.b`` binds a
        out = {}
        for a in stmt.names:
            top = a.name.split(".")[0]
            out[a.asname or top] = (a.name if a.asname else top, None)
        return out
    base = stmt.module or ""
    if stmt.level:
        parts = package.split(".")
        parts = parts[: len(parts) - stmt.level + 1]
        base = ".".join(parts + ([stmt.module] if stmt.module else []))
    return {a.asname or a.name: (base, a.name) for a in stmt.names}


def _bound_names(stmt: ast.stmt) -> set[str]:
    """Names a top-level statement binds, looking into compound bodies."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {stmt.name}
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return set(_import_bindings(stmt, ""))
    targets = getattr(stmt, "targets", None) or [getattr(stmt, "target", None)]
    names = {
        n.id for t in targets if t is not None
        for n in ast.walk(t) if isinstance(n, ast.Name)
    }
    for field in ("body", "handlers", "orelse", "finalbody"):
        for sub in getattr(stmt, field, ()):
            names |= _bound_names(sub)
    return names


# bounded caches: about one package directory's modules and graph nodes
@functools.lru_cache(maxsize=128)
def _parse(pkg_dir: str, modname: str) -> _Module | None:
    path = _module_file(pkg_dir, modname)
    if path is None:
        return None
    with open(path, "rb") as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ) and ast.get_docstring(node, clean=False) is not None:
            node.body = node.body[1:] or [ast.Pass()]
    is_init = os.path.basename(path) == "__init__.py"
    mod = _Module(modname if is_init else modname.rpartition(".")[0], {}, {})
    for stmt in tree.body:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            mod.imports.update(_import_bindings(stmt, mod.package))
        else:
            for name in _bound_names(stmt):
                mod.symbols.setdefault(name, []).append(stmt)
    return mod


def _import_target(pkg_dir: str, base: str, attr: str | None) -> _Node:
    if base != _PKG_NAME and not base.startswith(_PKG_NAME + "."):
        return ("ext", f"{base}:{attr}" if attr else base)
    if attr is None or _module_file(pkg_dir, f"{base}.{attr}"):
        return ("mod", f"{base}.{attr}" if attr else base)
    # a from-import the module does not define: the whole module
    return _lookup(pkg_dir, base, attr) or ("mod", base)


def _lookup(pkg_dir: str, modname: str, name: str) -> _Node | None:
    """What ``name`` means in package module ``modname``; None if unbound."""
    mod = _parse(pkg_dir, modname)
    if mod is None:
        return None
    if name in mod.symbols:
        return ("sym", modname, name)
    if name in mod.imports:
        return _import_target(pkg_dir, *mod.imports[name])
    if _module_file(pkg_dir, f"{modname}.{name}"):
        return ("mod", f"{modname}.{name}")
    return None


def _references(pkg_dir: str, modname: str, stmt: ast.stmt) -> set[_Node]:
    """Nodes one statement refers to, narrowing ``module.attr`` chains."""
    package = _parse(pkg_dir, modname).package
    local = {}
    for node in ast.walk(stmt):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            local.update(_import_bindings(node, package))
    out: set[_Node] = set()

    def visit(node: ast.AST) -> None:
        chain, base = [], node
        while isinstance(base, ast.Attribute):
            chain.append(base.attr)
            base = base.value
        if not isinstance(base, ast.Name):
            for child in ast.iter_child_nodes(node):
                visit(child)
            return
        if base.id in local:
            target = _import_target(pkg_dir, *local[base.id])
        else:
            target = _lookup(pkg_dir, modname, base.id)
        for attr in reversed(chain):
            if target is None or target[0] != "mod":
                break
            narrowed = _lookup(pkg_dir, target[1], attr)
            if narrowed is None:
                break  # unresolved: the module handle stays whole
            target = narrowed
        if target is not None:
            out.add(target)

    visit(stmt)
    return out


@functools.lru_cache(maxsize=2048)
def _node(pkg_dir: str, node: _Node) -> tuple[tuple[str, ...], tuple[_Node, ...]]:
    """(texts, references) of one graph node."""
    if node[0] == "ext":
        return (f"ext:{node[1]}",), ()
    mod = _parse(pkg_dir, node[1])
    if mod is None:
        return (), ()
    if node[0] == "mod":
        refs = [("sym", node[1], name) for name in mod.symbols]
        refs += [_import_target(pkg_dir, *b) for b in mod.imports.values()]
        return (), tuple(refs)
    stmts = mod.symbols[node[2]]
    refs: set[_Node] = set()
    for stmt in stmts:
        refs |= _references(pkg_dir, node[1], stmt)
    return tuple(ast.unparse(s) for s in stmts), tuple(refs)


def _fingerprint_parts(name: str) -> set[str]:
    """Texts of every node reachable from the query's decorated ``def``."""
    from . import registry

    fn = inspect.getclosurevars(registry.QUERIES[name]).nonlocals["fn"]
    root = ("sym", fn.__module__, fn.__qualname__.split(".")[0])
    mod = _parse(_PKG_DIR, root[1])
    if mod is None or root[2] not in mod.symbols:
        raise LookupError(f"{name}: no top-level def {root[2]} in {root[1]}")
    parts: set[str] = set()
    seen: set[_Node] = set()
    stack = [root]
    while stack:
        node = stack.pop()
        if node not in seen:
            seen.add(node)
            texts, refs = _node(_PKG_DIR, node)
            parts.update(texts)
            stack.extend(refs)
    return parts


def query_fingerprint(name: str) -> str:
    """Content fingerprint of one registered query (see module docstring)."""
    from . import registry

    h = hashlib.md5(registry.ORACLES.get(name, "<rows-only>").encode())
    for p in sorted(_fingerprint_parts(name)):
        h.update(b"\x00" + p.encode())
    return h.hexdigest()


@functools.cache
def _all_fingerprints(pkg_dir: str) -> dict[str, str]:
    from . import registry

    out: dict[str, str] = {}
    for name in registry.QUERIES:
        try:
            out[name] = query_fingerprint(name)
        except Exception:
            # a fingerprinting failure must degrade toward "unwitnessed"
            # (the safe direction), never crash the driver contract
            out[name] = "<fingerprint-error>"
    return out


def current_fingerprints() -> dict[str, str]:
    """Fingerprints for every registered query, computed once per process
    and package directory (sources do not change under a running driver)."""
    return dict(_all_fingerprints(_PKG_DIR))


def recorded_fingerprints() -> dict[str, str]:
    """The committed snapshot (docs/WITNESS_FP.json); {} when absent."""
    try:
        with open(RECORDED_PATH) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return {}
    return {k: v for k, v in data.items() if isinstance(v, str)}


def stale_names() -> frozenset[str]:
    """Queries whose current fingerprint differs from the recorded one, so
    their last driver witness no longer covers the code.  Empty when there
    is no snapshot: the plain rotation beats marking every entry stale and
    wedging the 50-slot sample window on one block forever."""
    recorded = recorded_fingerprints()
    if not recorded:
        return frozenset()
    current = current_fingerprints()
    return frozenset(
        n for n, fp in current.items() if recorded.get(n) != fp
    )
