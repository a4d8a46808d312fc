"""Change-aware witness fingerprints for the driver CORRECTNESS rotation.

Round-6 gap (VERDICT.md "Next round" #1): the rotation in
``__spark_entry__`` treated "any sheet ever showed hash-PASS" as
witnessed, so a query whose implementation or oracle changed AFTER its
last green row kept its stale witness and never re-entered the 50-slot
sample window — 16 queries hit exactly that in round 6 and had to be
re-verified by hand.

This module makes witness bookkeeping content-aware.  Each registered
query gets a deterministic fingerprint over

- its oracle SQL text (``registry.ORACLES``),
- the source of its registered callable (decorator line included, so
  inline oracles and parameter tweaks are caught),
- recursively (bounded depth), the source of every package-internal
  function/class the callable references and the repr of every primitive
  package-internal constant it references — including references made
  only inside nested functions/lambdas/comprehensions (their code
  objects carry their own ``co_names``; round-8 ADVICE fix), and
- for every package-internal MODULE it references (e.g. the
  ``operators.similarity`` handle inside ``x2_knn_join``), the sources
  of exactly the attributes the function accesses on that handle
  (``similarity.knn_join`` hashes ``knn_join``'s source, recursively) —
  narrowed in round 8 from the whole-file+transitive-imports hash that
  made one unrelated ``catalog.py`` helper invalidate 68 witnesses in
  round 7.  The whole-file closure hash remains the fallback whenever
  the accessed attributes can't be statically determined (unparsable
  source, or the module handle escapes as a bare name — passed as an
  argument, ``getattr``, aliasing), so the failure direction stays
  "over-invalidate", never "keep a stale witness".

``scripts/update_witness_fp.py`` snapshots fingerprints into
``docs/WITNESS_FP.json`` at round start (when the newest CORRECTNESS
sheet was produced against the committed = current tree).  The rotation
then counts a name as witnessed only while its recorded fingerprint
still matches — any mid-round edit flips the comparison and the query
rotates back into the sample window automatically.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import json
import os
import textwrap
import types
from collections.abc import Callable

_PKG_NAME = __name__.rsplit(".", 1)[0]
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_PKG_DIR)

#: committed fingerprint snapshot consumed by __spark_entry__._witnessed_names
RECORDED_PATH = os.path.join(_REPO_DIR, "docs", "WITNESS_FP.json")

#: committed re-anchor ledger (VERDICT r12 item #1): maps each query whose
#: witness was re-anchored via builder-run verification
#: (``update_witness_fp.py --accept-verified``) to the round number of the
#: newest driver CORRECTNESS sheet that existed at accept time.  A
#: builder-verified witness is categorically weaker than a driver sheet
#: row, so ``__spark_entry__._rotated_names`` outranks these names over
#: the pure least-recently-witnessed tail until each earns a driver row
#: from a LATER round — at which point the comparison self-retires the
#: entry (and the next ``update_witness_fp.py`` run prunes it from the
#: file).  This generalizes the hardcoded round-8 list that round 12
#: showed cannot keep up: 9 names re-anchored in round 12 sat at rotation
#: positions 123–136, outside the 50-slot window, with no mechanism to
#: pull them forward.
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
    return {
        k: v for k, v in data.items()
        if isinstance(k, str) and isinstance(v, int)
    }

#: how deep to follow function -> referenced-function chains.  Raised
#: from 3 in round 8: module-handle narrowing turned what used to be a
#: terminal whole-file hash into source recursion, so operator-internal
#: helper chains now count toward the depth.  A function REACHED at the
#: cap still contributes its own source plus a deterministic
#: ``depth-cap:`` part (asserted absent across the whole registry by
#: tests/test_witness.py), so truncation can never be silent.
_MAX_DEPTH = 5

_PRIMITIVES = (str, bytes, int, float, bool, type(None))


def _is_pkg_module(mod: types.ModuleType | None) -> bool:
    name = getattr(mod, "__name__", "") or ""
    return name == _PKG_NAME or name.startswith(_PKG_NAME + ".")


def _module_file(modname: str) -> str | None:
    rel = modname[len(_PKG_NAME) :].lstrip(".").replace(".", os.sep)
    for cand in (
        os.path.join(_PKG_DIR, rel + ".py"),
        os.path.join(_PKG_DIR, rel, "__init__.py"),
        os.path.join(_PKG_DIR, "__init__.py") if not rel else None,
    ):
        if cand and os.path.isfile(cand):
            return cand
    return None


_FILE_MD5_MEMO: dict[str, str] = {}


def _file_md5(path: str) -> str:
    got = _FILE_MD5_MEMO.get(path)
    if got is None:
        with open(path, "rb") as fh:
            got = hashlib.md5(fh.read()).hexdigest()
        _FILE_MD5_MEMO[path] = got
    return got


_INTRA_IMPORTS_MEMO: dict[str, frozenset[str]] = {}


def _intra_imports(modname: str) -> frozenset[str]:
    """Package-internal modules directly imported by ``modname`` (AST-level,
    so this never executes anything and sees the file as committed)."""
    got = _INTRA_IMPORTS_MEMO.get(modname)
    if got is not None:
        return got
    path = _module_file(modname)
    found: set[str] = set()
    if path is not None:
        tree = ast.parse(open(path, "rb").read())
        pkg_parts = modname.split(".")
        is_pkg_init = path.endswith("__init__.py")
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(_PKG_NAME):
                        found.add(alias.name)
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    # relative: level 1 from inside a module means "this
                    # module's package"; each extra level climbs one more
                    base_parts = pkg_parts[: len(pkg_parts) - node.level + (1 if is_pkg_init else 0)]
                    base = ".".join(base_parts)
                else:
                    base = node.module or ""
                    if not base.startswith(_PKG_NAME):
                        continue
                if node.level and node.module:
                    base = f"{base}.{node.module}" if base else node.module
                if base.startswith(_PKG_NAME):
                    # "from .operators import dedup" depends on the dedup
                    # SUBMODULE; the base package's __init__ matters only
                    # when a non-module symbol is taken from it (otherwise
                    # including it snowballs: operators/__init__ imports
                    # every operator module, so one "from . import x"
                    # used to pull the whole package into the closure)
                    base_needed = False
                    for alias in node.names:
                        sub = f"{base}.{alias.name}"
                        if _module_file(sub) is not None:
                            found.add(sub)
                        else:
                            base_needed = True
                    if base_needed:
                        found.add(base)
    got = frozenset(m for m in found if _module_file(m) is not None)
    _INTRA_IMPORTS_MEMO[modname] = got
    return got


def _module_closure_hashes(modname: str) -> list[str]:
    """md5 of ``modname``'s file and every package file it transitively
    imports — the terminal fingerprint contribution of a module handle."""
    seen: set[str] = set()
    stack = [modname]
    hashes: list[str] = []
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        path = _module_file(m)
        if path is None:
            continue
        hashes.append(f"{m}={_file_md5(path)}")
        stack.extend(_intra_imports(m))
    return sorted(hashes)


def _unwrap(fn: Callable) -> Callable:
    """Peel the registry's ``wrapped`` closure down to the decorated fn."""
    seen = 0
    while seen < 5:
        seen += 1
        unwrapped = getattr(fn, "__wrapped__", None)
        if unwrapped is not None:
            fn = unwrapped
            continue
        cells = getattr(fn, "__closure__", None) or ()
        inner = [
            c.cell_contents
            for c in cells
            if isinstance(c.cell_contents, types.FunctionType)
            and c.cell_contents.__module__ is not None
            and c.cell_contents.__module__.startswith(_PKG_NAME)
        ]
        # the registry decorator copies __name__ onto its wrapper, so the
        # reliable marker is the untouched __qualname__
        if len(inner) == 1 and "wrapped" in getattr(fn, "__qualname__", ""):
            fn = inner[0]
            continue
        break
    return fn


def _all_code_names(code: types.CodeType) -> frozenset[str]:
    """``co_names`` of a code object AND of every code object nested in
    its ``co_consts`` (lambdas, comprehensions, inner ``def``s compile to
    their own code objects whose global references are invisible to the
    parent's ``co_names`` — round-8 ADVICE fix: a package function
    referenced only inside a nested function must still fingerprint)."""
    names: set[str] = set()
    stack = [code]
    while stack:
        c = stack.pop()
        names.update(c.co_names)
        for const in c.co_consts:
            if isinstance(const, types.CodeType):
                stack.append(const)
    return frozenset(names)


def _referenced(fn: Callable) -> dict[str, object]:
    """Objects the function body (including nested code objects) can reach
    by name: globals named in any reachable ``co_names`` plus top-level
    closure free variables."""
    out: dict[str, object] = {}
    code = getattr(fn, "__code__", None)
    if code is None:
        return out
    g = getattr(fn, "__globals__", {})
    for name in _all_code_names(code):
        if name in g:
            out[name] = g[name]
    for name, cell in zip(
        code.co_freevars, getattr(fn, "__closure__", None) or ()
    ):
        try:
            out[name] = cell.cell_contents
        except ValueError:
            pass
    return out


_ATTR_USE_MEMO: dict[
    types.CodeType,
    tuple[dict[str, frozenset[str]], frozenset[str], dict[str, str]] | None,
] = {}


def _module_attr_use(
    fn: types.FunctionType,
) -> tuple[dict[str, frozenset[str]], frozenset[str], dict[str, str]] | None:
    """Static view of how ``fn``'s source uses names:
    ``(attrs, bare, imports)`` where

    - ``attrs[varname]`` is the set of attributes accessed as
      ``varname.attr``,
    - ``bare`` is every name that ALSO (or only) appears outside an
      attribute-base position — i.e. escapes analysis (passed as an
      argument, ``getattr``, aliased), and
    - ``imports[alias]`` maps names bound by ``import``/``from-import``
      statements INSIDE the source (function-local imports bind locals,
      invisible to ``co_names``-vs-globals matching) to the dotted thing
      they import: either a package module name, or ``module:attr`` for
      a from-imported symbol.  Only package-internal targets are kept.

    ``None`` when the source can't be parsed; callers must then fall
    back to the coarse whole-module hash (the safe, over-invalidating
    direction)."""
    code = fn.__code__
    if code in _ATTR_USE_MEMO:
        return _ATTR_USE_MEMO[code]
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError, ValueError):
        _ATTR_USE_MEMO[code] = None
        return None
    attrs: dict[str, set[str]] = {}
    bare: set[str] = set()
    imports: dict[str, str] = {}
    # the defining module's package, for resolving relative imports the
    # way the interpreter does (level 1 = the containing package)
    fn_pkg = (getattr(fn, "__module__", "") or "").rpartition(".")[0]

    class _V(ast.NodeVisitor):
        def visit_Attribute(self, node: ast.Attribute) -> None:
            if isinstance(node.value, ast.Name):
                attrs.setdefault(node.value.id, set()).add(node.attr)
                # the base Name is consumed by the attribute access; do
                # not record it as a bare (escaping) use
                for child in ast.iter_child_nodes(node):
                    if child is not node.value:
                        self.visit(child)
            else:
                self.generic_visit(node)

        def visit_Name(self, node: ast.Name) -> None:
            bare.add(node.id)

        def visit_Import(self, node: ast.Import) -> None:
            for alias in node.names:
                if alias.name.startswith(_PKG_NAME):
                    # ``import a.b.c as x`` binds x -> a.b.c;
                    # ``import a.b.c`` binds only the top name a (attribute
                    # chains off it narrow per-level via getattr recursion)
                    if alias.asname:
                        imports[alias.asname] = alias.name
                    else:
                        top = alias.name.split(".", 1)[0]
                        imports[top] = top

        def visit_ImportFrom(self, node: ast.ImportFrom) -> None:
            if node.level:
                base_parts = fn_pkg.split(".") if fn_pkg else []
                base_parts = base_parts[: len(base_parts) - node.level + 1]
                base = ".".join(base_parts)
                if node.module:
                    base = f"{base}.{node.module}" if base else node.module
            else:
                base = node.module or ""
            if not base.startswith(_PKG_NAME):
                return
            for alias in node.names:
                bound = alias.asname or alias.name
                if _module_file(f"{base}.{alias.name}") is not None:
                    imports[bound] = f"{base}.{alias.name}"
                else:
                    imports[bound] = f"{base}:{alias.name}"

    _V().visit(tree)
    out = (
        {k: frozenset(v) for k, v in attrs.items()},
        frozenset(bare),
        imports,
    )
    _ATTR_USE_MEMO[code] = out
    return out


def _import_or_none(modname: str) -> types.ModuleType | None:
    """``modname``, imported if this process has not loaded it yet — so a
    query's fingerprint does not depend on which modules happened to be
    imported before it was computed (a fresh process and a test
    session must agree) — or None when the import fails."""
    try:
        return importlib.import_module(modname)
    except Exception:
        return None


def _collect_module_narrowed(
    modname: str,
    accessed: frozenset[str] | None,
    parts: set[str],
    visited: set[int],
    depth: int,
) -> None:
    """One module handle's fingerprint contribution: the sources of the
    attributes actually accessed on it when known, else the whole-file
    transitive closure hash."""
    if accessed is None:
        for h in _module_closure_hashes(modname):
            parts.add("mod:" + h)
        return
    mod = _import_or_none(modname)
    if mod is None:
        # unimportable — can't resolve attrs; coarse hash
        for h in _module_closure_hashes(modname):
            parts.add("mod:" + h)
        return
    for attr in sorted(accessed):
        target = getattr(mod, attr, _MISSING)
        if target is _MISSING:
            # set dynamically (or a typo) — deterministic marker, PLUS the
            # coarse whole-file closure hash: an attribute the static pass
            # saw but runtime can't resolve covers code somewhere in the
            # module, and a bare marker alone would cover none of it —
            # the one place the promised "over-invalidate, never keep a
            # stale witness" direction didn't hold (ADVICE r08)
            parts.add(f"miss:{modname}.{attr}")
            for h in _module_closure_hashes(modname):
                parts.add("mod:" + h)
        else:
            parts.add(f"sym:{modname}.{attr}")
            _collect(target, parts, visited, depth + 1)


def _collect_fn_refs(
    fn: types.FunctionType, parts: set[str], visited: set[int], depth: int
) -> None:
    """Fingerprint everything ``fn``'s body references.  Package-module
    handles are narrowed to the attributes the source actually accesses
    (``mod.attr`` hashes ``attr``'s source recursively); the whole-file
    closure hash is kept only for handles whose use can't be statically
    resolved — so an unrelated helper added to a hub module no longer
    invalidates every query that touches that module (round-7 blast
    radius: 68 witnesses for one ``catalog.py`` utility).  Function-local
    package imports (``from ..operators import sampling as s``) are
    resolved from the AST — they bind locals, so the ``co_names``-vs-
    globals matching below cannot see them."""
    use = _module_attr_use(fn)
    refs = _referenced(fn)
    if use is None:
        # unparsable source: every reachable package object, coarsely
        for sub in refs.values():
            _collect(sub, parts, visited, depth + 1)
        return
    attrs, bare, imports = use
    for name, sub in refs.items():
        if name not in attrs and name not in bare:
            # a co_names artifact: import-statement operand or an
            # attribute name that merely coincides with a global — the
            # source never reads this global as a plain name
            continue
        if name in imports:
            continue  # locally rebound by an import statement below
        if isinstance(sub, types.ModuleType) and _is_pkg_module(sub):
            accessed = attrs.get(name) if name not in bare else None
            _collect_module_narrowed(
                sub.__name__, accessed, parts, visited, depth
            )
        else:
            _collect(sub, parts, visited, depth + 1)
    for alias, spec in imports.items():
        if ":" in spec:
            modname, attr = spec.split(":", 1)
            mod = _import_or_none(modname)
            target = getattr(mod, attr, _MISSING) if mod else _MISSING
            if target is _MISSING:
                _collect_module_narrowed(modname, None, parts, visited, depth)
            else:
                parts.add(f"sym:{modname}.{attr}")
                _collect(target, parts, visited, depth + 1)
        else:
            accessed = attrs.get(alias) if alias not in bare else None
            _collect_module_narrowed(spec, accessed, parts, visited, depth)


_MISSING = object()


_EMPTY_INIT_MEMO: dict[str, frozenset[str]] = {}


def _empty_initialized(modname: str) -> frozenset[str]:
    """Names ``modname`` binds at module level to an empty dict, list or
    set literal — runtime caches (memos, temp-dir registries) that code
    fills as queries run, not configuration."""
    got = _EMPTY_INIT_MEMO.get(modname)
    if got is None:
        path = _module_file(modname)
        names: set[str] = set()
        for node in ast.parse(open(path, "rb").read()).body if path else []:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            empty = (
                (isinstance(value, ast.Dict) and not value.keys)
                or (isinstance(value, (ast.List, ast.Set)) and not value.elts)
                or (
                    isinstance(value, ast.Call)
                    and isinstance(value.func, ast.Name)
                    and value.func.id in ("dict", "list", "set")
                    and not value.args
                    and not value.keywords
                )
            )
            if empty:
                names.update(t.id for t in targets if isinstance(t, ast.Name))
        got = _EMPTY_INIT_MEMO[modname] = frozenset(names)
    return got


def _is_runtime_cache(obj: object) -> bool:
    """Whether ``obj`` is a package module's empty-initialized container."""
    import sys as _sys

    for modname, mod in list(_sys.modules.items()):
        if not _is_pkg_module(mod):
            continue
        if any(getattr(mod, n, None) is obj for n in _empty_initialized(modname)):
            return True
    return False


def _collect(obj: object, parts: set[str], visited: set[int], depth: int) -> None:
    if id(obj) in visited:
        return
    visited.add(id(obj))
    if isinstance(obj, types.ModuleType):
        if _is_pkg_module(obj):
            for h in _module_closure_hashes(obj.__name__):
                parts.add("mod:" + h)
        return
    if isinstance(obj, (types.FunctionType, type)):
        mod = getattr(obj, "__module__", "") or ""
        if not (mod == _PKG_NAME or mod.startswith(_PKG_NAME + ".")):
            return
        try:
            parts.add(f"src:{mod}.{obj.__qualname__}:" + inspect.getsource(obj))
        except (OSError, TypeError):
            parts.add(f"obj:{mod}.{getattr(obj, '__qualname__', repr(obj))}")
        if isinstance(obj, types.FunctionType):
            if depth >= _MAX_DEPTH:
                # never truncate silently: the cap hit itself becomes a
                # deterministic part, and tests assert no query has one
                parts.add(f"depth-cap:{mod}.{obj.__qualname__}")
                return
            _collect_fn_refs(obj, parts, visited, depth)
        return
    if isinstance(obj, _PRIMITIVES):
        parts.add("val:" + repr(obj))
        return
    if isinstance(obj, (set, frozenset, tuple, list, dict)):
        try:
            # a runtime cache hashes as the empty value it starts from, so
            # whatever earlier queries memoized in it cannot move a
            # fingerprint (a fresh process and a test session agree)
            value = type(obj)() if _is_runtime_cache(obj) else obj
            parts.add("val:" + _stable_repr(value))
        except Exception:
            pass


def _stable_repr(obj: object, depth: int = 0) -> str:
    """Deterministic repr for constant containers.  Plain ``repr`` leaks
    memory addresses for function values (``<function sum at 0x7f…>``)
    — hash-poison that made one fingerprint differ per process in round
    8.  Package functions inside containers contribute their SOURCE hash
    (so editing them still invalidates), foreign callables just their
    qualified name, sets sort their elements."""
    if depth > 4:
        return "<deep>"
    if isinstance(obj, _PRIMITIVES):
        return repr(obj)
    if isinstance(obj, (types.FunctionType, types.BuiltinFunctionType, type)):
        mod = getattr(obj, "__module__", "") or ""
        name = getattr(obj, "__qualname__", type(obj).__name__)
        if mod == _PKG_NAME or mod.startswith(_PKG_NAME + "."):
            try:
                src = inspect.getsource(obj)
                return f"<fn:{mod}.{name}:{hashlib.md5(src.encode()).hexdigest()}>"
            except (OSError, TypeError):
                pass
        return f"<fn:{mod}.{name}>"
    if isinstance(obj, dict):
        items = (
            f"{_stable_repr(k, depth + 1)}:{_stable_repr(v, depth + 1)}"
            for k, v in obj.items()
        )
        return "{" + ",".join(items) + "}"
    if isinstance(obj, (list, tuple)):
        body = ",".join(_stable_repr(x, depth + 1) for x in obj)
        return ("[" + body + "]") if isinstance(obj, list) else ("(" + body + ")")
    if isinstance(obj, (set, frozenset)):
        return "{" + ",".join(sorted(_stable_repr(x, depth + 1) for x in obj)) + "}"
    return f"<obj:{type(obj).__module__}.{type(obj).__qualname__}>"


def _fingerprint_parts(name: str) -> set[str]:
    """The unsorted part set behind ``query_fingerprint`` — exposed so
    tests can assert structural properties (no ``depth-cap:`` hits, the
    right ``sym:``/``mod:`` composition) instead of only hash equality."""
    from . import registry

    fn = _unwrap(registry.QUERIES[name])
    parts: set[str] = {"oracle:" + registry.ORACLES.get(name, "<rows-only>")}
    try:
        parts.add("src:" + inspect.getsource(fn))
    except (OSError, TypeError):
        parts.add("obj:" + repr(fn))
    visited: set[int] = set()
    if isinstance(fn, types.FunctionType):
        _collect_fn_refs(fn, parts, visited, depth=0)
    else:
        for obj in _referenced(fn).values():
            _collect(obj, parts, visited, depth=1)
    return parts


def query_fingerprint(name: str) -> str:
    """Deterministic content fingerprint of one registered query (see
    module docstring for exactly what it covers)."""
    h = hashlib.md5()
    for p in sorted(_fingerprint_parts(name)):
        h.update(p.encode())
        h.update(b"\x00")
    return h.hexdigest()


_ALL_FP_MEMO: dict[str, str] | None = None


def current_fingerprints() -> dict[str, str]:
    """Fingerprints for every registered query, memoized per process
    (sources are immutable for a process lifetime)."""
    global _ALL_FP_MEMO
    if _ALL_FP_MEMO is None:
        from . import registry

        out: dict[str, str] = {}
        for name in registry.QUERIES:
            try:
                out[name] = query_fingerprint(name)
            except Exception:
                # a fingerprinting failure must degrade toward "unwitnessed"
                # (the safe direction), never crash the driver contract
                out[name] = "<fingerprint-error>"
        _ALL_FP_MEMO = out
    return _ALL_FP_MEMO


def recorded_fingerprints() -> dict[str, str]:
    """The committed snapshot (docs/WITNESS_FP.json); {} when absent."""
    try:
        with open(RECORDED_PATH) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return {}
    return {k: v for k, v in data.items() if isinstance(v, str)}


def stale_names() -> frozenset[str]:
    """Queries whose current fingerprint differs from (or is absent from)
    the recorded snapshot — i.e. whose last driver witness, if any, no
    longer covers the current code.

    With NO snapshot at all (docs/WITNESS_FP.json missing/unreadable) this
    returns the empty set: degrading to the pre-round-7 rotation beats
    marking all 184 entries stale and wedging the 50-slot sample window on
    the same block forever."""
    recorded = recorded_fingerprints()
    if not recorded:
        return frozenset()
    current = current_fingerprints()
    return frozenset(
        n for n, fp in current.items() if recorded.get(n) != fp
    )
