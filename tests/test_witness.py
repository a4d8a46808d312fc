"""Change-aware witness rotation: content fingerprints from the static
symbol graph in ``witness.py``.

No Spark needed: the fingerprint layer only parses source files.  The
behaviour tests edit a copy of the package and point ``witness._PKG_DIR``
at it; an unedited copy fingerprints exactly like the package itself.
"""

from __future__ import annotations

import ast
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from etl_for_ecol_fusion_database_spark import registry, witness


_UNUSED_FN = "\n\ndef _unused_helper():\n    return 1\n"


def _replace(rel, old, new):
    def edit(root):
        path = os.path.join(root, rel)
        with open(path) as fh:
            src = fh.read()
        assert src.count(old) == 1, (rel, old)
        with open(path, "w") as fh:
            fh.write(src.replace(old, new))
    return edit


def _append(rel, text):
    def edit(root):
        with open(os.path.join(root, rel), "a") as fh:
            fh.write(text)
    return edit


def _prepend_to_def(rel, name, stmt):
    """Insert ``stmt`` as the first statement after ``name``'s docstring."""
    def edit(root):
        path = os.path.join(root, rel)
        with open(path) as fh:
            lines = fh.read().splitlines(keepends=True)
        node = next(
            n for n in ast.parse("".join(lines)).body
            if isinstance(n, ast.FunctionDef) and n.name == name
        )
        first = node.body[1] if ast.get_docstring(node) else node.body[0]
        lines.insert(first.lineno - 1, " " * first.col_offset + stmt + "\n")
        with open(path, "w") as fh:
            fh.writelines(lines)
    return edit


def _fingerprints_of_copy(tmp_path, monkeypatch, *edits, tag="pkg"):
    """Fingerprints of a copy of the package with ``edits`` applied."""
    root = tmp_path / tag
    shutil.copytree(
        witness._PKG_DIR, root, ignore=shutil.ignore_patterns("__pycache__")
    )
    for edit in edits:
        edit(str(root))
    monkeypatch.setattr(witness, "_PKG_DIR", str(root))
    return witness.current_fingerprints()


def _moved(before, after):
    return {n for n in before if before[n] != after[n]}


def test_fingerprints_cover_every_registered_query():
    fps = witness.current_fingerprints()
    assert set(fps) == set(registry.QUERIES)
    assert "<fingerprint-error>" not in fps.values()
    # md5 hex, all distinct enough to be meaningful (identical fingerprints
    # for different queries would mean the fingerprint ignores the body)
    assert all(len(v) == 32 for v in fps.values())
    assert len(set(fps.values())) == len(fps)


def test_fingerprint_is_deterministic_within_process():
    name = next(iter(registry.QUERIES))
    assert witness.query_fingerprint(name) == witness.query_fingerprint(name)


def test_fingerprints_stable_across_processes():
    """A fresh process that imports only ``witness`` computes the same map
    as this test session, whatever the session imported or memoized."""
    out = subprocess.run(
        [
            sys.executable, "-c",
            "import json; from etl_for_ecol_fusion_database_spark import "
            "witness; print(json.dumps(witness.current_fingerprints()))",
        ],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    assert json.loads(out.stdout) == witness.current_fingerprints()


def test_fingerprint_sees_oracle_text(monkeypatch):
    """An oracle-only edit must change the fingerprint (the round-6 LSH fix
    changed oracle and engine together; either alone must invalidate)."""
    name = "q1_pricing_summary"
    base = witness.query_fingerprint(name)
    monkeypatch.setitem(registry.ORACLES, name, registry.ORACLES[name] + " -- edited")
    assert witness.query_fingerprint(name) != base


def test_oracle_source_edit_moves_only_that_query(tmp_path, monkeypatch):
    base = witness.current_fingerprints()
    after = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _replace(
            "registry.py",
            "00:00:00'\nGROUP BY l_returnflag, l_linestatus\n",
            "00:01:00'\nGROUP BY l_returnflag, l_linestatus\n",
        ),
    )
    assert _moved(base, after) == {"q1_pricing_summary"}


def test_fingerprint_root_is_the_decorated_def(tmp_path, monkeypatch):
    """The registry wrapper is peeled to the decorated function: editing
    its body moves its own fingerprint."""
    base = witness.current_fingerprints()
    after = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _prepend_to_def("registry_ext/q03_text.py", "x3_token_counts", "pass"),
    )
    assert "x3_token_counts" in _moved(base, after)


def test_comment_docstring_and_whitespace_edits_move_nothing(tmp_path, monkeypatch):
    base = witness.current_fingerprints()
    after = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _replace("catalog.py", "# integer division — float division",
                 "# integer division (edited) — float division"),
        _replace("catalog.py", '"""Scan one fixture table', '"""Scan ONE fixture table'),
        _replace("catalog.py", "df = read_parquet(spark, table_path(sf_dir, name))",
                 "df = read_parquet( spark,table_path(sf_dir,name) )\n"),
    )
    assert after == base


def test_semantic_load_table_edit_moves_every_query_reaching_it(tmp_path, monkeypatch):
    reaching = {
        n for n in registry.QUERIES
        if any(p.startswith("def load_table(") for p in witness._fingerprint_parts(n))
    }
    assert len(reaching) > len(registry.QUERIES) // 2
    base = witness.current_fingerprints()
    after = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _replace("catalog.py", '"spark.sql.legacy.parquet.nanosAsLong", "true"',
                 '"spark.sql.legacy.parquet.nanosAsLong", "false"'),
    )
    assert _moved(base, after) == reaching


def test_parity_conf_edit_moves_every_query(tmp_path, monkeypatch):
    """``registry.query`` pins ``PARITY_CONF`` on every call, so the conf is
    part of every query's code."""
    base = witness.current_fingerprints()
    after = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _replace("session.py", '"spark.sql.ansi.enabled": "false"',
                 '"spark.sql.ansi.enabled": "true"'),
    )
    assert _moved(base, after) == set(registry.QUERIES)


def test_default_argument_function_is_covered(tmp_path, monkeypatch):
    """``hyperplane_signatures_df`` reaches the LSH queries only as the
    default of ``signature_fn``."""
    base = witness.current_fingerprints()
    after = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _replace(
            "operators/similarity.py",
            '    seed: int = 42,\n) -> DataFrame:\n    """n_bits-bit random-hyperplane',
            '    seed: int = 43,\n) -> DataFrame:\n    """n_bits-bit random-hyperplane',
        ),
    )
    assert {"x2_lsh_bucketed_ann", "x2_lsh_portable"} <= _moved(base, after)


def test_moving_a_helper_to_a_new_module_moves_nothing(tmp_path, monkeypatch):
    """Symbol texts carry no module key: ``_ivf_pq_search`` cut into a new
    module, and imported back, fingerprints as before."""
    rel = "registry_ext/q13_r4_quality.py"

    def move(root):
        path = os.path.join(root, rel)
        with open(path) as fh:
            src = fh.read()
        tree = ast.parse(src)
        lines = src.splitlines(keepends=True)
        node = next(n for n in tree.body if getattr(n, "name", None) == "_ivf_pq_search")
        start = min([node.lineno] + [d.lineno for d in node.decorator_list]) - 1
        moved = "".join(lines[start:node.end_lineno])
        imports = [
            ast.get_source_segment(src, n) for n in tree.body
            if isinstance(n, (ast.Import, ast.ImportFrom))
        ]
        names = sorted({
            t.id for n in tree.body if isinstance(n, (ast.Assign, ast.AnnAssign))
            for t in ast.walk(n) if isinstance(t, ast.Name)
        } | {
            n.name for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name != "_ivf_pq_search"
        })
        with open(os.path.join(root, "registry_ext", "_ivf_moved.py"), "w") as fh:
            fh.write("\n".join(imports) + "\n")
            fh.write(f"from .q13_r4_quality import {', '.join(names)}\n\n\n")
            fh.write(moved)
        lines[start:node.end_lineno] = ["from ._ivf_moved import _ivf_pq_search\n"]
        with open(path, "w") as fh:
            fh.writelines(lines)

    base = witness.current_fingerprints()
    after = _fingerprints_of_copy(tmp_path, monkeypatch, move)
    assert after == base


def test_unrelated_hub_module_edit_does_not_invalidate(tmp_path, monkeypatch):
    """Adding an unused function to catalog.py moves no fingerprint."""
    base = witness.current_fingerprints()
    after = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _append("catalog.py", _UNUSED_FN),
    )
    assert after == base


def test_fingerprint_narrows_module_handle_to_accessed_symbols(tmp_path, monkeypatch):
    """x2_knn_join reaches ``similarity`` through the module handle: an
    unused function added to similarity.py leaves it alone, while an
    edit to ``knn_join`` moves it."""
    base = witness.current_fingerprints()
    unused = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _append("operators/similarity.py", _UNUSED_FN),
        tag="unused",
    )
    assert unused["x2_knn_join"] == base["x2_knn_join"]
    edited = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _prepend_to_def("operators/similarity.py", "knn_join", "pass"),
        tag="edited",
    )
    assert edited["x2_knn_join"] != base["x2_knn_join"]


def _handle_use_moves_on_unused_edit(tmp_path, monkeypatch, stmt):
    """Whether x2_knn_join, with ``stmt`` added to its body, moves when an
    unused function is added to similarity.py."""
    use = _prepend_to_def("registry_ext/q14_r4b_scale.py", "x2_knn_join", stmt)
    before = _fingerprints_of_copy(tmp_path, monkeypatch, use, tag="before")
    after = _fingerprints_of_copy(
        tmp_path, monkeypatch, use,
        _append("operators/similarity.py", _UNUSED_FN),
        tag="after",
    )
    return before["x2_knn_join"] != after["x2_knn_join"]


def test_bare_module_handle_pulls_in_whole_module(tmp_path, monkeypatch):
    """A module handle that escapes as a value can reach any of its
    symbols, so the whole module counts."""
    assert _handle_use_moves_on_unused_edit(
        tmp_path, monkeypatch, "getattr(similarity, 'knn_join')"
    )


def test_unresolved_module_attr_pulls_in_whole_module(tmp_path, monkeypatch):
    """An attribute the module does not define statically covers no
    symbol, so the whole module counts (over-invalidate)."""
    assert _handle_use_moves_on_unused_edit(
        tmp_path, monkeypatch, "similarity.no_such_attr_xyz"
    )


def test_nested_code_object_references_are_visible(tmp_path, monkeypatch):
    """A helper referenced only inside a lambda is still covered."""
    rel = "registry_ext/q14_r4b_scale.py"
    helper = "\n\ndef _lambda_only_helper():\n    return {}\n"
    use = _prepend_to_def(rel, "x2_knn_join", "_ = lambda: _lambda_only_helper()")
    before = _fingerprints_of_copy(
        tmp_path, monkeypatch, use, _append(rel, helper.format(1)), tag="before"
    )
    after = _fingerprints_of_copy(
        tmp_path, monkeypatch, use, _append(rel, helper.format(2)), tag="after"
    )
    assert before["x2_knn_join"] != after["x2_knn_join"]


def test_function_local_import_is_narrowed(tmp_path, monkeypatch):
    """x6_shard_manifest imports pack_shards via a function-local
    ``from ..operators import sampling as sampling_ops``: an edit to
    pack_shards moves it, an unused function in sampling.py does not."""
    base = witness.current_fingerprints()
    unused = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _append("operators/sampling.py", _UNUSED_FN),
        tag="unused",
    )
    assert unused["x6_shard_manifest"] == base["x6_shard_manifest"]
    edited = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _replace("operators/sampling.py", "    budget: int = 2048,\n    ids_per_bucket",
                 "    budget: int = 2049,\n    ids_per_bucket"),
        tag="edited",
    )
    assert edited["x6_shard_manifest"] != base["x6_shard_manifest"]


def test_fingerprint_still_sees_operator_source_change(tmp_path, monkeypatch):
    """Editing the source of an operator function a query uses must
    change that query's fingerprint, and only queries reaching it."""
    base = witness.current_fingerprints()
    after = _fingerprints_of_copy(
        tmp_path, monkeypatch,
        _prepend_to_def("operators/similarity.py", "knn_join", "pass"),
    )
    moved = _moved(base, after)
    assert "x2_knn_join" in moved
    assert "q1_pricing_summary" not in moved


def test_recorded_snapshot_is_current_and_complete():
    """docs/WITNESS_FP.json must stay in sync: every registered query
    recorded, no stale entries at commit time (scripts/update_witness_fp.py
    is the refresh tool).  This is the drift guard: editing a query without
    refreshing the snapshot turns up here as a stale name, which is exactly
    the state the driver needs to see to re-witness it — the test only
    demands the snapshot FILE itself is well-formed and complete."""
    recorded = witness.recorded_fingerprints()
    assert recorded, "docs/WITNESS_FP.json missing or empty"
    assert set(recorded) == set(registry.QUERIES)


def test_stale_names_empty_set_when_no_snapshot(monkeypatch):
    monkeypatch.setattr(witness, "recorded_fingerprints", dict)
    assert witness.stale_names() == frozenset()


def test_stale_query_reenters_rotation(monkeypatch):
    """The integration property: a sheet-green name whose fingerprint no
    longer matches must come before every name a driver row still
    witnesses (back into the driver's 50-slot sample window).  Names in
    the re-anchor ledger awaiting a driver row lead the window on their
    own.  The stale set is pinned, so the property does not depend on how
    many fingerprints have moved since the last driver sheet."""
    monkeypatch.setattr(witness, "stale_names", lambda: frozenset())
    names = list(entrymod.queries())
    last = entrymod._last_witness_round()
    ledger = {
        n for n, rnd in witness.reanchored_rounds().items() if last.get(n, 0) <= rnd
    }
    witnessed = entrymod._witnessed_names()
    # pick a name currently in the 'seen' tail so the move is visible
    target = next(n for n in reversed(names) if n in witnessed and n not in ledger)

    monkeypatch.setattr(witness, "stale_names", lambda: frozenset([target]))
    names2 = list(entrymod.queries())
    still_witnessed = entrymod._witnessed_names()
    assert target not in still_witnessed
    first_witnessed_idx = min(
        i for i, n in enumerate(names2) if n in still_witnessed and n not in ledger
    )
    # the newly-stale name orders before every still-witnessed one
    assert names2.index(target) < first_witnessed_idx
    # and nothing fell off the registry
    assert set(names2) == set(registry.QUERIES)


def test_snapshot_file_is_sorted_json():
    with open(witness.RECORDED_PATH) as fh:
        data = json.load(fh)
    assert list(data) == sorted(data)
