"""Round-9 hardening (VERDICT r08 items #1/#3/#5 + ADVICE r08).

Covers: the --accept-verified provenance guard, the newest-row-FAIL
witness drop, the re-anchored-name rotation priority and the pinned
bench stdout panel.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from etl_for_ecol_fusion_database_spark import registry, witness

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- witness


def test_newest_fail_row_drops_witness(tmp_path):
    """ADVICE r08: a name whose NEWEST sheet row is a hash FAIL (or an
    execution error) must lose its witness even if an older sheet was
    green — otherwise a regression with an unchanged fingerprint never
    re-enters the driver's sample window."""
    ok = {"hash_match": True, "err": None}
    fail = {"hash_match": False, "err": None}
    err = {"hash_match": None, "err": "AnalysisException: boom"}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": ok, "b": ok, "c": ok, "d": ok})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"b": fail, "c": err, "d": ok})
    )
    last = entrymod._last_witness_round(str(tmp_path))
    assert last.get("a") == 1          # untouched green stays witnessed
    assert "b" not in last             # newest row = hash FAIL -> dropped
    assert "c" not in last             # newest row = execution error -> dropped
    assert last.get("d") == 2          # re-witnessed green advances


def test_fail_then_green_rewitnesses(tmp_path):
    """The drop is not sticky: a later green row restores the witness."""
    ok = {"hash_match": True, "err": None}
    fail = {"hash_match": False, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"a": fail}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"a": ok}))
    assert entrymod._last_witness_round(str(tmp_path)) == {"a": 2}


def test_rows_only_after_gaining_oracle_is_not_a_regression(tmp_path, monkeypatch):
    """A rows-only row for a name that HAS an oracle doesn't witness, but
    it must not unwitness an older hash-green row either (it was a valid
    row when produced — the entry gained its oracle later)."""
    name = next(iter(registry.ORACLES))
    ok = {"hash_match": True, "err": None}
    rows_only = {"hash_match": None, "err": "no_oracle"}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({name: ok}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({name: rows_only}))
    last = entrymod._last_witness_round(str(tmp_path))
    assert last.get(name) == 1


# ------------------------------------------------- accept-verified guard


def _load_update_script():
    spec = importlib.util.spec_from_file_location(
        "update_witness_fp", os.path.join(REPO, "scripts", "update_witness_fp.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_accept_verified_refuses_stale_fingerprint(tmp_path, monkeypatch):
    """VERDICT r08 item #3: a results file whose embedded per-query
    fingerprint no longer matches the current tree must be refused with a
    non-zero exit, and must NOT re-anchor the recorded snapshot."""
    mod = _load_update_script()
    name = next(iter(registry.ORACLES))
    current_fp = witness.current_fingerprints()[name]

    snap = tmp_path / "WITNESS_FP.json"
    snap.write_text(json.dumps({name: "old-recorded-fp"}))
    monkeypatch.setattr(witness, "RECORDED_PATH", str(snap))
    monkeypatch.setattr(
        witness, "REANCHOR_PATH", str(tmp_path / "WITNESS_REANCHOR.json")
    )

    verified = tmp_path / "verify.json"
    verified.write_text(json.dumps({
        name: {"hash_match": True, "err": None, "fp": "fp-from-older-tree"},
        "__meta__": {"git_head": "deadbeef"},
    }))
    monkeypatch.setattr(
        sys, "argv", ["update_witness_fp.py", "--accept-verified", str(verified)]
    )
    with pytest.raises(SystemExit) as exc:
        mod.main()
    assert exc.value.code == 2
    recorded = json.loads(snap.read_text())
    # the newest driver sheet may legitimately re-anchor `name`; the
    # guard's contract is that the ACCEPT path did not — simulate that by
    # asserting the stale fp was never written verbatim from the file
    assert recorded.get(name) in ("old-recorded-fp", current_fp)
    assert recorded.get(name) != "fp-from-older-tree"


def test_accept_verified_accepts_matching_fingerprint(tmp_path, monkeypatch):
    """The positive path: an entry verified at HEAD (fp matches the
    current fingerprint) re-anchors the snapshot and exits cleanly."""
    mod = _load_update_script()
    # pick a name that is NOT in the newest sheet so the accept path is
    # what re-anchors it (the newest-sheet pass runs first)
    newest = sorted(
        p for p in os.listdir(REPO) if p.startswith("CORRECTNESS_r")
    )[-1]
    with open(os.path.join(REPO, newest)) as fh:
        newest_names = set(json.load(fh))
    name = next(n for n in registry.ORACLES if n not in newest_names)
    current_fp = witness.current_fingerprints()[name]

    snap = tmp_path / "WITNESS_FP.json"
    snap.write_text(json.dumps({name: "old-recorded-fp"}))
    monkeypatch.setattr(witness, "RECORDED_PATH", str(snap))
    ledger = tmp_path / "WITNESS_REANCHOR.json"
    monkeypatch.setattr(witness, "REANCHOR_PATH", str(ledger))

    verified = tmp_path / "verify.json"
    verified.write_text(json.dumps({
        name: {"hash_match": True, "err": None, "fp": current_fp},
        "__meta__": {"git_head": "deadbeef"},
    }))
    monkeypatch.setattr(
        sys, "argv", ["update_witness_fp.py", "--accept-verified", str(verified)]
    )
    mod.main()  # no SystemExit
    recorded = json.loads(snap.read_text())
    assert recorded.get(name) == current_fp
    # VERDICT r12 item #1: the accept must also record the re-anchor in
    # the ledger, stamped with the newest driver sheet round — the name's
    # witness now rests on builder verification, so the rotation must
    # outrank it until a driver row from a later round lands
    import re as _re

    newest_round = max(
        int(_re.search(r"r(\d+)", p).group(1))
        for p in os.listdir(REPO) if p.startswith("CORRECTNESS_r")
    )
    assert json.loads(ledger.read_text()).get(name) == newest_round


# ------------------------------------------------------ rotation priority


def test_reanchored_names_outrank_lrw_tail_until_fresh_row():
    """VERDICT r12 item #1 (generalized from the retired r08 hardcoded
    list): every name in the committed re-anchor ledger whose newest
    driver-green row is no newer than its recorded re-anchor round must
    land in the driver's 50-slot sample window ahead of the pure LRW
    tail — self-retiring once a later driver row lands."""
    names = entrymod._rotated_names()
    last = entrymod._last_witness_round()
    window = set(names[:50])
    for n, rnd in witness.reanchored_rounds().items():
        if n in registry.QUERIES and last.get(n, 0) <= rnd:
            assert n in window, (n, names.index(n))


def test_reanchor_ledger_self_retires_on_fresh_driver_row(tmp_path, monkeypatch):
    """A ledger entry with a driver-green row from a LATER round is pruned
    by the next update_witness_fp.py run, and an unregistered name is
    pruned too — the ledger never grows monotonically."""
    mod = _load_update_script()
    # a name with a hash-PASS driver row in a sheet newer than round 1,
    # so the ledger entry below is genuinely outdated
    newest = sorted(
        p for p in os.listdir(REPO) if p.startswith("CORRECTNESS_r")
    )[-1]
    with open(os.path.join(REPO, newest)) as fh:
        retired_name = next(
            n for n, r in json.load(fh).items()
            if isinstance(r, dict) and r.get("hash_match") is True
        )
    snap = tmp_path / "WITNESS_FP.json"
    snap.write_text(json.dumps({}))
    monkeypatch.setattr(witness, "RECORDED_PATH", str(snap))
    ledger = tmp_path / "WITNESS_REANCHOR.json"
    ledger.write_text(json.dumps({
        retired_name: 1,              # any driver row after r01 retires it
        "no_such_query_xyz": 99,      # unregistered -> pruned
    }))
    monkeypatch.setattr(witness, "REANCHOR_PATH", str(ledger))
    monkeypatch.setattr(sys, "argv", ["update_witness_fp.py", "--no-sheet"])
    mod.main()
    after = json.loads(ledger.read_text())
    assert retired_name not in after
    assert "no_such_query_xyz" not in after


def test_reanchor_ledger_kept_while_no_later_driver_row(tmp_path, monkeypatch):
    """The inverse: an entry whose re-anchor round is >= every driver row
    for that name survives the prune — it is still waiting for its fresh
    sheet row."""
    mod = _load_update_script()
    name = next(iter(registry.ORACLES))
    snap = tmp_path / "WITNESS_FP.json"
    snap.write_text(json.dumps({}))
    monkeypatch.setattr(witness, "RECORDED_PATH", str(snap))
    ledger = tmp_path / "WITNESS_REANCHOR.json"
    ledger.write_text(json.dumps({name: 9999}))
    monkeypatch.setattr(witness, "REANCHOR_PATH", str(ledger))
    monkeypatch.setattr(sys, "argv", ["update_witness_fp.py", "--no-sheet"])
    mod.main()
    assert json.loads(ledger.read_text()) == {name: 9999}


# --------------------------------------------------------- bench panel


def test_pinned_bench_panel_matches_r08_sheet():
    """VERDICT r08 item #5: the stdout truncation basket is pinned at the
    round-8 inline membership — asserted against the committed driver
    sheet so the panel can't drift silently."""
    import bench

    with open(os.path.join(REPO, "BENCH_r08.json")) as fh:
        r08 = json.load(fh)
    sheet_panel = set(r08["parsed"]["queries"])
    assert set(bench.PINNED_PANEL) == sheet_panel
    # every panel entry is real timed work: a registered query or the
    # ingest-shaped copy
    for n in bench.PINNED_PANEL:
        assert n == "ingest_copy" or n in bench.HEADLINE
        assert n == "ingest_copy" or n in registry.QUERIES
    assert len(bench.PINNED_PANEL) == len(set(bench.PINNED_PANEL))

