#!/usr/bin/env python
"""Refresh docs/WITNESS_FP.json — the content snapshot behind the
change-aware witness rotation (round-7, VERDICT.md round-6 item #1).

Run at ROUND START, before editing any query: the newest
CORRECTNESS_r*.json sheet was produced by the driver against the
committed tree, which at round start is exactly the current tree, so a
green row in that sheet witnesses the code whose fingerprint
``witness.current_fingerprints()`` computes right now.

Rules applied:
- every name with a satisfactory row in the NEWEST sheet (hash-PASS, or
  rows-only for an entry that still has no oracle) gets its recorded
  fingerprint set to the current one;
- names witnessed only in OLDER sheets keep their previously recorded
  fingerprint (their witness covers older code; if that code has since
  changed they are already stale and must stay stale);
- ``--accept-verified PATH`` records current fingerprints for names whose
  record in PATH (a scripts/verify_local.py results JSON — driver-identical
  canonicalization) shows hash_match true, or rows-only for an entry that
  has no oracle: the queries are re-verified locally against the current
  tree, the results file is committed under docs/ for audit, and the
  witness is re-anchored to the verified code.  GUARDED since round 9
  (ADVICE r08): verify_local.py embeds the per-query fingerprint of the
  code it actually ran (``fp``); any entry whose recorded ``fp`` is
  missing or differs from the CURRENT fingerprint is refused with a
  loud per-name message and a non-zero exit — a results file produced
  against an older tree can no longer silently mark since-edited
  queries as witnessed;
- names no longer registered are pruned.

- ``--no-sheet`` skips the newest-sheet refresh pass.  REQUIRED for any
  MID-ROUND run (round 10 lesson): the newest sheet witnessed the tree
  as it was when the driver froze it, so once any query has been edited
  this round, the default refresh would re-anchor the edited names'
  fingerprints against rows that witnessed the OLD code — silently
  un-staling them.  Mid-round, combine with --accept-verified (whose
  per-entry fingerprint guard makes it edit-safe) to record evidence
  for newly registered queries.

A fingerprint-ALGORITHM change is translated, not re-verified, when it
lands on a tree with no stale name.  Each name gets its new-scheme
fingerprint, except where code only the new scheme covers changed after
the name's witness (its driver sheet's tree, or its re-anchor commit):
such a name gets the new-scheme fingerprint of its witness's tree and so
stays stale.  The switch to the static symbol graph was translated this
way, by a one-off command recorded in CHANGES.md.

Usage:  python scripts/update_witness_fp.py [--no-sheet] [--accept-verified PATH]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_for_ecol_fusion_database_spark import registry, witness  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _satisfactory(rec: dict, name: str) -> bool:
    if not isinstance(rec, dict):
        return False
    if rec.get("hash_match") is True:
        return True
    return rec.get("err") == "no_oracle" and name not in registry.ORACLES


def main() -> None:
    sheets = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    if not sheets:
        print("no CORRECTNESS sheets found; nothing to do")
        return

    current = witness.current_fingerprints()
    recorded = witness.recorded_fingerprints()

    newest = sheets[-1]
    refreshed = []
    if "--no-sheet" not in sys.argv[1:]:
        with open(newest) as fh:
            newest_sheet = json.load(fh)
        for name, rec in newest_sheet.items():
            if name in current and _satisfactory(rec, name):
                if recorded.get(name) != current[name]:
                    refreshed.append(name)
                recorded[name] = current[name]

    accepted = []
    rejected = []
    if "--accept-verified" in sys.argv[1:]:
        path = sys.argv[sys.argv.index("--accept-verified") + 1]
        with open(path) as fh:
            verified = json.load(fh)
        for name, rec in verified.items():
            if name == "__meta__" or name not in current:
                continue
            if not _satisfactory(rec, name):
                continue
            # provenance guard (ADVICE r08): only accept a verification
            # whose embedded fingerprint matches the code as it is NOW —
            # a results file from an older tree must not re-anchor a
            # since-edited query
            if not isinstance(rec, dict) or rec.get("fp") != current[name]:
                rejected.append(name)
                continue
            if recorded.get(name) != current[name]:
                accepted.append(name)
            recorded[name] = current[name]

    # Re-anchor ledger maintenance (VERDICT r12 item #1).  Every name
    # whose fingerprint was just re-anchored from builder verification is
    # recorded with the round of the NEWEST driver sheet that exists right
    # now: its witness no longer rests on a driver row, so the rotation in
    # __spark_entry__ must outrank it over the LRW tail until a driver row
    # from a later round lands.  Entries self-retire: once the sheets show
    # a satisfactory driver row from a round AFTER the recorded one (or the
    # name is unregistered), they are pruned here.
    newest_round = int(re.search(r"r(\d+)", os.path.basename(sheets[-1])).group(1))
    reanchor = witness.reanchored_rounds()
    for name in accepted:
        reanchor[name] = max(reanchor.get(name, 0), newest_round)
    driver_last: dict[str, int] = {}
    for path in sheets:
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        try:
            with open(path) as fh:
                sheet = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, rec in sheet.items():
            if _satisfactory(rec, name):
                driver_last[name] = max(driver_last.get(name, 0), rnd)
    retired = sorted(
        n for n, rnd in reanchor.items()
        if n not in current or driver_last.get(n, 0) > rnd
    )
    for n in retired:
        del reanchor[n]
    if accepted or retired or not os.path.exists(witness.REANCHOR_PATH):
        with open(witness.REANCHOR_PATH, "w") as fh:
            json.dump(dict(sorted(reanchor.items())), fh, indent=1)
            fh.write("\n")

    pruned = [n for n in recorded if n not in current]
    for n in pruned:
        del recorded[n]

    os.makedirs(os.path.dirname(witness.RECORDED_PATH), exist_ok=True)
    with open(witness.RECORDED_PATH, "w") as fh:
        json.dump(dict(sorted(recorded.items())), fh, indent=1)
        fh.write("\n")

    stale = sorted(witness.stale_names() & set(recorded) | (set(current) - set(recorded)))
    print(f"newest sheet: {os.path.basename(newest)}")
    print(f"refreshed from newest sheet: {len(refreshed)}")
    if accepted:
        print(f"accepted from local verification: {len(accepted)}")
    if rejected:
        print(
            f"REFUSED {len(rejected)} --accept-verified entries whose "
            "recorded fingerprint does not match the current tree "
            "(stale or fingerprint-less results file — re-run "
            "scripts/verify_local.py at HEAD):"
        )
        for n in sorted(rejected):
            print("  refused:", n)
    if pruned:
        print(f"pruned (unregistered): {pruned}")
    print(f"recorded total: {len(recorded)} / registered {len(current)}")
    print(f"currently stale (will re-enter rotation): {len(stale)}")
    for n in stale:
        print("  stale:", n)
    if rejected:
        sys.exit(2)


if __name__ == "__main__":
    main()
