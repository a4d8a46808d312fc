"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``etl_for_ecol_fusion_database_spark``; this module
only adapts that package to the driver contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_for_ecol_fusion_database_spark import registry
from etl_for_ecol_fusion_database_spark.session import pin_parity_conf

SF_SMOKE_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §3.3 valid-collision pipeline) on
    /root/testdata/sf0.001; driver checks rows>0."""
    pin_parity_conf(spark)
    return registry.QUERIES["flagship_valid_cohort"](spark, SF_SMOKE_DIR)


def _witnessed_names() -> frozenset[str]:
    """Names that already have a satisfactory driver CORRECTNESS row, read
    from the CORRECTNESS_r*.json sheets the driver commits into this repo —
    self-maintaining, no per-round hand bookkeeping.

    A name counts as witnessed if any sheet shows a full value-hash PASS,
    or a rows-only ("no_oracle") row for an entry that STILL has no oracle
    (it cannot do better than rows-only).  A rows-only row for an entry
    that has since GAINED an oracle does NOT count — it re-enters the
    unwitnessed block to earn a hash-checked row (x3_profile_sketch did
    this in round 4).  Failed rows never count, so regressions rotate back
    into the sample window automatically.

    The witness is also CHANGE-AWARE.  A green row only counts while the
    query's content fingerprint (oracle SQL + the source of every package
    symbol reachable from its decorated def, the registry wrapper and
    parity conf included — see
    etl_for_ecol_fusion_database_spark/witness.py) still matches the
    snapshot recorded in docs/WITNESS_FP.json at the time of the witness
    (refreshed each round start by scripts/update_witness_fp.py).  A
    query edited after its last green row therefore re-enters the
    50-slot sample window automatically instead of keeping a stale
    witness — the round-6 blind spot that left 16 edited queries
    hand-verified only."""
    witnessed = frozenset(_last_witness_round())
    try:
        # the import itself lives inside the guard: an import-time failure
        # in witness.py (or a transitive import) must degrade to the
        # pre-round-7 rotation, not crash the driver contract (ADVICE r07)
        from etl_for_ecol_fusion_database_spark import witness

        stale = witness.stale_names()
    except Exception:
        # fingerprinting must never take down the driver contract; with no
        # snapshot every sheet-green name stays witnessed (pre-round-7
        # behavior)
        stale = frozenset()
    return frozenset(witnessed - stale)


def _last_witness_round(sheets_dir: str | None = None) -> dict[str, int]:
    """Map each satisfactorily-witnessed name to the NEWEST round number
    whose sheet shows that witness (hash-PASS, or rows-only for an entry
    that still has no oracle).  Used both as the witnessed set and to
    order the already-witnessed tail least-recently-witnessed-first.

    A name whose MOST RECENT sheet row is a failure (hash mismatch or an
    execution error) is NOT witnessed, even if an older sheet was green —
    the newest evidence is a regression and the name must re-enter the
    sample window (ADVICE r08: the old any-sheet-ever rule kept exactly
    such names out of the window forever when the fingerprint hadn't
    changed).  A rows-only row for a name that has since gained an oracle
    is not a failure — it just doesn't count as a witness by itself."""
    import glob
    import json
    import os
    import re

    here = sheets_dir or os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    newest_round: dict[str, int] = {}
    newest_failed: dict[str, bool] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                sheet = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, rec in sheet.items():
            if not isinstance(rec, dict):
                continue
            satisfactory = rec.get("hash_match") is True or (
                rec.get("err") == "no_oracle" and name not in registry.ORACLES
            )
            if satisfactory:
                last[name] = max(last.get(name, 0), rnd)
            if rnd >= newest_round.get(name, -1):
                newest_round[name] = rnd
                # rows-only for a since-oracled entry: unwitnessing is
                # handled by `satisfactory` above; it is not a regression
                newest_failed[name] = (
                    not satisfactory and rec.get("err") != "no_oracle"
                )
    return {n: r for n, r in last.items() if not newest_failed.get(n, False)}


def _rotated_names() -> list[str]:
    """Registration order, partitioned so unwitnessed entries come first
    (the driver's CORRECTNESS sheet samples only the first 50).

    The block opens with the explicit priorities, then every name in the
    re-anchor ledger still awaiting a driver row (stale or not), then the
    other unwitnessed entries: TPC-H queries, then oracle-backed ext
    entries in registration order, then rows-only entries (weaker driver
    check — spend sample slots on the hash-checkable ones first).  The already-witnessed tail is ordered
    least-recently-witnessed-first, so spare sample slots refresh the
    oldest evidence (e.g. the x4 multimodal family, VERDICT r07 item #8)
    instead of re-running whatever registered first.
    """
    priority = [
        # named in VERDICT.md round-3 "done" criterion — must land in the
        # sample window this round
        "x9_curation_v2", "x12_data_quality", "x3_bm25_topk",
        "x8_kmeans_assign",
        # round-4 streaming witness: the one entry whose Spark side runs the
        # actual writeStream path (VERDICT round-3 item #8)
        "x5_stream_curation_replay",
    ]
    # VERDICT r12 item #1 (generalizing the retired r08 hardcoded list):
    # a query whose witness was re-anchored via builder-run verification
    # (update_witness_fp.py --accept-verified) has evidence categorically
    # weaker than a driver sheet row.  The accept path records each such
    # name in docs/WITNESS_REANCHOR.json together with the newest driver
    # sheet round at accept time; those names outrank the pure
    # least-recently-witnessed tail until each earns a driver row from a
    # LATER round — the comparison below then self-retires the entry (and
    # the next update_witness_fp.py run prunes it from the ledger).
    try:
        from etl_for_ecol_fusion_database_spark import witness as _witness

        reanchored = _witness.reanchored_rounds()
    except Exception:
        # ledger loading must never take down the driver contract
        reanchored = {}
    witnessed = _witnessed_names()
    names = list(registry.QUERIES)
    last_round = _last_witness_round()
    priority = [n for n in priority if n in names and n not in witnessed]
    # ledger names lead whether their re-anchored fingerprint still holds
    # or went stale again: an edit reaching most queries must not push
    # them out of the window behind names with a driver row of their own
    ledger = [
        n for n in names
        if n not in priority and last_round.get(n, 0) <= reanchored.get(n, -1)
    ]
    unseen = [
        n for n in names
        if n not in witnessed and n not in priority and n not in ledger
    ]
    order = {n: i for i, n in enumerate(names)}
    seen = sorted(
        (n for n in names if n in witnessed and n not in ledger),
        key=lambda n: (last_round.get(n, 0), order[n]),
    )
    tpch = [n for n in unseen if n.startswith("q") and n[1].isdigit()]
    rest_oracled = [
        n for n in unseen if n not in tpch and n in registry.ORACLES
    ]
    rest_rows_only = [
        n for n in unseen if n not in tpch and n not in registry.ORACLES
    ]
    return priority + ledger + tpch + rest_oracled + rest_rows_only + seen


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so the driver's 50-entry sample window hits queries that do not
    yet have a CORRECTNESS row (see _rotated_names)."""
    return {n: registry.QUERIES[n] for n in _rotated_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each ``queries()`` key.
    Keys absent here (non-SQL-expressible ops, e.g. LSH/simhash/streaming)
    get the driver's weaker rows-only check."""
    return dict(registry.ORACLES)
