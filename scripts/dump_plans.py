#!/usr/bin/env python
"""Dump query plans for an optimization round.

Usage: python scripts/dump_plans.py --round N [--suffix before] [--scan] [name ...]

Without ``--scan``: writes ``.explain('formatted')`` of each named query to
``plans/rN/<name>_<suffix>.txt``; with no names, the queries already dumped
under ``plans/rN/`` (so an ``after`` pass covers the ``before`` set).

With ``--scan``: plans (never executes) every registered query, or the
named ones, and counts the plan-shape signals worth a look — parquet scans,
exchanges, Python-boundary nodes, join strategies, duplicated subtrees (scan
count >> tables touched) — into ``plans/rN/scan_<suffix>.json``.

Plans are built at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1, the bench scale,
so plan shapes match the bench).
"""

from __future__ import annotations

import argparse
import json
import os
import re

import measure

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", f"{measure.FIXTURES}/sf0.1")

SCAN_PATTERNS = {
    "scans": r"Scan parquet",
    "exchanges": r"\bExchange\b",
    "reused_exchange": r"ReusedExchange",
    "sort_merge_join": r"SortMergeJoin",
    "broadcast_hash_join": r"BroadcastHashJoin",
    "shuffled_hash_join": r"ShuffledHashJoin",
    "bnl_join": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
    "batch_eval_python": r"BatchEvalPython",
    "arrow_eval_python": r"ArrowEvalPython",
    "map_in_pandas": r"MapInPandas|MapInArrow|FlatMapGroupsInPandas",
    "existing_rdd": r"Scan ExistingRDD",
    "window": r"\bWindow\b",
}


def scan(spark, registry, names, path: str) -> None:
    results: dict[str, dict] = {}
    for name in names:
        try:
            txt = measure.plan_text(registry.QUERIES[name](spark, SF_DIR), "simple")
            results[name] = {k: len(re.findall(p, txt)) for k, p in SCAN_PATTERNS.items()}
            results[name]["plan_lines"] = txt.count("\n")
        except Exception as e:  # noqa: BLE001 — the scan must cover the rest
            results[name] = {"error": str(e)[:200]}
    with open(path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    ok = sorted(((r["scans"], n) for n, r in results.items() if "error" not in r), reverse=True)
    for s, n in ok[:25]:
        r = results[n]
        print(f"{n:32s} scans={s:3d} exch={r['exchanges']:3d} "
              f"smj={r['sort_merge_join']} py={r['batch_eval_python']}"
              f"/{r['arrow_eval_python']}/{r['map_in_pandas']} lines={r['plan_lines']}")
    errs = [n for n, r in results.items() if "error" in r]
    if errs:
        print("ERRORS:", errs)
    print(f"wrote {path} ({len(results)} queries)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--scan", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    out_dir = os.path.join(measure.REPO, "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)

    from etl_for_ecol_fusion_database_spark import registry

    spark = measure.session(f"plans-r{args.round}")
    if args.scan:
        scan(spark, registry, args.names or list(registry.QUERIES),
             os.path.join(out_dir, f"scan_{args.suffix}.json"))
    else:
        names = args.names or sorted({
            f[: f.rindex("_")] for f in os.listdir(out_dir) if f.endswith(".txt")})
        if not names:
            raise SystemExit(f"no query names given and none dumped in {out_dir}")
        for name in names:
            txt = measure.plan_text(registry.QUERIES[name](spark, SF_DIR), "formatted")
            path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            print(f"wrote {path} ({len(txt)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
