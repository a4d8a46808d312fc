#!/usr/bin/env python
"""Alternating fresh-session A/B probe of one query across two checkouts.

Usage:
  python scripts/ab_probe.py <query> <n_pairs> <dirA> <dirB> [out.json]

Each dir is a checkout of this repository (for example a ``git worktree``
of the parent commit and one of the change).  Every sample is its own
process and Spark session, run with cwd, ``sys.path[0]`` and
``PYTHONPATH`` all set to its side's directory, so the driver and its
Python workers import that side's package; A and B sessions alternate in
time so slow host spells land on both sides evenly.  Both sides measure
with this checkout's ``scripts/measure.py`` (a side need not carry one):
smoke warm-up at sf0.001, ``WARM`` uncounted and ``RUNS`` timed noop-sink
runs at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1), median per session.

Each session records its runs, first-run shuffle bytes, ``cal``, load
average, its dir's git provenance (active ``SPARK_GRAFT_*`` knobs
included) and the package ``__file__`` seen by the driver and by one
Python worker.  The results file is rewritten after every pair, so a
failing session keeps the pairs already measured.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import measure

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", f"{measure.FIXTURES}/sf0.1")
WARM = 3
RUNS = 3
SCRIPTS = os.path.dirname(os.path.abspath(__file__))

#: the child bootstrap: this instrument first, then the side's checkout
#: in front of it, so the package resolves to the side
CHILD = """import sys
sys.path.insert(0, {scripts!r})
import ab_probe
sys.path.insert(0, {side!r})
ab_probe.side({query!r})
"""


def side(query: str) -> None:
    """One session of one side (runs in the child); prints its record."""
    import etl_for_ecol_fusion_database_spark as pkg
    from etl_for_ecol_fusion_database_spark import registry

    spark = measure.session("ab-probe")
    rec = {"cal": measure.calibrate(), "loadavg_pre": measure.host()["loadavg"]}
    rec["runs"], rec["shuffle_bytes"] = measure.timed_runs(
        spark, registry.QUERIES[query], SF_DIR, RUNS, warm_runs=WARM)
    rec["median"] = measure.median(rec["runs"])
    rec["loadavg_post"] = measure.host()["loadavg"]
    rec["driver_package"] = pkg.__file__
    rec["worker_package"] = spark.sparkContext.parallelize([0], 1).map(
        lambda _: __import__("etl_for_ecol_fusion_database_spark").__file__).first()
    rec.update(measure.provenance(os.getcwd()))
    spark.stop()
    print("AB_RESULT " + json.dumps(rec))


def run_side(query: str, side_dir: str) -> dict:
    env = dict(os.environ, PYTHONPATH=side_dir)
    code = CHILD.format(scripts=SCRIPTS, side=side_dir, query=query)
    out = subprocess.run([sys.executable, "-c", code], cwd=side_dir,
                         capture_output=True, text=True, env=env)
    for line in out.stdout.splitlines():
        if line.startswith("AB_RESULT "):
            return json.loads(line[len("AB_RESULT "):])
    raise RuntimeError(f"A/B child failed in {side_dir}:\n"
                       f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def summarize(result: dict) -> None:
    """Per-side medians of session medians, the B/A ratio and the number of
    pairs each side won (lower seconds wins)."""
    pairs = result["pairs"]
    for k in ("A", "B"):
        meds = [p[k]["median"] for p in pairs]
        result[k] = {"dir": result[k]["dir"], "session_medians": meds,
                     "median": statistics.median(meds)}
    result["b_over_a"] = round(result["B"]["median"] / result["A"]["median"], 3)
    result["b_faster_pairs"] = sum(p["B"]["median"] < p["A"]["median"] for p in pairs)


def main() -> int:
    query, n_pairs, dir_a, dir_b = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    out_path = sys.argv[5] if len(sys.argv) > 5 else "/tmp/ab_probe.json"
    result = {
        "query": query, "sf_dir": SF_DIR, "warm_runs": WARM, "runs": RUNS,
        "A": {"dir": os.path.abspath(dir_a)}, "B": {"dir": os.path.abspath(dir_b)},
        "instrument": measure.provenance(), "pairs": [],
    }
    for i in range(n_pairs):
        try:
            pair = {k: run_side(query, result[k]["dir"]) for k in ("A", "B")}
        except RuntimeError as exc:
            result["error"] = str(exc)
            print(exc, file=sys.stderr)
            break
        result["pairs"].append(pair)
        summarize(result)
        with open(out_path, "w") as fh:
            json.dump(result, fh, indent=1)
        print(f"pair {i}: A med={pair['A']['median']:.3f} {pair['A']['runs']}   "
              f"B med={pair['B']['median']:.3f} {pair['B']['runs']}", flush=True)
    if "error" in result:
        with open(out_path, "w") as fh:
            json.dump(result, fh, indent=1)
        return 1
    print(f"A median-of-medians {result['A']['median']:.3f}  "
          f"B {result['B']['median']:.3f}  B/A {result['b_over_a']}  "
          f"B faster in {result['b_faster_pairs']}/{n_pairs} pairs; wrote {out_path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
