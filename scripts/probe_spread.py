#!/usr/bin/env python
"""Idle raw-run spread probe for the heavy-head watch queries.

VERDICT r09 item #4: four queries exceeded the <=15% raw-run spread
done-bar on the r09 bench (x2_knn_join 32%, x2_index_persist 22%,
x2_pq_adc_topk 18%, x2_random_projection 17%) and the absolute deltas
are 0.2-0.6 s on 1-3 s queries — plausibly the measurement noise floor
at this scale, but that claim needs run data.  This probe runs each
query MANY times on an idle machine after bench.py's heavy-head warm-up
discipline (``measure.timed_runs`` with GC barriers), prints per-query
stats, and writes JSON for the BASELINE.md noise-floor paragraph (or, if
the spread settles with more warm-ups, the evidence for raising them).

Usage: python scripts/probe_spread.py [--queries a,b] [--runs 12]
                                      [--warm 4] [out.json]
(run ALONE — any concurrent Spark job inflates timings 10-30%)
"""

from __future__ import annotations

import argparse
import json
import os

import measure

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", f"{measure.FIXTURES}/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="x2_knn_join,x2_index_persist,"
                    "x2_pq_adc_topk,x2_random_projection")
    ap.add_argument("--runs", type=int, default=12)
    ap.add_argument("--warm", type=int, default=4)
    ap.add_argument("out", nargs="?", default="/tmp/probe_spread.json")
    args = ap.parse_args()

    from etl_for_ecol_fusion_database_spark import registry

    spark = measure.session("probe-spread")
    results: dict[str, dict] = {}
    for name in args.queries.split(","):
        runs, _ = measure.timed_runs(spark, registry.QUERIES[name], SF_DIR,
                                     args.runs, warm_runs=args.warm, gc=True)
        med = measure.median(runs)
        spread = (max(runs) - min(runs)) / min(runs)
        results[name] = {
            "runs": runs,
            "median": med,
            "min": min(runs),
            "max": max(runs),
            "spread_pct": round(spread * 100, 1),
            "abs_delta_s": round(max(runs) - min(runs), 3),
        }
        print(f"{name:24s} med={med:6.3f} spread={spread * 100:5.1f}% "
              f"runs={runs}", flush=True)
        measure.release_barriers(spark)
    results["__meta__"] = {
        "sf_dir": SF_DIR, "n_warm": args.warm, "n_runs": args.runs,
        "cal": measure.calibrate(), **measure.host(), **measure.provenance(),
    }
    with open(args.out, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
