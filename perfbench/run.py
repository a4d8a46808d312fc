"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload refresh_sf005 --seed 1 --seconds 25 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: every end-to-end
metric with ``--trace 0``, every per-layer metric with ``--trace 1``.  The
run's full record (environment, set-up, checks, per-op walls) is written to
``.perfbench/results/``.  The exit code is 0 only when every op ran and
every checked output matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "etl_for_ecol_fusion_database_spark"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input scale override (default: the workload's own)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the package to measure ({PACKAGE}) is not under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import RunConfig, run

    config = RunConfig(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    try:
        out = run(config)
    except ValueError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    results = os.path.join(config.work_dir, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, default=str)
    for c in out["detail"]["checks"]:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['op']}: {c.get('error') or c}", file=sys.stderr)
    for e in out["detail"]["errors"]:
        print(f"perfbench: op failed: {e['op']} (pass {e['pass']}): {e['error']}", file=sys.stderr)
    print(json.dumps(out["result"]), flush=True)
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
