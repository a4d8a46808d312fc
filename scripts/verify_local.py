"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 side-by-side with
its ``oracle_sql()`` DuckDB twin and compares row count, column names, and a
value hash computed the way the driver does (columns sorted by name, rows
sorted, values stringified WITHOUT normalization — so Decimal-vs-float64 and
array-typed columns fail here exactly as they fail on the driver's sheet).

The results JSON carries provenance so downstream consumers can trust it
(ADVICE r08 / VERDICT r08 item #3): a ``__meta__`` record with the git
HEAD, dirty flag and dirty paths of the checkout this script lives in
(the one it imports and verifies) and the active ``SPARK_GRAFT_*`` knobs,
and a per-query ``fp`` — the accessed-symbol witness fingerprint of the
code that actually ran.
``update_witness_fp.py --accept-verified`` refuses any entry whose
recorded ``fp`` no longer matches the current tree, so a results file
produced against an older tree can never re-anchor an edited query.

Usage:  python scripts/verify_local.py [query_name ...]
Env:    SPARK_GRAFT_VERIFY_SF_DIR  (default /root/testdata/sf0.01)
        SPARK_GRAFT_VERIFY_OUT     (default /tmp/verify_local.json)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

import duckdb

import measure  # puts this checkout first on sys.path

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", f"{measure.FIXTURES}/sf0.01")
OUT_PATH = os.environ.get("SPARK_GRAFT_VERIFY_OUT", "/tmp/verify_local.json")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    """Stringify one value.  Temporals are normalized (the driver's canon
    treats Spark datetime.date == DuckDB Timestamp-at-midnight, verified
    green in CORRECTNESS_r02 for u1/j1/j2/w2); everything else — Decimal,
    int-vs-float dtype, arrays — stays strict because the driver is strict
    there (x3_profile_lineitem / x3_profile_sketch evidence)."""
    import datetime

    import pandas as pd

    if v is pd.NaT:
        return "NaT"
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def canon_hash(df_pandas):
    """Driver-style: sort columns by name, sort rows, hash stringified values."""
    cols = sorted(df_pandas.columns)
    d = df_pandas[cols]
    rows = [tuple(_norm(v) for v in row)
            for row in d.itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.sha256()
    for r in rows:
        for v in r:
            h.update(v.encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()


def main(only=None):
    import __spark_entry__ as entry
    from etl_for_ecol_fusion_database_spark import witness

    fps = witness.current_fingerprints()
    spark = measure.session("verify-local", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = only or list(qs)
    results = {}
    for name in names:
        t0 = time.time()
        rec = {}
        try:
            sdf = qs[name](spark, SF_DIR).toPandas()
            rec["spark_rows"] = len(sdf)
            if name in oracles:
                odf = con.execute(oracles[name]).df()
                rec["oracle_rows"] = len(odf)
                rec["rows_match"] = len(sdf) == len(odf)
                rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
                if not rec["schema_match"]:
                    rec["spark_cols"] = sorted(sdf.columns)
                    rec["oracle_cols"] = sorted(odf.columns)
                rec["hash_match"] = (
                    rec["rows_match"]
                    and rec["schema_match"]
                    and canon_hash(sdf) == canon_hash(odf)
                )
            else:
                rec["err"] = "no_oracle"
        except Exception as e:
            rec["err"] = f"{type(e).__name__}: {e}"
            rec["trace"] = traceback.format_exc()[-1500:]
        rec["sec"] = round(time.time() - t0, 2)
        # provenance: the witness fingerprint of the code this result ran
        # (accept-verified refuses the entry if HEAD has moved since)
        rec["fp"] = fps.get(name)
        results[name] = rec
        status = (
            "OK" if rec.get("hash_match")
            else ("rows-only" if rec.get("err") == "no_oracle" else "FAIL")
        )
        print(f"{status:9s} {name:32s} {rec.get('sec')}s "
              f"rows={rec.get('spark_rows')}/{rec.get('oracle_rows')}", flush=True)
        if status == "FAIL":
            print(json.dumps({k: v for k, v in rec.items() if k != "trace"},
                             default=str), flush=True)
        measure.release_barriers(spark)

    fails = {k: v for k, v in results.items()
             if not v.get("hash_match") and v.get("err") != "no_oracle"}
    print(f"\n{len(results)} run, {len(fails)} FAIL, "
          f"{sum(1 for v in results.values() if v.get('err') == 'no_oracle')} rows-only")
    prov = measure.provenance()
    if prov["git_dirty"]:
        # VERDICT r09 item #5: a dirty-tree artifact says WHICH paths were
        # in flight, so an audit can judge whether they touched the code
        print("WARNING: dirty tree — results carry git_dirty_paths: "
              + ", ".join(prov["git_dirty_paths"]), flush=True)
    results["__meta__"] = {
        "sf_dir": SF_DIR,
        "generated_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        **prov,
    }
    with open(OUT_PATH, "w") as f:
        json.dump(results, f, indent=1, default=str)
    if fails:
        print("FAILURES:", sorted(fails))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
