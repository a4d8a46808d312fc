"""Order-insensitive result hashing and the DuckDB oracle.

A result is canonicalized the way the project's correctness driver does it:
columns sorted by lower-cased name, each value normalized (decimals
normalized, floats to 10 significant digits, timestamps to ISO text), rows
sorted.  Two results match when their canonical digests are equal.  Oracle
digests depend only on the input set, so they are cached next to it.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
from collections.abc import Iterable, Sequence


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(" ", "microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(columns: Sequence[str], rows: Iterable[Sequence]) -> dict:
    """Canonical ``{"rows": n, "sha256": hex}`` of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    canon = sorted((repr(tuple(_norm(r[i]) for i in order)) for r in rows))
    h = hashlib.sha256(repr(sorted(c.lower() for c in columns)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(canon), "sha256": h.hexdigest()}


def spark_digest(df) -> dict:
    """Digest of a Spark DataFrame's full result (collects it)."""
    return digest(df.columns, (tuple(r) for r in df.collect()))


class Oracle:
    """DuckDB over one input directory, with digests cached in ``cache_file``."""

    def __init__(self, input_dir: str, tables: Sequence[str], cache_file: str):
        import duckdb

        self._con = duckdb.connect()
        for t in tables:
            path = os.path.join(input_dir, f"{t}.parquet").replace("'", "''")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._cache_file = cache_file
        try:
            with open(cache_file) as f:
                self._cache = json.load(f)
        except FileNotFoundError:
            self._cache = {}

    def digest(self, key: str, sql: str) -> dict:
        sql_hash = hashlib.sha256(sql.encode()).hexdigest()
        hit = self._cache.get(key)
        if hit is None or hit["sql"] != sql_hash:
            res = self._con.execute(sql)
            cols = [d[0] for d in res.description]
            hit = {"sql": sql_hash, **digest(cols, res.fetchall())}
            self._cache[key] = hit
            tmp = f"{self._cache_file}.tmp-{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self._cache, f, indent=1)
            os.replace(tmp, self._cache_file)
        return {"rows": hit["rows"], "sha256": hit["sha256"]}

    def scalar(self, sql: str):
        return self._con.execute(sql).fetchone()[0]

    def close(self) -> None:
        self._con.close()
