"""Deterministic benchmark inputs: the fixture star schema generated from a seed.

The package's queries read ten parquet tables (``catalog.FIXTURE_TABLES``)
whose schemas and value domains are described in FIXTURES.md.  This module
generates tables with the same columns and domains from ``(seed, scale)``:
the same pair always gives byte-identical data, and ``scale`` plays the role
of the TPC-H scale factor (``scale=0.1`` gives 150k orders, 600k lineitems,
100k events and 5k documents).  The generated tables also keep the
properties FIXTURES.md and ``catalog`` document for the inputs, so the code
paths they exist for run:

- ``events.ts`` is stored as TIMESTAMP(NANOS) with sub-microsecond digits
  (``catalog.NANOS_TIMESTAMP_COLS``: read as LONG and truncated);
- ``(user_id, ts, event_type)`` is unique even after truncation to
  microseconds, and many orders have no events (FIXTURES.md items 3, 5);
- a share of ``orders.o_orderdate`` is NULL (FIXTURES.md item 4);
- ``documents.text`` is punctuated sentences over a Zipf-weighted English
  vocabulary, with some exact and some near-duplicate documents, so the
  n-gram, dedup and quality kernels see realistic token and shingle mixes.

Each table is written as ONE parquet file with ONE row group, the layout of
the committed fixtures, so ``catalog.load_table_rebalanced`` takes the same
branch it takes on them.  Generated sets are cached under
``<work>/inputs/<key>/``; a set is written to a staging directory and renamed
into place only when complete, and every reuse re-checks the per-table row
counts against its manifest and against the counts ``scale`` implies, so a
partial or stale cache fails loudly instead of being measured.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated data changes, so stale caches are never reused
GENERATOR_VERSION = 2
#: input sets kept in the cache; older ones are evicted
KEEP_SETS = 4
#: share of orders whose o_orderdate is NULL
NULL_ORDERDATE_SHARE = 0.02
#: shares of documents that repeat an earlier one exactly / with one
#: sentence replaced
EXACT_DUP_SHARE = 0.01
NEAR_DUP_SHARE = 0.02

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["red", "blue", "green", "small", "large", "steel", "brass", "copper"]
_NOUNS = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring", "clamp"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
#: most frequent first: word i is drawn with weight 1 / (i + 2.7)
_VOCAB = (
    "the of and to a in is it for on that with as was be by this are or from "
    "at an not have has which but were their they can more one all its been "
    "data system table query records each new time when field report value "
    "number traffic collision vehicle road police status date source first "
    "two other after before during between into over under about would could "
    "should may must will also only most such these those than then there "
    "where while year month day driver owner party object history event "
    "update record index join merge batch stream window column row key scan "
    "filter group order sort hash partition cluster node memory disk network "
    "operator plan stage task shuffle result output input file format schema "
    "version change review check error warning failure success pending "
    "uploaded valid invalid missing duplicate unique total average median "
    "large small fast slow high low early late recent old current previous "
    "city county province region street highway intersection lane speed "
    "weather light dark wet dry snow ice rain morning evening night weekend"
).split()
_PUNCT_END = np.array([".", ".", ".", ".", "?", "!"], dtype=object)
_EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (the fixture generator's proportions)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, round(150_000 * scale)),
        "supplier": max(10, round(10_000 * scale)),
        "part": max(200, round(200_000 * scale)),
        "orders": max(1_500, round(1_500_000 * scale)),
        "lineitem": max(6_000, round(6_000_000 * scale)),
        "events": max(1_000, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _timestamps(micros: np.ndarray, mask: np.ndarray | None = None) -> pa.Array:
    return pa.array(micros.astype("datetime64[us]"), type=pa.timestamp("us"), mask=mask)


def _sentences(rng: np.random.Generator, count: int) -> list[str]:
    """``count`` sentences: capitalized, 4-17 Zipf-drawn words, an
    occasional comma, ending in . ? or !"""
    weights = 1.0 / (np.arange(len(_VOCAB)) + 2.7)
    lengths = rng.integers(4, 18, count)
    words = np.array(_VOCAB, dtype=object)[
        rng.choice(len(_VOCAB), int(lengths.sum()), p=weights / weights.sum())]
    commas = rng.random(int(lengths.sum())) < 0.06
    ends = rng.choice(_PUNCT_END, count)
    out, at = [], 0
    for k, end in zip(lengths, ends):
        ws = [w + "," if c else w for w, c in zip(words[at : at + k - 1], commas[at : at + k - 1])]
        ws.append(words[at + k - 1] + end)
        at += k
        out.append(" ".join(ws).capitalize())
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    counts = rng.integers(2, 10, n)
    sentences = _sentences(rng, int(counts.sum()))
    docs, at = [], 0
    for k in counts:
        docs.append(sentences[at : at + k])
        at += k
    # duplicates repeat an earlier document: exactly, or with one of its
    # sentences replaced by a fresh one
    kind = rng.random(n)
    spare = iter(_sentences(rng, n))
    for i in range(1, n):
        if kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            docs[i] = list(docs[rng.integers(0, i)])
            if kind[i] >= EXACT_DUP_SHARE:
                docs[i][rng.integers(0, len(docs[i]))] = next(spare)
    texts = [" ".join(d) for d in docs]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * _EMBED_DIM, _EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, scale)``; every table draws from its own
    child generator, so a table's rows do not depend on the others'."""
    n = row_counts(scale)
    rngs = dict(zip(TABLES, (np.random.default_rng(s) for s in
                             np.random.SeedSequence(seed).spawn(len(TABLES)))))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    r, k = rngs["customer"], n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": r.choice(_SEGMENTS, k),
    })
    r, k = rngs["supplier"], n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })
    r, k = rngs["part"], n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": [f"{c} {m}" for c, m in zip(r.choice(_COLORS, k), r.choice(_NOUNS, k))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": r.choice(_PART_TYPES, k),
        "p_size": r.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 2),
    })
    r, k = rngs["orders"], n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], k),
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": _timestamps(_EPOCH_1995 + r.integers(0, 2404, k) * _US_PER_DAY,
                                   mask=r.random(k) < NULL_ORDERDATE_SHARE),
        "o_orderpriority": r.choice(_PRIORITIES, k),
    })
    r, k = rngs["lineitem"], n["lineitem"]
    qty = r.integers(1, 51, k).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": r.integers(1, 8, k).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, k), 2),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], k),
        "l_linestatus": r.choice(["F", "O"], k),
        "l_shipdate": _timestamps(_EPOCH_1995 + r.integers(1, 2499, k) * _US_PER_DAY),
    })
    r, k = rngs["events"], n["events"]
    # distinct microseconds keep (user_id, ts, event_type) unique after the
    # readers truncate to microseconds, the tie-free ranking the flagship
    # needs (FIXTURES.md item 3); the nanosecond digits are what they drop
    ts = np.sort(r.choice(30 * _US_PER_DAY, k, replace=False)) + _EPOCH_2024
    ts_ns = ts * 1000 + r.integers(0, 1000, k)
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(ts_ns.astype("datetime64[ns]"), type=pa.timestamp("ns")),
        "user_id": r.integers(0, max(15, k * 3 // 200), k).astype(np.int64),
        "event_type": r.choice(_EVENT_TYPES, k),
        "value": np.maximum(np.round(r.exponential(25.0, k), 2), 0.01),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })
    t["documents"] = _documents(rngs["documents"], n["documents"])
    t["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])
    return t


@dataclass(frozen=True)
class InputSet:
    """One verified, complete input directory."""

    path: str
    seed: int
    scale: float
    rows: dict[str, int]
    bytes: dict[str, int]

    def table_path(self, name: str) -> str:
        return os.path.join(self.path, f"{name}.parquet")


def _key(seed: int, scale: float) -> str:
    return f"v{GENERATOR_VERSION}-s{scale:g}-seed{seed}"


def _verify(path: str, scale: float) -> dict:
    """The manifest of a complete set; raise if any table is missing or its
    footer row count disagrees with the manifest or with ``scale``."""
    with open(os.path.join(path, "MANIFEST.json")) as f:
        manifest = json.load(f)
    expected = row_counts(scale)
    for name in TABLES:
        footer = pq.ParquetFile(os.path.join(path, f"{name}.parquet")).metadata.num_rows
        if not footer == manifest["rows"][name] == expected[name]:
            raise RuntimeError(
                f"stale or partial input cache {path}: {name} has {footer} rows, "
                f"manifest {manifest['rows'].get(name)}, expected {expected[name]}"
            )
    return manifest


def prepare(work_dir: str, seed: int, scale: float) -> InputSet:
    """Generate (or reuse) the inputs for ``(seed, scale)`` under
    ``work_dir/inputs``; at most ``KEEP_SETS`` sets are kept, oldest evicted."""
    root = os.path.join(work_dir, "inputs")
    path = os.path.join(root, _key(seed, scale))
    if not os.path.exists(os.path.join(path, "MANIFEST.json")):
        shutil.rmtree(path, ignore_errors=True)
        staging = f"{path}.partial-{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        rows = {}
        for name, table in generate(seed, scale).items():
            pq.write_table(table, os.path.join(staging, f"{name}.parquet"),
                           row_group_size=max(1, table.num_rows))
            rows[name] = table.num_rows
        manifest = {"generator": GENERATOR_VERSION, "seed": seed, "scale": scale,
                    "rows": rows}
        with open(os.path.join(staging, "MANIFEST.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(staging, path)
    manifest = _verify(path, scale)
    os.utime(path)
    sets = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for old in sets[KEEP_SETS:]:
        shutil.rmtree(old, ignore_errors=True)
    sizes = {name: os.path.getsize(os.path.join(path, f"{name}.parquet")) for name in TABLES}
    return InputSet(path, seed, scale, manifest["rows"], sizes)
