"""Table-maintenance operators: small-file compaction, Z-order clustering,
and storage introspection.

The lakehouse jobs that keep a 100 TB parquet estate healthy:

* **Compaction** — streaming/incremental ingest leaves thousands of small
  files; scans then pay per-file open cost and lose vectorized-read
  efficiency.  ``compact_parquet`` rewrites a directory into
  size-targeted files.
* **Z-ordering** — multi-dimensional clustering so parquet row-group
  min/max statistics prune on EVERY clustered column, not just a sort
  prefix.  ``zorder_by`` sorts by interleaved bits of the rank of each
  key (the classic Morton curve on rank space, which is distribution-
  robust — raw-value interleaving degenerates under skew).
* **Storage info** — the Spark-side analogue of the reference's catalog
  introspection queries (``on_demand_db_query.sql``: ``pg_indexes`` /
  ``information_schema`` listings — reference file:4-18): parquet has no
  index catalog, so the useful equivalent is per-table file/size/row
  statistics.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet


def _dir_bytes_and_files(path: str) -> tuple[int, int]:
    total, n = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n += 1
    return total, n


def compact_parquet(
    spark: SparkSession,
    path: str,
    dest: str,
    *,
    target_file_mb: int = 128,
) -> int:
    """Rewrite a parquet directory into ~``target_file_mb``-sized files.

    File count is derived from the CURRENT on-disk size (compression
    survives a rewrite, so bytes-in ≈ bytes-out).  Uses ``coalesce`` —
    a narrow, shuffle-free repartitioning that only ever merges — so
    compaction reads each input split once and never redistributes rows.
    Returns the number of output files requested.

    At scale this runs per partition-directory (compact yesterday's
    partition while today's keeps streaming), composing with
    ``overwrite_partitions`` for an idempotent swap.
    """
    bytes_now, _ = _dir_bytes_and_files(path)
    n_files = max(1, round(bytes_now / (target_file_mb * 1024 * 1024)))
    df = read_parquet(spark, path)
    df.coalesce(n_files).write.mode("overwrite").parquet(dest)
    return n_files


def _rank_bits(col_rank: F.Column, n_bits: int) -> list[F.Column]:
    """Big-endian bits of a rank value clamped to ``n_bits``."""
    return [
        (F.shiftright(col_rank, n_bits - 1 - i).bitwiseAND(F.lit(1))).cast("long")
        for i in range(n_bits)
    ]


def zorder_key_expr(rank_cols: list[str], n_bits: int = 16) -> F.Column:
    """Interleave the low ``n_bits`` of each rank column into one Morton
    key (bit i of column j lands at position ``i * n_cols + j``).

    ``n_cols * n_bits`` must stay <= 63: bit 63 is the long's sign bit
    (``shiftleft(1L, 63)`` = Long.MIN_VALUE, so rows with it set would
    sort FIRST instead of last) and Java shifts wrap mod 64
    (``shiftleft(1L, 65)`` = 2, scattering high-order bits into low
    positions) — either silently corrupts the clustering.  zorder_by
    narrows ``n_bits`` automatically; direct callers get a hard error."""
    n = len(rank_cols)
    if n * n_bits > 63:
        raise ValueError(
            f"{n} columns x {n_bits} bits = {n * n_bits} interleaved bits "
            "> 63: the Morton key must fit a non-negative long (bit 63 is "
            "the sign bit and Java shifts wrap mod 64); lower n_bits to "
            f"<= {63 // n}"
        )
    key = F.lit(0).cast("long")
    for j, c in enumerate(rank_cols):
        for i, bit in enumerate(_rank_bits(F.col(c), n_bits)):
            shift = (n_bits - 1 - i) * n + (n - 1 - j)
            key = key + F.shiftleft(bit, shift)
    return key


def zorder_by(
    df: DataFrame,
    cols: list[str],
    *,
    n_bits: int = 16,
    n_partitions: int | None = None,
) -> DataFrame:
    """Return ``df`` ordered along a Z-curve over ``cols``.

    Each column is bucketized to [0, 2^n_bits) with ``width_bucket`` over
    its global [min, max] — two tiny scalar aggregates broadcast back, NOT
    a global-order window (an ``ntile`` rank would need a single-partition
    sort, the exact thing that cannot run at 100 TB).  The one real
    shuffle is the final ``repartitionByRange + sortWithinPartitions`` on
    the Morton key; writers then emit files whose per-column min/max
    ranges are tight on EVERY z-column, which is what makes data skipping
    work for multi-predicate scans.

    Min/max bucketization assumes roughly-spread numeric columns; for
    heavily skewed ones, pre-transform (log, rank-sample) before
    z-ordering — the interleave itself is distribution-agnostic.

    ``n_bits`` is narrowed to ``63 // len(cols)`` when the requested
    width would not fit the interleaved key in a non-negative long (see
    zorder_key_expr) — 16 bits serve up to 3 columns; 4 columns get 15,
    6 get 10, and so on.  Rows whose value is NULL in a z-column (and
    every row of a constant column, where width_bucket's min==max degrees
    to NULL) take rank ``buckets - 1`` via least()'s null-skipping —
    deterministic, key never NULL, and a constant column contributes a
    constant (harmless) bit pattern.
    """
    n_bits = min(n_bits, 63 // max(1, len(cols)))
    buckets = 1 << n_bits
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"_mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_mx_{c}") for c in cols],
    )
    keyed = df.crossJoin(F.broadcast(bounds))
    rank_cols = []
    for c in cols:
        rc = f"_zrank_{c}"
        keyed = keyed.withColumn(
            rc,
            F.least(
                F.width_bucket(
                    F.col(c).cast("double"),
                    F.col(f"_mn_{c}"),
                    F.col(f"_mx_{c}"),
                    F.lit(buckets),
                )
                - 1,
                F.lit(buckets - 1),
            ).cast("long"),
        )
        rank_cols.append(rc)
    keyed = keyed.withColumn("_zkey", zorder_key_expr(rank_cols, n_bits))
    drop = ["_zkey", *rank_cols] + [f"_mn_{c}" for c in cols] + [f"_mx_{c}" for c in cols]
    # explicit partition count pins file granularity (AQE otherwise
    # coalesces small test inputs to one file); default follows the conf
    ranged = (
        keyed.repartitionByRange(n_partitions, F.col("_zkey"))
        if n_partitions
        else keyed.repartitionByRange(F.col("_zkey"))
    )
    return ranged.sortWithinPartitions("_zkey").drop(*drop)


@dataclass
class TableStorageInfo:
    path: str
    n_files: int
    total_bytes: int
    n_rows: int
    columns: list[str]


def table_storage_info(spark: SparkSession, path: str) -> TableStorageInfo:
    """Storage statistics for a parquet table directory — the engine's
    answer to the reference's ``pg_indexes`` / ``information_schema``
    on-demand catalog queries (parquet's "indexes" are its row-group
    min/max stats, whose health is file-size/count hygiene)."""
    total, n_files = _dir_bytes_and_files(path)
    df = read_parquet(spark, path)
    return TableStorageInfo(
        path=path,
        n_files=n_files,
        total_bytes=total,
        n_rows=df.count(),
        columns=df.columns,
    )
