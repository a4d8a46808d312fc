"""Sinks (S10-S16): table writers with the reference's routing/idempotency
semantics, Spark-shaped.

Reference behaviors reproduced:

- dev/prod table routing via suffix/prefix — ``_dev`` +
  ``oracle_``/``analytics_``/``fusion_`` (S15;
  ingest_ecollision_oracle_data.py:19,83, ingest_ecollision_analytics_data.py:18-19,84-85,
  etl_ecollision_fusion_table_collisions.py:101)
- drop-and-recreate vs idempotent create (S9/S10;
  ingest_ecollision_oracle_data.py:86-93 vs the DO $$ guard at
  ingest_ecollision_analytics_data.py:33-40)
- truncate-then-load (S11; DELETE FROM at
  etl_ecollision_fusion_table_collisions.py:124-131)
- batched inserts (S13; execute_batch at helper_db_operation.py:142-155)
  -> the JDBC ``batchsize`` option
- transactional writes (S16; commit/rollback at helper_db_operation.py:
  123-155) -> Spark's atomic commit protocol (staged files + rename)
- the intended-but-undefined ``bulk_insert_dataframe`` (S14) -> ``df.write``

Row-at-a-time inserts (S12, ingest_ecollision_oracle_data.py:98-104) have NO
Spark equivalent on purpose: that pattern is the reference's 2.46-hour
bottleneck (BASELINE.md) and is replaced by distributed writes everywhere.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..catalog import read_parquet
from .readers import JdbcSource

PREFIXES = ("oracle_", "analytics_", "fusion_")


def route_table_name(base: str, *, system: str = "fusion", dev_mode: bool = False) -> str:
    """S15 dev/prod routing: ``fusion_collisions_dev`` when dev_mode
    (etl_ecollision_fusion_table_collisions.py:101)."""
    prefix = f"{system}_" if not base.startswith(PREFIXES) else ""
    return f"{prefix}{base}{'_dev' if dev_mode else ''}"


@dataclass
class ParquetSink:
    """Fixture-scale sink: parquet directory per table (atomic via staged
    file commit — the S16 transactionality analogue)."""

    base_dir: str

    def path(self, table: str) -> str:
        return f"{self.base_dir.rstrip('/')}/{table}"

    def overwrite(self, df: DataFrame, table: str, *, partition_by: list[str] | None = None) -> None:
        """S10+S11: drop-and-reload semantics."""
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def append(self, df: DataFrame, table: str) -> None:
        """S13/S14 semantics: bulk append."""
        df.write.mode("append").parquet(self.path(table))

    def create_if_not_exists(self, spark: SparkSession, df: DataFrame, table: str) -> bool:
        """S9 idempotent create (the reference's DO $$ IF NOT EXISTS guard):
        write only when the target does not already exist; returns whether a
        write happened.

        Only the path-not-found probe failure means "does not exist" — a
        corrupt or half-written target (interrupted write leaving only
        _temporary, unreadable footer) must surface its real error, not be
        masked by a misleading errorifexists 'path already exists'."""
        from pyspark.errors import AnalysisException

        try:
            read_parquet(spark, self.path(table))
            return False
        except AnalysisException as e:
            msg = str(e)
            if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
                raise
        df.write.mode("errorifexists").parquet(self.path(table))
        return True


def overwrite_partitions(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str],
) -> None:
    """[ext] Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving every other partition untouched — the idempotent
    incremental-reload pattern at 100 TB (re-running a day's load rewrites
    that day, not the table).  Spark's static mode would truncate the whole
    table; the dynamic conf scopes the overwrite to touched partitions and
    the commit stays atomic per partition via the staged-file protocol."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: str,
    n_buckets: int = 32,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows hash-partitioned into ``n_buckets``
    files by ``bucket_by`` at WRITE time.  Joins/aggregations between tables
    bucketed on the same key with the same bucket count need NO shuffle at
    read time — the pre-partitioning the reference could never express, and
    the cheapest big-big join strategy at 100 TB (pay the shuffle once,
    reuse it every query).  Shuffle elimination is asserted in
    tests/test_scale_ops.py."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_by)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)


def write_jsonl(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "gzip",
) -> None:
    """[ext] JSONL corpus sink (one JSON doc per line, compressed) — the
    export format downstream tokenizer/training jobs consume.  Partitioning
    by a coarse key (e.g. language, date) keeps per-file sizes bounded and
    lets consumers prune."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zlib",
) -> None:
    """[ext] ORC sink (native columnar, footer-embedded schema, stripe-level
    statistics for downstream predicate pushdown)."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_jdbc(
    df: DataFrame,
    sink: JdbcSource,
    table: str,
    *,
    mode: str = "append",
    batchsize: int = 10_000,
) -> None:
    """S13 batched JDBC sink.  ``batchsize`` is the reference's tuned
    batch_size knob (best observed 10,000 — supplementary/doc.xlsx,
    BASELINE.md); executors write partitions concurrently, so throughput is
    partitions x batch pipeline instead of one psycopg2 cursor."""
    (
        df.write.format("jdbc")
        .option("url", sink.url)
        .option("dbtable", table)
        .option("user", sink.user)
        .option("password", sink.password)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", "READ_COMMITTED")
        .mode(mode)
        .save()
    )


def truncate_and_load_jdbc(df: DataFrame, sink: JdbcSource, table: str) -> None:
    """S11: the DELETE-then-insert pattern as Spark's truncate-overwrite
    (keeps the target's DDL, unlike a drop)."""
    (
        df.write.format("jdbc")
        .option("url", sink.url)
        .option("dbtable", table)
        .option("user", sink.user)
        .option("password", sink.password)
        .option("truncate", "true")
        .mode("overwrite")
        .save()
    )
