"""The benchmark's workloads: fixed op lists over the package's public API.

An op is one user-visible step.  Each op can run *timed* (build the plan and
materialize it: the noop sink for queries, the parquet sink for writes) or
*checked* (build it and compare its output with the DuckDB oracle).  A pass
runs every op once; ops within a stage are permuted per pass by the seed,
stages run in order (the refresh pipeline must ingest before it fuses).
"""

from __future__ import annotations

import glob
import os
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from etl_for_ecol_fusion_database_spark import catalog, registry
from etl_for_ecol_fusion_database_spark.plans import fusion_etl
from etl_for_ecol_fusion_database_spark.sources.writers import ParquetSink

from . import oracle as _oracle

#: the paper's lineage literal for rows ingested from the Oracle system
SOURCE_VALUE = fusion_etl.SOURCE_ORACLE
FUSION_QUERY = "fusion_etl_collisions"
FUSION_TABLE = "fusion_collisions"


@dataclass
class Context:
    """What ops need at run time."""

    spark: object
    input_dir: str
    out_dir: str
    oracle: _oracle.Oracle
    tracer: object = None  # trace.Tracer while a traced pass runs

    @property
    def ingest_dir(self) -> str:
        return os.path.join(self.out_dir, "ingest")

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass(frozen=True)
class QueryOp:
    """A registered query: ``registry.QUERIES[name](spark, input_dir)``."""

    name: str
    family: str
    tables: tuple[str, ...]

    def build(self, ctx: Context, group: str):
        ctx.spark.sparkContext.setJobGroup(f"{group}/build", self.name)
        with ctx.span("registry.build"):
            return registry.QUERIES[self.name](ctx.spark, ctx.input_dir)

    def run(self, ctx: Context, group: str) -> None:
        df = self.build(ctx, group)
        ctx.spark.sparkContext.setJobGroup(f"{group}/run", self.name)
        with ctx.span("engine.run"):
            _noop(df)

    def check(self, ctx: Context, group: str) -> tuple[bool, dict]:
        df = self.build(ctx, group)
        ctx.spark.sparkContext.setJobGroup(f"{group}/run", self.name)
        got = _oracle.spark_digest(df)
        want = ctx.oracle.digest(self.name, registry.ORACLES[self.name])
        return got == want, {"got": got, "want": want}


@dataclass(frozen=True)
class IngestOp:
    """Copy one source table through ``ParquetSink.overwrite`` with the
    ``SOURCE`` lineage column (the paper's ingest step)."""

    table: str
    family: str = "sources"

    @property
    def name(self) -> str:
        return f"ingest_{self.table}"

    @property
    def tables(self) -> tuple[str, ...]:
        return (self.table,)

    def run(self, ctx: Context, group: str) -> None:
        ctx.spark.sparkContext.setJobGroup(f"{group}/run", self.name)
        df = catalog.load_table(ctx.spark, ctx.input_dir, self.table)
        df = df.withColumn("SOURCE", F.lit(SOURCE_VALUE))
        ParquetSink(ctx.ingest_dir).overwrite(df, f"{self.table}.parquet")

    def check(self, ctx: Context, group: str) -> tuple[bool, dict]:
        self.run(ctx, group)
        written = os.path.join(ctx.ingest_dir, f"{self.table}.parquet", "*.parquet")
        # load_table truncates nanosecond columns to microseconds; DuckDB's
        # cast does the same
        nanos = catalog.NANOS_TIMESTAMP_COLS.get(self.table, ())
        replace = (f" REPLACE ({', '.join(f'CAST({c} AS TIMESTAMP) AS {c}' for c in nanos)})"
                   if nanos else "")
        expected = f"SELECT *{replace}, '{SOURCE_VALUE}' AS SOURCE FROM {self.table}"
        actual = f"SELECT * FROM read_parquet('{written}')"
        diff = ctx.oracle.scalar(
            f"SELECT (SELECT count(*) FROM ({actual} EXCEPT ALL {expected})) + "
            f"(SELECT count(*) FROM ({expected} EXCEPT ALL {actual}))"
        )
        rows = ctx.oracle.scalar(f"SELECT count(*) FROM read_parquet('{written}')")
        return diff == 0, {"rows": rows, "rows_differing": diff}


@dataclass(frozen=True)
class FusionOp:
    """The fusion transform over the ingested copy, written with
    ``fusion_etl.write_fusion_table``."""

    name: str = "fusion_write"
    family: str = "plans"
    tables: tuple[str, ...] = ("orders", "events")

    def path(self, ctx: Context) -> str:
        return os.path.join(ctx.out_dir, f"{FUSION_TABLE}.parquet")

    def run(self, ctx: Context, group: str) -> None:
        ctx.spark.sparkContext.setJobGroup(f"{group}/build", self.name)
        with ctx.span("registry.build"):
            df = registry.QUERIES[FUSION_QUERY](ctx.spark, ctx.ingest_dir)
        ctx.spark.sparkContext.setJobGroup(f"{group}/run", self.name)
        fusion_etl.write_fusion_table(df, self.path(ctx))

    def check(self, ctx: Context, group: str) -> tuple[bool, dict]:
        self.run(ctx, group)
        got = ctx.oracle.scalar(
            f"SELECT count(*) FROM read_parquet('{self.path(ctx)}/*.parquet')"
        )
        want = ctx.oracle.digest(FUSION_QUERY, registry.ORACLES[FUSION_QUERY])["rows"]
        return got == want, {"rows": got, "want_rows": want}


@dataclass(frozen=True)
class ReadbackOp:
    """Read the fusion table back through ``catalog.load_table``."""

    name: str = "fusion_readback"
    family: str = "catalog"
    tables: tuple[str, ...] = ()

    def _df(self, ctx: Context):
        return catalog.load_table(ctx.spark, ctx.out_dir, FUSION_TABLE)

    def run(self, ctx: Context, group: str) -> None:
        ctx.spark.sparkContext.setJobGroup(f"{group}/run", self.name)
        df = self._df(ctx)
        with ctx.span("engine.run"):
            _noop(df)

    def check(self, ctx: Context, group: str) -> tuple[bool, dict]:
        ctx.spark.sparkContext.setJobGroup(f"{group}/run", self.name)
        got = _oracle.spark_digest(self._df(ctx))
        want = ctx.oracle.digest(FUSION_QUERY, registry.ORACLES[FUSION_QUERY])
        return got == want, {"got": got, "want": want}


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float
    stages: tuple[tuple[object, ...], ...]
    why: str
    #: the ops that ingest their source tables, whose rows per second of
    #: op wall make ingest_rows_per_s (0 on a workload without any)
    ingest_ops: tuple[str, ...] = field(default=())

    @property
    def ops(self) -> list:
        return [op for stage in self.stages for op in stage]

    @property
    def tables(self) -> list[str]:
        return sorted({t for op in self.ops for t in op.tables})

    def output_files(self, ctx: Context) -> int:
        return len(glob.glob(os.path.join(ctx.ingest_dir, "*.parquet", "part-*")))


_EO = ("events", "orders")

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="refresh_sf005",
            scale=0.05,
            stages=(
                tuple(IngestOp(t) for t in ("orders", "events", "lineitem", "customer")),
                (FusionOp(),),
                (ReadbackOp(),),
            ),
            why="the paper's pipeline: ingest 432k rows with SOURCE through ParquetSink, "
                "fuse with the 7-CTE view, write and read back; the only writing workload",
            ingest_ops=("ingest_orders", "ingest_events", "ingest_lineitem", "ingest_customer"),
        ),
        Workload(
            name="cohort_sf01",
            scale=0.1,
            stages=((
                QueryOp("flagship_valid_cohort", "plans", _EO),
                QueryOp("flagship_valid_flag_cohort", "plans", _EO),
                QueryOp("fusion_etl_collisions", "plans", _EO),
                QueryOp("j2_w1_status_rank", "olap", ("events",)),
                QueryOp("a4_argmax_latest_event", "olap", ("events",)),
                QueryOp("q1_pricing_summary", "tpch", ("lineitem",)),
                QueryOp("q3_shipping_priority", "tpch", ("customer", "lineitem", "orders")),
                QueryOp("q5_star_join_revenue", "tpch",
                        ("customer", "lineitem", "nation", "orders", "region")),
                QueryOp("q18_large_orders", "tpch", ("customer", "lineitem", "orders")),
            ),),
            why="read-only analyst queries to the noop sink; overhead-bound, so planning, "
                "scheduling and registry changes show here and kernel or sink changes cannot",
        ),
        Workload(
            name="curation_sf002",
            scale=0.02,
            stages=((
                QueryOp("x1_cdc_chunks", "dedup", ("documents",)),
                QueryOp("x2_cosine_topk", "similarity", ("embeddings",)),
                QueryOp("x3_ngram_lm_score", "text", ("documents",)),
                QueryOp("x5_stream_curation_replay", "streaming", ("documents",)),
            ),),
            why="LLM-curation operators: fold and Arrow kernels in Python workers, shuffle "
                "and a streaming replay; plans and sources stay idle",
            # every op takes in its source table: the rate is the workload's
            # throughput (one op alone moves too much from run to run)
            ingest_ops=("x1_cdc_chunks", "x2_cosine_topk", "x3_ngram_lm_score",
                        "x5_stream_curation_replay"),
        ),
    )
}
