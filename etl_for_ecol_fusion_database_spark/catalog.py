"""Table catalog: fixture loading, primary-key registry, schema reflection.

Replaces the reference's runtime catalog layer:

- PK registry dict            -> /root/reference/reference.py:1-12
- list tables                 -> /root/reference/ingest_ecollision_oracle_data.py:72-74 (S6)
- reflect columns/types/nulls -> /root/reference/helper_db_operation.py:32-43,89-98 (S7)
- constraints & owner         -> /root/reference/helper_db_operation.py:45-63,100-109 (S8)

Spark has no FK catalog, so constraint metadata lives in lightweight dicts
(metadata-only, like the reference's registry); column/type/nullability
reflection comes straight off ``DataFrame.schema``.
"""

from __future__ import annotations

import os
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: fixture tables generated by the driver (TESTDATA.md)
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: primary keys of the reference's source tables
#: (/root/reference/reference.py:1-12) plus the fixture stand-ins
#: (FIXTURES.md mapping). Metadata-only — Spark does not enforce PKs.
PRIMARY_KEYS: dict[str, str] = {
    # reference registry, verbatim semantics
    "collisions": "id",
    "cl_objects": "id",
    "clobj_party_info": "id",
    "clobj_property_info": "id",
    "ecr_coll_plotting_info": "plotting_info_id",
    "code_types": "id",
    "code_type_values": "id",
    "cl_status_history": "id",
    # fixture tables
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey,l_linenumber",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

#: foreign-key metadata (reference generates FK DDL from Oracle
#: `user_constraints` type 'R' — ingest_ecollision_oracle_data.py:38-41).
FOREIGN_KEYS: dict[str, list[tuple[str, str, str]]] = {
    "nation": [("n_regionkey", "region", "r_regionkey")],
    "customer": [("c_nationkey", "nation", "n_nationkey")],
    "supplier": [("s_nationkey", "nation", "n_nationkey")],
    "orders": [("o_custkey", "customer", "c_custkey")],
    "lineitem": [
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ],
    "cl_objects": [
        ("collision_id", "collisions", "id"),
        ("party_id", "clobj_party_info", "id"),
        ("property_id", "clobj_property_info", "id"),
    ],
    "cl_status_history": [("collision_id", "collisions", "id")],
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _data_files(path: str):
    """The data files of a parquet table, in sorted order: ``path`` itself
    when it is not a directory, else every ``*.parquet`` file below it.

    Spark's readers skip hidden and staging entries ('.' and '_' prefixes,
    e.g. an aborted write's '.part-….parquet' or '_temporary/'), so the
    walk skips them too: a footer figure must describe what Spark reads."""
    if not os.path.isdir(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                yield os.path.join(root, f)


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTER metadata — a driver-side
    O(footer) read, zero Spark jobs.

    This is how plan-construction-time sizing decisions (e.g. knn_join's
    adaptive signature width) stay side-effect-free: parquet footers carry
    exact row counts per file, so no scan job is needed.  At cluster scale
    the same number comes from catalog statistics (ANALYZE TABLE /
    metastore rowCount) — footer metadata is the file-level equivalent and
    is exactly what Spark's own metadata-only count optimization reads.
    Handles both a single parquet file and a directory of part files.
    """
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(f).num_rows for f in _data_files(table_path(sf_dir, name))
    )


def effective_scan_parallelism(sf_dir: str, name: str, cap: int = 1 << 30) -> int:
    """Max scan tasks that can actually EMIT rows: total parquet row groups
    across the table's files, early-exited at ``cap``.

    Spark splits a parquet file into byte ranges, but a split only reads the
    row groups whose MIDPOINT falls inside it — so a file with one row group
    feeds exactly one task no matter how many splits the planner makes
    (guide §2.5 "input skew: one huge unsplittable file").  Footer metadata
    is a driver-side O(footer) read, zero Spark jobs, same pattern as
    :func:`table_row_count`; the ``cap`` early-exit keeps the listing cost
    bounded on many-file production layouts (where the answer is simply
    ">= target" after a handful of footers).

    The count is only an UPPER bound on the scan tasks that emit rows: the
    planner may pack several row groups into one split, and a row group may
    hold no row that survives pushed filters."""
    import pyarrow.parquet as pq

    total = 0
    for f in _data_files(table_path(sf_dir, name)):
        total += pq.read_metadata(f).num_row_groups
        if total >= cap:
            break
    return total


def load_table_rebalanced(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """``load_table`` plus an explicit hash repartition on the table's
    primary key IFF the file layout cannot feed the session's parallelism
    (guide §2.5: input skew — repartition immediately after the read).

    For the expansion/kernel-heavy operators (shingling, rolling-hash
    kernels, trigram explosion) virtually all per-row work runs MAP-SIDE in
    the scan stage, so a fixture written as one row group serializes the
    whole query on one core regardless of ``local[N]``.  The condition is
    measured from footer metadata, never hard-coded for local mode: a
    production layout with >= parallelism row groups loads exactly as
    ``load_table`` (zero-cost no-op), and the repartition width follows
    ``defaultParallelism`` (so a driver bench at 8 cores rebalances to 8).
    Hash partitioning on the PK is deterministic under task retry (guide
    §2.5's SPARK-38388 note — no round-robin), and filters/pruning push
    through a RepartitionByExpression, so pushed predicates still reach the
    scan.  Use ONLY where map-stage work dominates: a rebalance ahead of a
    broadcast-joined or tiny relation is pure overhead.  A table without a
    registered primary key raises ``ValueError`` whatever its layout: there
    is no deterministic key to hash on, and a round-robin fallback would
    hide that."""
    pk = PRIMARY_KEYS.get(name)
    if not pk:
        raise ValueError(
            f"load_table_rebalanced: table {name!r} has no primary key in "
            "catalog.PRIMARY_KEYS to hash-partition on"
        )
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if target <= 1 or effective_scan_parallelism(sf_dir, name, cap=target) >= target:
        return df
    return df.repartition(target, *[F.col(c.strip()) for c in pk.split(",")])


#: columns stored as parquet TIMESTAMP(NANOS) — Spark's vectorized reader
#: rejects nanosecond precision, so these are read as LONG
#: (spark.sql.legacy.parquet.nanosAsLong) and truncated to microseconds,
#: matching DuckDB's ns->us truncation of the same files.
NANOS_TIMESTAMP_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (S1/S3 analogue: full table scan as a lazy
    parquet source instead of a driver-side ``fetchall`` — the
    reference's helper_db_operation.py:19-26).

    The schema comes from the table's parquet footer on the driver
    (:func:`read_parquet`), as the reference reads column types from
    catalog metadata without scanning data (helper_db_operation.py:32-43):
    loading a table runs no Spark job.  The path must be local."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, table_path(sf_dir, name))
    for col in NANOS_TIMESTAMP_COLS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, T.LongType):
            # integer division — float division loses precision on ns epochs
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


#: footer key under which Spark stores the schema of a file it wrote; its
#: own schema inference reads this key first (ParquetFileFormat)
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema read from a parquet
    footer on the driver, so no Spark job runs to infer it.

    A bare ``spark.read.parquet`` launches a one-task job
    (``mergeSchemasInParallel``) to read one footer.  Here the first data
    file of a sorted walk (skipping '.'/'_' entries, :func:`_data_files`)
    gives the schema, and Spark gets it through ``.schema(...)``:

    - a file Spark wrote carries its Spark schema as JSON under
      :data:`SPARK_ROW_METADATA`, the key Spark's own inference reads, so
      the result is identical;
    - any other file's Arrow schema is mapped for the types the fixtures
      hold (:func:`_spark_type`); any other type raises ``ValueError``.

    Partition columns still come from the directory names: Spark appends
    them to a given data schema.  Only local paths are read (a URI raises
    ``ValueError``); a missing path or one without a data file gets
    Spark's own error.  There is no fallback to inference."""
    if urlsplit(path).scheme:
        raise ValueError(f"read_parquet: {path!r} is not a local path")
    first = next(_data_files(path), None) if os.path.exists(path) else None
    if first is None:
        # no footer to read: Spark raises PATH_NOT_FOUND for a missing
        # path and UNABLE_TO_INFER_SCHEMA for a directory without data
        spark.read.parquet(path)
        raise ValueError(f"read_parquet: no parquet data file under {path!r}")
    return spark.read.schema(_footer_schema(spark, first)).parquet(path)


def _footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The Spark schema of one parquet file, from its footer alone."""
    import json

    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    spark_json = (pf.metadata.metadata or {}).get(SPARK_ROW_METADATA)
    if spark_json is not None:
        return T.StructType.fromJson(json.loads(spark_json))
    nanos_as_long = (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
    )
    return T.StructType(
        [
            T.StructField(f.name, _spark_type(path, f, nanos_as_long), True)
            for f in pf.schema_arrow
        ]
    )


def _spark_type(path: str, field, nanos_as_long: bool) -> T.DataType:
    """The type Spark's parquet reader infers for one Arrow field written
    by a non-Spark writer, for exactly the types the fixtures hold.
    Timestamps: microseconds without a zone read as TIMESTAMP_NTZ, with a
    zone (stored UTC-adjusted) as TIMESTAMP, and nanoseconds as LONG under
    ``spark.sql.legacy.parquet.nanosAsLong``."""
    import pyarrow as pa

    t = field.type
    simple = {
        pa.int32(): T.IntegerType(),
        pa.int64(): T.LongType(),
        pa.float32(): T.FloatType(),
        pa.float64(): T.DoubleType(),
        pa.string(): T.StringType(),
        pa.timestamp("us"): T.TimestampNTZType(),
    }
    if t in simple:
        return simple[t]
    if pa.types.is_timestamp(t) and t.unit == "us" and t.tz is not None:
        return T.TimestampType()
    if pa.types.is_timestamp(t) and t.unit == "ns" and nanos_as_long:
        return T.LongType()
    if pa.types.is_list(t) and t.value_type == pa.float32():
        return T.ArrayType(T.FloatType(), True)
    raise ValueError(
        f"read_parquet: {path}: column {field.name!r} has parquet type {t}, "
        "which has no footer mapping; write the file with Spark or extend "
        "catalog._spark_type"
    )


def load_sampled(spark: SparkSession, sf_dir: str, name: str, n: int) -> DataFrame:
    """Head-sample scan (S2/S4: Oracle ``ROWNUM <= n`` at
    ingest_ecollision_oracle_data.py:96, MSSQL ``SELECT TOP n`` at
    ingest_ecollision_analytics_data.py:106)."""
    return load_table(spark, sf_dir, name).limit(n)


def local_relation(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """A driver-local literal table (``rows`` of tuples, ``schema`` a
    StructType or DDL string) as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` builds a Python RDD
    (``Scan ExistingRDD`` over ``applySchemaToPythonRDD``), so every plan
    that reads it forks Python workers just to ship the literals — and a
    broadcast of it runs a Spark job in them.  An Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalTableScan`` instead: no Python worker, values binary-exact,
    schema and nullability as given.  A NULL in a non-nullable field
    raises, as ``createDataFrame``'s schema verification does."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, field in enumerate(arrow_schema):
        col = pa.array([r[i] for r in rows], type=field.type)
        if col.null_count and not field.nullable:
            raise ValueError(f"local_relation: NULL in non-nullable field {field.name!r}")
        columns.append(col)
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def register_views(spark: SparkSession, sf_dir: str, tables=FIXTURE_TABLES) -> None:
    """Register every fixture table as a temp view so pipelines can run as
    Spark SQL (S17 analogue of CREATE OR REPLACE VIEW)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def list_tables(spark: SparkSession) -> DataFrame:
    """S6: catalog table listing (`all_tables` / information_schema.tables
    round-trips in the reference)."""
    rows = [(t.name, t.tableType, bool(t.isTemporary)) for t in spark.catalog.listTables()]
    schema = T.StructType(
        [
            T.StructField("table_name", T.StringType(), False),
            T.StructField("table_type", T.StringType(), True),
            T.StructField("is_temporary", T.BooleanType(), False),
        ]
    )
    return local_relation(spark, rows, schema)


def reflect_columns(spark: SparkSession, df: DataFrame, table_name: str) -> DataFrame:
    """S7: column/type/nullability reflection as a DataFrame.

    Mirrors the reference's catalog queries (Oracle ``all_tab_columns`` at
    helper_db_operation.py:33-39; MSSQL ``information_schema.columns`` at
    :89-98; PG at etl_ecollision_fusion_table_collisions.py:105-109) but
    reads the schema lazily off the DataFrame instead of a DB round-trip.
    """
    rows = [
        (table_name, f.name, f.dataType.simpleString(), bool(f.nullable), i + 1)
        for i, f in enumerate(df.schema.fields)
    ]
    schema = T.StructType(
        [
            T.StructField("table_name", T.StringType(), False),
            T.StructField("column_name", T.StringType(), False),
            T.StructField("data_type", T.StringType(), False),
            T.StructField("is_nullable", T.BooleanType(), False),
            T.StructField("ordinal_position", T.IntegerType(), False),
        ]
    )
    return local_relation(spark, rows, schema)


def constraints_metadata(table: str) -> dict:
    """S8: constraint reflection — PK/FK metadata dict (Spark enforces
    neither; the reference only used them to emit DDL)."""
    return {
        "table": table,
        "primary_key": PRIMARY_KEYS.get(table),
        "foreign_keys": FOREIGN_KEYS.get(table, []),
    }


def reset_schema(spark: SparkSession, database: str, *, location: str | None = None) -> None:
    """The reference's schema reset (on_demand_db_query.sql:17-18:
    ``DROP SCHEMA public CASCADE; CREATE SCHEMA public``) as the Spark
    catalog equivalent — drops every table/view in the database, then
    recreates it empty.  Destructive by design; callers gate it the same way
    the reference marks the SQL with a deletion warning."""
    spark.sql(f"DROP DATABASE IF EXISTS {database} CASCADE")
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE DATABASE {database}{loc}")


def list_physical_layout(spark: SparkSession, table: str) -> DataFrame:
    """Index-catalog analogue (PG ``pg_indexes``-style listing): Spark has
    no secondary indexes, so the physical access-path metadata that serves
    the same role is partitioning + bucketing (DESCRIBE EXTENDED) plus the
    declared primary key.  One row per layout element:
    (table_name, kind, expression) with kind in
    ('primary_key', 'partition', 'bucket', 'sort_bucket')."""
    rows: list[tuple[str, str, str]] = []
    pk = PRIMARY_KEYS.get(table.split(".")[-1])
    if pk:
        rows.append((table, "primary_key", pk))
    detail = {r.col_name: r.data_type for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()}
    for key, kind in (
        ("Partition Columns", "partition"),
        ("Bucket Columns", "bucket"),
        ("Sort Columns", "sort_bucket"),
    ):
        val = (detail.get(key) or "").strip("[]` ")
        if val:
            rows.append((table, kind, val.replace("`", "")))
    schema = T.StructType(
        [
            T.StructField("table_name", T.StringType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("expression", T.StringType(), False),
        ]
    )
    return local_relation(spark, rows, schema)
