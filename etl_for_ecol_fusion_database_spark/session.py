"""SparkSession factory and parity-critical config pinning.

The reference's timestamp semantics are timezone-naive (PostgreSQL
``timestamp without time zone``; type maps at
/root/reference/helper_db_operation.py:178-181,214-217) and its pandas
datetime parsing is lenient (``errors='coerce'`` at
/root/reference/etl_ecollision_fusion_table_collisions.py:29).  Spark 4
defaults to ANSI mode (raise on bad casts) and session-TZ-relative
timestamps, so both knobs are pinned here — see SURVEY.md §7.3 items 1 & 5.

``pin_parity_conf`` only touches runtime-settable SQLConf entries so it is
safe to call on a session we did not create (the driver owns the session in
``__spark_entry__.queries()`` callables).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: runtime-settable conf required for reference/oracle parity
PARITY_CONF: dict[str, str] = {
    # naive-timestamp parity with the DuckDB oracle and the reference's
    # `timestamp without time zone` columns
    "spark.sql.session.timeZone": "UTC",
    # pandas to_datetime(errors='coerce') parity: NULL on unparseable input
    "spark.sql.ansi.enabled": "false",
    # map Arrow interop for any pandas_udf extension operators
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: session-level conf for scale posture (AQE re-plans shuffles at runtime,
#: coalesces small partitions and splits skewed ones — SURVEY.md §4)
SCALE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # NOTE on the AQE wide-start posture (initialPartitionNum >> conf):
    # round 10 trialled it globally at 2048 to keep the sf100 MinHash
    # SHJ builds bounded, and it worked — but it taxed EVERY small-scale
    # exchange ~0.2-0.5 s (map side writes 2048 buckets; cached plans
    # materialized at full width until canChangeCachedPlanOutputPartitioning
    # was also flipped), a +5% sf0.1 bench headline for a property only
    # the corpus-scaled joins need.  The engine instead pins BOTH sides
    # of those joins to corpus-derived REPARTITION_BY_NUM widths
    # (operators/dedup.minhash_lsh_pairs corpus_count) — user exchanges
    # on both sides co-partition at the user width with no session-wide
    # cost.  On a real cluster, size spark.sql.shuffle.partitions (or
    # re-add initialPartitionNum) for the data; locally the conf default
    # stays CPU-count.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}

#: launch conf for the Python workers (not parity: results do not depend
#: on it).  ``pyspark_ecol_worker`` (beside the package) stops every task
#: from re-parsing ``pyspark.zip``; the name must start with ``pyspark``,
#: or ``pyspark.daemon`` silently falls back to ``pyspark.worker``.
WORKER_CONF: dict[str, str] = {
    "spark.python.worker.module": "pyspark_ecol_worker",
}

#: the directory holding the package and the worker module
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pin_parity_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable parity conf to an existing session."""
    for k, v in PARITY_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-runtime-settable on this build: leave session default
            pass
    return spark


def get_spark(
    app_name: str = "etl-for-ecol-fusion-database-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for local[N] testing.

    On a real cluster the same declarative plans run unchanged; only
    ``master`` / partition counts differ (AQE owns shuffle sizing either
    way).  The Python workers get :data:`PACKAGE_ROOT` on their path
    (ahead of any ``spark.executorEnv.PYTHONPATH`` in ``extra_conf``), so
    they import this package and the worker module from any working
    directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
    )
    for k, v in {**SCALE_CONF, **WORKER_CONF, **PARITY_CONF}.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus))
    )
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.ui.showConsoleProgress", "false")
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return pin_parity_conf(spark)
