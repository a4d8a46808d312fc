"""Round-14 optimization pins.

This round's changes are the scan-rebalance loader for map-heavy
queries on one-row-group fixture layouts (guide §2.5 input skew) and
the ADVICE-r13 hardening (its kernel-dispatch pins now live in
tests/test_kernel_parity.py).  Pins:

- ``load_table_rebalanced`` must be value-identical to ``load_table``
  (it only moves rows between partitions), must be a NO-OP when the file
  layout already feeds ``defaultParallelism`` scan tasks, and must refuse
  a table without a registered primary key;
- ``effective_scan_parallelism`` reads row groups from footers (the
  quantity that bounds emitting scan tasks), with the early-exit cap;
- ``connected_components`` collapses duplicate ``nodes`` rows (the r13
  groupBy dedup, now a documented contract).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_for_ecol_fusion_database_spark.catalog import (
    effective_scan_parallelism,
    load_table,
    load_table_rebalanced,
)
from etl_for_ecol_fusion_database_spark.operators import graph

SF_SMOKE = "/root/testdata/sf0.001"


def test_effective_scan_parallelism_counts_row_groups():
    # every fixture table is written as a single file with one row group
    assert effective_scan_parallelism(SF_SMOKE, "documents") == 1
    # the cap is an early-exit bound, never an inflation
    assert effective_scan_parallelism(SF_SMOKE, "documents", cap=1) == 1


def test_rebalanced_load_value_identical(spark):
    plain = load_table(spark, SF_SMOKE, "documents")
    reb = load_table_rebalanced(spark, SF_SMOKE, "documents")
    assert reb.schema == plain.schema
    assert reb.exceptAll(plain).count() == 0
    assert plain.exceptAll(reb).count() == 0


def test_rebalanced_load_widens_to_default_parallelism(spark):
    target = spark.sparkContext.defaultParallelism
    if target <= 1:
        pytest.skip("single-core session cannot show a rebalance")
    reb = load_table_rebalanced(spark, SF_SMOKE, "documents")
    assert reb.rdd.getNumPartitions() == target
    # deterministic PK-hash placement: a second load lands rows identically
    a = load_table_rebalanced(spark, SF_SMOKE, "documents").withColumn(
        "p", F.spark_partition_id()
    )
    b = load_table_rebalanced(spark, SF_SMOKE, "documents").withColumn(
        "p", F.spark_partition_id()
    )
    assert a.exceptAll(b).count() == 0


def test_rebalance_without_primary_key_raises(spark):
    """A table with no registered PK has no deterministic key to hash on:
    the loader must name the table and refuse, not fall back to a silent
    round-robin repartition, whatever the file layout."""
    with pytest.raises(ValueError, match="no_pk_table"):
        load_table_rebalanced(spark, SF_SMOKE, "no_pk_table")


def test_connected_components_dedups_duplicate_nodes(spark):
    """Duplicate rows in ``nodes`` collapse to one output row per id —
    the r13 groupBy behavior, now a pinned contract (ADVICE r13)."""
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(1,), (2,), (2,), (3,), (3,)], ["id"])
    out = graph.connected_components(pairs, nodes).collect()
    labels = {r.node: r.cluster_id for r in out}
    assert len(out) == 3
    assert labels == {1: 1, 2: 1, 3: 3}
