"""``catalog.local_relation`` must be a drop-in for
``spark.createDataFrame(rows, schema)``: the same schema (names, types,
nullability) and the same collected values, bit for bit, while the plan
reads a JVM ``LocalTableScan`` instead of a Python RDD."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import types as T

from etl_for_ecol_fusion_database_spark.catalog import local_relation


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_same(spark, rows, schema):
    got = local_relation(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema  # names, types and nullability
    assert got.collect() == want.collect()
    assert "LocalTableScan" in _plan(got)
    return got


def test_scalar_types_match_create_dataframe(spark):
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), False),
            T.StructField("b", T.LongType(), False),
            T.StructField("s", T.StringType(), True),
            T.StructField("d", T.DateType(), True),
        ]
    )
    rows = [
        (1, 2**53 + 1, "ascii", datetime.date(2024, 1, 15)),
        (-(2**31), 2**63 - 1, "unicodé ✓", datetime.date(1970, 1, 1)),
        (2**31 - 1, -(2**63), "", datetime.date(9999, 12, 31)),
    ]
    _assert_same(spark, rows, schema)


def test_doubles_and_arrays_round_trip_exactly(spark):
    schema = T.StructType(
        [
            T.StructField("x", T.DoubleType(), True),
            T.StructField("v", T.ArrayType(T.DoubleType()), True),
        ]
    )
    rows = [(1 / 3, [1 / 3, 2 / 3, 1e-300]), (0.1 + 0.2, [float("inf")]), (-0.0, [])]
    got = _assert_same(spark, rows, schema)
    x, v = got.collect()[0]
    assert x == 1 / 3 and v[0] == 1 / 3


def test_nulls_match_create_dataframe(spark):
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), True),
            T.StructField("s", T.StringType(), True),
            T.StructField("d", T.DateType(), True),
            T.StructField("v", T.ArrayType(T.DoubleType(), True), True),
        ]
    )
    rows = [(None, None, None, None), (7, "x", datetime.date(2020, 2, 29), [None, 1.5])]
    _assert_same(spark, rows, schema)


def test_ddl_schema_matches_create_dataframe(spark):
    rows = [(2024, "2024-01-15"), (2004, "2005-01-02")]
    _assert_same(spark, rows, "created_year INT, cutoff_end_date STRING")


def test_empty_rows_keep_schema(spark):
    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType(), True),
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    got = _assert_same(spark, [], schema)
    assert got.count() == 0


def test_null_in_non_nullable_field_raises(spark):
    schema = T.StructType([T.StructField("i", T.IntegerType(), False)])
    with pytest.raises(ValueError, match="'i'"):
        local_relation(spark, [(1,), (None,)], schema)

