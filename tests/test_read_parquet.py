"""``catalog.read_parquet``: the schema Spark would infer, read from a
parquet footer on the driver, so loading a table runs no Spark job."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from etl_for_ecol_fusion_database_spark import catalog, registry
from etl_for_ecol_fusion_database_spark.plans import fusion_etl
from etl_for_ecol_fusion_database_spark.sources import writers

from .conftest import SF_CORRECT, SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _same_schema_as_inference(spark, path: str) -> None:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert catalog.read_parquet(spark, path).schema == spark.read.parquet(path).schema


@pytest.mark.parametrize("sf", [SF_SMOKE, SF_CORRECT])
@pytest.mark.parametrize("table", catalog.FIXTURE_TABLES)
def test_fixture_schema_matches_inference(spark, sf, table):
    _same_schema_as_inference(spark, catalog.table_path(sf, table))


def test_pyarrow_nanosecond_timestamps_read_as_long(spark, tmp_path):
    path = str(tmp_path / "ns.parquet")
    ts = pa.array([1_000, 2_000_000_001], type=pa.timestamp("ns"))
    tz = pa.array([1, 2], type=pa.timestamp("us", tz="UTC"))
    pq.write_table(pa.table({"ts": ts, "tz": tz}), path)
    _same_schema_as_inference(spark, path)
    assert catalog.read_parquet(spark, path).schema["ts"].dataType.typeName() == "long"


def test_spark_written_outputs_match_inference(spark, sf_dir, tmp_path):
    """Files Spark wrote: ingest copies with the SOURCE lineage column
    (embeddings among them), the fusion table over those copies, and a
    partitioned table, whose partition column comes from the directory
    names."""
    sink = writers.ParquetSink(str(tmp_path))
    for name in catalog.FIXTURE_TABLES:
        staged = catalog.load_table(spark, sf_dir, name).withColumn(
            "SOURCE", F.lit(fusion_etl.SOURCE_ORACLE)
        )
        sink.overwrite(staged, f"{name}.parquet")
        _same_schema_as_inference(spark, sink.path(f"{name}.parquet"))
    fusion = registry.QUERIES["fusion_etl_collisions"](spark, str(tmp_path))
    fusion_etl.write_fusion_table(fusion, sink.path("fusion"))
    _same_schema_as_inference(spark, sink.path("fusion"))
    events = catalog.load_table(spark, sf_dir, "events")
    sink.overwrite(events.withColumn("day", F.to_date("ts")), "by_day", partition_by=["day"])
    _same_schema_as_inference(spark, sink.path("by_day"))
    back = catalog.read_parquet(spark, sink.path("by_day"))
    assert back.columns[-1] == "day"
    assert back.count() == events.count()


def test_missing_path_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        catalog.read_parquet(spark, str(tmp_path / "absent"))


def test_directory_without_data_file_raises(spark, tmp_path):
    (tmp_path / "_temporary").mkdir()
    with pytest.raises(AnalysisException):
        catalog.read_parquet(spark, str(tmp_path))


def test_unmapped_type_raises_naming_path_column_and_type(spark, tmp_path):
    path = str(tmp_path / "d.parquet")
    table = pa.table({"k": pa.array([1], pa.int64()), "d": pa.array([0], pa.date32())})
    pq.write_table(table, path)
    with pytest.raises(ValueError) as ei:
        catalog.read_parquet(spark, path)
    msg = str(ei.value)
    assert path in msg and "'d'" in msg and "date32" in msg


def test_remote_path_raises(spark):
    with pytest.raises(ValueError, match="not a local path"):
        catalog.read_parquet(spark, "s3a://bucket/t.parquet")


def test_create_if_not_exists_absent_only_on_missing_path(spark, sf_dir, tmp_path):
    """A missing target is created; a target holding only ``_temporary``
    (an interrupted write) raises instead of counting as absent."""
    sink = writers.ParquetSink(str(tmp_path))
    df = catalog.load_table(spark, sf_dir, "region")
    assert sink.create_if_not_exists(spark, df, "region") is True
    assert sink.create_if_not_exists(spark, df, "region") is False
    (tmp_path / "half" / "_temporary").mkdir(parents=True)
    with pytest.raises(AnalysisException) as ei:
        sink.create_if_not_exists(spark, df, "half")
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_load_table_runs_no_spark_job(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("load_table_jobs", "load_table runs no job")
    try:
        for name in catalog.FIXTURE_TABLES:
            catalog.load_table(spark, SF_CORRECT, name)
        assert list(tracker.getJobIdsForGroup("load_table_jobs")) == []
        # the probe sees jobs: a bare read infers its schema in one
        spark.read.parquet(catalog.table_path(SF_CORRECT, "nation"))
        assert list(tracker.getJobIdsForGroup("load_table_jobs"))
    finally:
        sc._jsc.clearJobGroup()


_LEAK_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from etl_for_ecol_fusion_database_spark import registry
from etl_for_ecol_fusion_database_spark.session import get_spark
spark = get_spark("tmpdir_leak", shuffle_partitions=2)
for _ in range(2):
    for name in ("x5_stream_curation_replay", "s18_jsonl_roundtrip"):
        registry.QUERIES[name](spark, {sf!r}).collect()
spark.stop()
"""


def test_replayed_queries_leave_no_temp_dirs_after_exit(tmp_path):
    """The queries that write and read back their own files remove their
    last call's temp dirs when the process exits."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    subprocess.run(
        [sys.executable, "-c", _LEAK_SCRIPT.format(repo=REPO, sf=SF_SMOKE)],
        env=env, check=True, capture_output=True, timeout=300,
    )
    left = [
        d for d in os.listdir(tmp_path)
        if d.startswith(("stream_replay_", "jsonl_roundtrip_"))
    ]
    assert left == []
