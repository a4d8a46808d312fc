"""The fusion-table ETL transform (the reference's script part of §3.3).

Re-expresses /root/reference/etl_ecollision_fusion_table_collisions.py as a
single lazy DataFrame DAG:

    reference step                              (file:line)        here
    fetch valid IDs from the view               (:47-56)           valid_ids df
    fetch ALL of oracle_collisions then         (:63-81)           left_semi join —
      driver-side ``isin`` filter                                  no driver
                                                                   materialization,
                                                                   filter pushes to scan
    case_year = year(coalesce(occurence,        (:23-30,88)        F5+F6 coalesce +
      reported)) with lenient parse                                lenient year
    rename fatal_comment->fatal_comments        (:90-91)           withColumnRenamed (P3)
    occurence_timestring strftime('%Y-%m-%d')   (:93-94)           date_format (F7)
    source lineage literal                      (:96-97)           F.lit (P4)
    reflect target schema + project to          (:104-121)         schema-intersection
      column intersection                                          select (P2)
    DELETE FROM target (truncate)               (:124-131)         write mode("overwrite") (S11)
    bulk insert (undefined in reference! S14)   (:134-139)         df.write — implemented
                                                                   as intended

The reference pulled ~90k IDs to the driver and used pandas ``isin`` — a
hand-rolled broadcast semi-join.  At 100 TB that is a driver OOM; the
left_semi join below keeps every row executor-side (see
:func:`filter_to_valid` for the join Catalyst picks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import coalesce_timestamps, format_date, lenient_year

#: lineage literal — create_empty_tables_for_ecollision_fusion.py:32 adds the
#: SOURCE column; etl_ecollision_fusion_table_collisions.py:97 fills it.
SOURCE_ORACLE = "eCollision Oracle"
SOURCE_ANALYTICS = "eCollision Analytics"


def filter_to_valid(collisions: DataFrame, valid_ids: DataFrame, id_col: str = "id") -> DataFrame:
    """J4/P5: membership filter as a left-semi join (reference:
    ``df[df['id'].isin(valid_collision_ids)]`` at
    etl_ecollision_fusion_table_collisions.py:78-81).

    Catalyst does not broadcast the id side: its size estimate comes from
    the flagship plan's ``events`` scans, not from the few ids it yields,
    so the fusion plan is a ``SortMergeJoin LeftSemi`` that shuffles all
    of ``collisions`` by id (1.9 MB of ``orders`` against 290 ids at
    sf0.05).  Measured and rejected (sf0.05, 4 vCPUs): a broadcast of the
    id side gave no gain in ``plans.fusion_write_s``."""
    key = valid_ids.columns[0]
    return collisions.join(
        valid_ids.select(F.col(key).cast("bigint").alias(id_col)).distinct(),
        on=id_col,
        how="left_semi",
    )


def extract_case_year(df: DataFrame, occurence: str, reported: str) -> DataFrame:
    """F5+F6: case_year from occurence_timestamp, falling back to
    reported_timestamp, NULL when both unparseable
    (etl_ecollision_fusion_table_collisions.py:23-30)."""
    return df.withColumn(
        "case_year", lenient_year(coalesce_timestamps(occurence, reported))
    )


def project_to_target(df: DataFrame, target_columns: list[str]) -> DataFrame:
    """P2: dynamic schema-intersection projection
    (etl_ecollision_fusion_table_collisions.py:117-121) — keep only columns
    present in both the DataFrame and the target table, in DataFrame order."""
    keep = [c for c in df.columns if c in set(target_columns)]
    return df.select(*keep)


def fusion_collisions_transform(
    collisions: DataFrame,
    valid_ids: DataFrame,
    target_columns: list[str],
    *,
    occurence_col: str = "occurence_timestamp",
    reported_col: str = "reported_timestamp",
    source: str = SOURCE_ORACLE,
) -> DataFrame:
    """Full transform: valid-cohort filter -> derive -> rename -> project.

    Input ``collisions`` must carry an ``id`` PK plus the two timestamp
    columns and a ``fatal_comment`` column (renamed to ``fatal_comments``,
    reference :90-91).
    """
    df = filter_to_valid(collisions, valid_ids)
    df = extract_case_year(df, occurence_col, reported_col)
    if "fatal_comment" in df.columns:
        df = df.withColumnRenamed("fatal_comment", "fatal_comments")
    df = df.withColumn("occurence_timestring", format_date(occurence_col))
    df = df.withColumn("source", F.lit(source))
    return project_to_target(df, target_columns)


def write_fusion_table(df: DataFrame, path_or_table: str, *, drop_existing: bool = True) -> None:
    """S11+S14: truncate-and-load the fusion table.

    The reference DELETEs the target then calls an *undefined*
    ``bulk_insert_dataframe`` (etl_ecollision_fusion_table_collisions.py:
    124-139 — latent AttributeError, SURVEY.md §2.1 S14); the intended
    semantics are implemented here as an atomic overwrite (staged parquet
    commit) / append.
    """
    mode = "overwrite" if drop_existing else "append"
    if "/" in path_or_table:
        df.write.mode(mode).parquet(path_or_table)
    else:
        df.write.mode(mode).saveAsTable(path_or_table)
