"""Flagship plan: the point-in-time *valid collision* cohort.

Re-expresses the reference's 7-CTE PostgreSQL view
``vw_valid_collision_from_oracle``
(/root/reference/create_view_vw_valid_collision_from_oracle.sql) as ONE lazy
DataFrame DAG.  Stage map (SURVEY.md §3.3):

    cutoff dim (U1/F1, sql:2-26)  -> JVM LocalRelation, broadcast
    earliest date (A1/A2, :27-37) -> groupBy(collision_id).min(created_ts)
    case year (F3, :38-47)        -> year() projection
    with cutoff (J1, :48-58)      -> broadcast inner join on created_year
    status@cutoff (J2/P9/W1,      -> equi+range join to status history +
                   :59-77)           row_number latest-first (DESC, DESC)
    filtered (P9, :78-84)         -> effective_date <= cutoff::timestamp
                                     (NB: timestamp-vs-date comparison — the
                                     cutoff coerces to midnight, excluding
                                     same-day events after 00:00; reproduced
                                     faithfully, see note below)
    re-rank (W2, :85-100)         -> row_number over rn (no-op re-rank kept
                                     for semantic fidelity; same partitioning
                                     -> no extra shuffle)
    latest (P10, :101-107)        -> rn2 = 1
    final (J3/P7/P8/O1, :142-152) -> left join facts, status in valid set,
                                     case_nbr not null, order by case_nbr desc

Semantic subtlety kept on purpose: stage 5's join predicate compares
``effective_date::DATE <= cutoff_end_date`` (date precision, sql:75-76) while
stage 6 re-filters ``effective_date <= cutoff_end_date`` at *timestamp*
precision (sql:83, PG coerces the DATE to midnight).  Events on the cutoff
day after midnight pass stage 5 but fail stage 6 — that is the reference's
declared behavior and the oracle SQL mirrors it.

Scale posture (the committed plan, docs/PLANS.md § flagship_valid_cohort):
the cutoff dim is a ~21-row literal -> explicit ``F.broadcast``.  ``events``
is scanned twice.  The first scan feeds the groupBy(min), whose exchange by
collision_id is the plan's one shuffle of ``events``.  The second scan is
the status history, which sits under ``autoBroadcastJoinThreshold`` at the
fixture scales, so Catalyst broadcasts the whole history and probes it
with a BroadcastHashJoin on collision_id, the range conjunct a post-probe
condition.  Both row_number windows reuse the aggregate's collision_id
partitioning (a broadcast join keeps its stream side's partitioning); the
final sort by case_nbr adds a range exchange.  A history above the
threshold is shuffled on collision_id instead.

Measured and rejected (sf0.05, 4 vCPUs): a window-``MIN`` rewrite of CTEs
1-5 (one ``events`` scan) gave identical rows (290; ``exceptAll`` empty
both ways) and 6 -> 5 jobs, but ``plans.fusion_write_s`` did not move
(min 664 vs 666 ms over 11 runs each).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import local_relation

#: the (created_year -> cutoff_end_date) literal dimension.  The reference
#: hard-codes 21 rows for 2004-2024 (sql:2-26); the fixture flavor spans the
#: events fixture's year range with one mid-stream cutoff (2024-01-15) so the
#: point-in-time predicate actually bites at every scale factor.
CUTOFF_ROWS: list[tuple[int, str]] = [
    (2026, "2027-06-30"),
    (2025, "2026-06-30"),
    (2024, "2024-01-15"),
    (2023, "2025-06-30"),
    (2022, "2024-06-30"),
    (2021, "2023-02-06"),
    (2020, "2022-06-15"),
    (2019, "2021-10-23"),
    (2018, "2020-01-23"),
    (2017, "2019-02-11"),
    (2016, "2018-01-26"),
] + [(y, f"{y + 1}-01-02") for y in range(2004, 2016)]

#: status codes considered valid at cutoff.  Reference: 220 "upload
#: pending" / 221 "uploaded" (sql:124-126,149).  Fixture stand-ins on
#: events.event_type (FIXTURES.md item 1).
VALID_STATUSES: tuple[str, str] = ("purchase", "signup")


def cutoff_dates_df(spark: SparkSession) -> DataFrame:
    """U1: the literal-table UNION ALL constructor (sql:2-26) as a JVM
    ``LocalRelation`` (``catalog.local_relation`` — a ``LocalTableScan``,
    so the plans that broadcast it never start a Python worker); F1
    TO_DATE applied to each row."""
    df = local_relation(spark, CUTOFF_ROWS, "created_year INT, cutoff_end_date STRING")
    return df.select(
        F.col("created_year"),
        F.to_date("cutoff_end_date", "yyyy-MM-dd").alias("cutoff_end_date"),
    )


def earliest_created(status_history: DataFrame) -> DataFrame:
    """A1+A2 (sql:27-37): earliest created_timestamp per collision,
    formatted 'yyyy-MM-dd' exactly like TO_CHAR(MIN(...),'YYYY-MM-DD')."""
    return status_history.groupBy("collision_id").agg(
        F.date_format(F.min("created_timestamp"), "yyyy-MM-dd").alias(
            "earliest_created_date"
        )
    )


def with_case_year(earliest: DataFrame) -> DataFrame:
    """F3 (sql:38-47): EXTRACT(YEAR FROM TO_DATE(earliest_created_date))."""
    return earliest.select(
        "collision_id",
        F.year(F.to_date("earliest_created_date", "yyyy-MM-dd"))
        .cast("int")
        .alias("created_year"),
        "earliest_created_date",
    )


def with_cutoff(case_year: DataFrame, cutoffs: DataFrame) -> DataFrame:
    """J1 (sql:48-58): inner join to the cutoff dim — explicit broadcast of
    the ~21-row build side (Catalyst would pick it anyway; pinning keeps the
    plan stable at any scale)."""
    return case_year.join(F.broadcast(cutoffs), "created_year", "inner").select(
        "collision_id", "created_year", "cutoff_end_date"
    )


def status_on_cutoff(cutoff_assigned: DataFrame, status_history: DataFrame) -> DataFrame:
    """J2+P9+W1 (sql:59-77): join status history rows at-or-before the
    cutoff (date precision) and rank latest-first.

    The equi key (collision_id) drives a hash join: at the fixture scales
    the history is broadcast whole (a sort-merge join on collision_id
    above ``autoBroadcastJoinThreshold``).  The range conjunct
    ``effective_date::DATE <= cutoff_end_date`` is a post-probe condition,
    and the window reuses the cohort side's collision_id partitioning.
    """
    cwc = cutoff_assigned.alias("cwc")
    csh = status_history.alias("csh")
    joined = cwc.join(
        csh,
        (F.col("cwc.collision_id") == F.col("csh.collision_id"))
        & (F.col("csh.effective_date").cast("date") <= F.col("cwc.cutoff_end_date")),
        "inner",
    ).select(
        F.col("cwc.collision_id"),
        F.col("cwc.created_year"),
        F.col("cwc.cutoff_end_date"),
        F.col("csh.coll_status_type_id"),
        F.col("csh.effective_date"),
    )
    w = Window.partitionBy("collision_id").orderBy(
        F.desc("effective_date"), F.desc("coll_status_type_id")
    )
    return joined.withColumn("rn", F.row_number().over(w))


def latest_status(ranked: DataFrame) -> DataFrame:
    """P9 re-filter + W2 re-rank + P10 (sql:78-107).

    The duplicate filter compares at TIMESTAMP precision (cutoff coerced to
    midnight — see module docstring); the W2 re-rank is a semantic no-op the
    reference declares, kept for parity (same window partitioning — no
    additional shuffle, one extra sort pass).
    """
    filtered = ranked.filter(
        F.col("effective_date") <= F.col("cutoff_end_date").cast("timestamp")
    )
    w2 = Window.partitionBy("collision_id").orderBy(F.asc("rn"))
    return filtered.withColumn("rn2", F.row_number().over(w2)).filter(F.col("rn2") == 1)


def valid_collision_view(
    status_history: DataFrame,
    collisions: DataFrame,
    cutoffs: DataFrame,
    valid_statuses=VALID_STATUSES,
) -> DataFrame:
    """The full Option-2 view (sql:142-152): latest-status cohort LEFT JOINed
    to the collisions fact, filtered to valid statuses with a non-null
    case_nbr, ordered by case_nbr DESC.

    ``collisions`` must expose columns ``id`` and ``case_nbr``;
    ``status_history`` must expose ``collision_id, coll_status_type_id,
    effective_date, created_timestamp``.
    """
    csoc = latest_status(
        status_on_cutoff(
            with_cutoff(with_case_year(earliest_created(status_history)), cutoffs),
            status_history,
        )
    )
    out = (
        csoc.join(collisions, csoc.collision_id == collisions.id, "left")
        .filter(
            F.col("coll_status_type_id").isin(*valid_statuses)
            & F.col("case_nbr").isNotNull()
        )
        .select(csoc.collision_id, collisions.case_nbr)
        .orderBy(F.desc("case_nbr"))
    )
    return out


def valid_flag_view(
    status_history: DataFrame,
    collisions: DataFrame,
    cutoffs: DataFrame,
    valid_statuses=VALID_STATUSES,
    max_case_year: int = 1998,
) -> DataFrame:
    """The Option-1 final SELECT (sql:109-141, the commented variant the
    reference keeps beside Option 2): instead of filtering to the valid
    cohort, derive ``valid_at_cutoff_flag`` (CASE WHEN status in the valid
    set THEN 1 ELSE 0), LEFT JOIN the full collisions fact, filter by the
    fact's case year (EXTRACT(YEAR FROM occurence_timestamp) <= Y, sql:132),
    and order by collision_id (sql:134).

    ``collisions`` must expose id, case_nbr, pfn_file_nbr,
    occurence_timestamp, reported_timestamp (see
    ``fixture_collisions_full``).  Timestamps are emitted as formatted
    strings per the registry's cross-engine canon convention.
    """
    csoc = latest_status(
        status_on_cutoff(
            with_cutoff(with_case_year(earliest_created(status_history)), cutoffs),
            status_history,
        )
    )
    flag = (
        F.when(F.col("coll_status_type_id").isin(*valid_statuses), 1)
        .otherwise(0)
        .cast("int")
    )
    return (
        csoc.join(collisions, csoc.collision_id == collisions.id, "left")
        .filter(F.year("occurence_timestamp") <= max_case_year)
        .select(
            csoc.collision_id,
            csoc.created_year,
            F.year("occurence_timestamp").cast("int").alias("case_year"),
            csoc.cutoff_end_date,
            csoc.coll_status_type_id,
            F.date_format("effective_date", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "effective_date"
            ),
            collisions.case_nbr,
            collisions.pfn_file_nbr,
            F.date_format("occurence_timestamp", "yyyy-MM-dd HH:mm:ss").alias(
                "occurence_timestamp"
            ),
            F.date_format("reported_timestamp", "yyyy-MM-dd HH:mm:ss").alias(
                "reported_timestamp"
            ),
            flag.alias("valid_at_cutoff_flag"),
        )
        .orderBy("collision_id")
    )


def fixture_status_history(events: DataFrame) -> DataFrame:
    """Adapt the events fixture to the reference's CL_STATUS_HISTORY shape
    (FIXTURES.md mapping: user_id≈collision_id, event_type≈status code,
    ts≈effective_date and created_timestamp)."""
    return events.select(
        F.col("user_id").alias("collision_id"),
        F.col("event_type").alias("coll_status_type_id"),
        F.col("ts").alias("effective_date"),
        F.col("ts").alias("created_timestamp"),
    )


def fixture_collisions(orders: DataFrame) -> DataFrame:
    """Adapt the orders fixture to the COLLISIONS fact shape
    (o_orderkey≈id, o_orderpriority≈case_nbr)."""
    return orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("case_nbr"),
    )


def fixture_collisions_full(orders: DataFrame) -> DataFrame:
    """Adapt the orders fixture to the Option-1 COLLISIONS fact shape
    (o_orderkey≈id, o_orderpriority≈case_nbr, o_orderstatus≈pfn_file_nbr,
    o_orderdate≈occurence_timestamp and reported_timestamp)."""
    return orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("case_nbr"),
        F.col("o_orderstatus").alias("pfn_file_nbr"),
        F.col("o_orderdate").alias("occurence_timestamp"),
        F.col("o_orderdate").alias("reported_timestamp"),
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry-point flavor: run the flagship on the fixture tables."""
    from ..catalog import load_table

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return valid_collision_view(
        fixture_status_history(events),
        fixture_collisions(orders),
        cutoff_dates_df(spark),
    )


def flagship_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry-point flavor of the Option-1 flag variant on fixture tables."""
    from ..catalog import load_table

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return valid_flag_view(
        fixture_status_history(events),
        fixture_collisions_full(orders),
        cutoff_dates_df(spark),
    )
