"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark_impl, oracle_sql) pair consumed by ``__spark_entry__``.

Conventions (driver contract):
- each Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame;
- every computed column is aliased identically in the Spark plan and the
  DuckDB oracle SQL (the driver sorts columns by name before hashing);
- aggregate arithmetic is cast to DECIMAL(38,6) on BOTH sides so sums are
  exact and order-insensitive (double addition is not associative — a
  distributed sum would hash-flap against single-threaded DuckDB);
- timestamps in result sets are emitted as 'yyyy-MM-dd[ HH:mm:ss]' strings
  (or DATE) to sidestep timezone/precision representation differences;
- rank/year/size outputs are pinned to INT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .catalog import load_table
from .plans import fusion_etl, valid_collisions as vc
from .session import pin_parity_conf

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) callable; optionally its DuckDB oracle."""

    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_parity_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# shared oracle-SQL fragments
# ---------------------------------------------------------------------------

_CUTOFF_VALUES = ",\n        ".join(
    f"({y}, DATE '{d}')" for y, d in vc.CUTOFF_ROWS
)

#: DuckDB rendering of the flagship CTE chain
#: (create_view_vw_valid_collision_from_oracle.sql:2-107); final SELECT is
#: appended by each consumer.
_FLAGSHIP_CTES = f"""
WITH cutoff_dates AS (
    SELECT CAST(created_year AS INT) AS created_year, cutoff_end_date
    FROM (VALUES
        {_CUTOFF_VALUES}
    ) t(created_year, cutoff_end_date)
),
earliest AS (
    SELECT user_id AS collision_id,
           strftime(MIN(ts), '%Y-%m-%d') AS earliest_created_date
    FROM events GROUP BY user_id
),
case_year AS (
    SELECT collision_id,
           CAST(EXTRACT(YEAR FROM CAST(earliest_created_date AS DATE)) AS INT) AS created_year,
           earliest_created_date
    FROM earliest
),
with_cutoff AS (
    SELECT ccy.collision_id, ccy.created_year, ccd.cutoff_end_date
    FROM case_year ccy
    JOIN cutoff_dates ccd ON ccy.created_year = ccd.created_year
),
status_on_cutoff AS (
    SELECT cwc.collision_id, cwc.created_year, cwc.cutoff_end_date,
           e.event_type AS coll_status_type_id, e.ts AS effective_date,
           ROW_NUMBER() OVER (
               PARTITION BY cwc.collision_id
               ORDER BY e.ts DESC, e.event_type DESC
           ) AS rn
    FROM with_cutoff cwc
    JOIN events e ON cwc.collision_id = e.user_id
                 AND CAST(e.ts AS DATE) <= cwc.cutoff_end_date
    WHERE CAST(e.ts AS DATE) <= cwc.cutoff_end_date
),
filtered AS (
    SELECT * FROM status_on_cutoff
    WHERE effective_date <= CAST(cutoff_end_date AS TIMESTAMP)
),
reranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY collision_id ORDER BY rn ASC) AS rn2
    FROM filtered
),
latest AS (SELECT * FROM reranked WHERE rn2 = 1)
"""

_VALID_IN = "('" + "','".join(vc.VALID_STATUSES) + "')"


# ===========================================================================
# Flagship (SURVEY.md §3.3 — exercises U1,F1,A1,A2,F3,J1,J2,P9,W1,W2,P10,
# J3,P7,P8,O1 in one DAG)
# ===========================================================================


@query(
    "flagship_valid_cohort",
    oracle=_FLAGSHIP_CTES
    + f"""
SELECT l.collision_id, c.o_orderpriority AS case_nbr
FROM latest l
LEFT JOIN orders c ON l.collision_id = c.o_orderkey
WHERE (l.coll_status_type_id = '{vc.VALID_STATUSES[0]}'
       OR l.coll_status_type_id = '{vc.VALID_STATUSES[1]}')
  AND c.o_orderpriority IS NOT NULL
ORDER BY case_nbr DESC
""",
)
def flagship_valid_cohort(spark, sf_dir):
    """The full vw_valid_collision_from_oracle pipeline (Option 2 final)."""
    return vc.flagship(spark, sf_dir)


_FLAG_CASE = (
    f"CASE WHEN l.coll_status_type_id = '{vc.VALID_STATUSES[0]}' THEN 1 "
    f"WHEN l.coll_status_type_id = '{vc.VALID_STATUSES[1]}' THEN 1 "
    "ELSE 0 END"
)


@query(
    "flagship_valid_flag_cohort",
    oracle=_FLAGSHIP_CTES
    + f"""
SELECT l.collision_id,
       l.created_year,
       CAST(EXTRACT(YEAR FROM c.o_orderdate) AS INT) AS case_year,
       l.cutoff_end_date,
       l.coll_status_type_id,
       strftime(l.effective_date, '%Y-%m-%d %H:%M:%S.%f') AS effective_date,
       c.o_orderpriority AS case_nbr,
       c.o_orderstatus AS pfn_file_nbr,
       strftime(c.o_orderdate, '%Y-%m-%d %H:%M:%S') AS occurence_timestamp,
       strftime(c.o_orderdate, '%Y-%m-%d %H:%M:%S') AS reported_timestamp,
       CAST({_FLAG_CASE} AS INT) AS valid_at_cutoff_flag
FROM latest l
LEFT JOIN orders c ON l.collision_id = c.o_orderkey
WHERE EXTRACT(YEAR FROM c.o_orderdate) <= 1998
ORDER BY l.collision_id
""",
)
def flagship_valid_flag_cohort(spark, sf_dir):
    """The Option-1 final SELECT of the flagship view
    (create_view_vw_valid_collision_from_oracle.sql:109-141): CASE WHEN
    valid_at_cutoff_flag derivation + LEFT JOIN to the full collisions fact
    + case-year filter, ordered by collision_id."""
    return vc.flagship_flag(spark, sf_dir)


# ===========================================================================
# U1 / F1 — literal-table union constructor
# ===========================================================================


@query(
    "u1_cutoff_dim",
    oracle=f"""
SELECT CAST(created_year AS INT) AS created_year, cutoff_end_date
FROM (VALUES
    {_CUTOFF_VALUES}
) t(created_year, cutoff_end_date)
""",
)
def u1_cutoff_dim(spark, sf_dir):
    """U1+F1: the 21-row-style literal cutoff dimension
    (create_view_vw_valid_collision_from_oracle.sql:2-26)."""
    return vc.cutoff_dates_df(spark)


# ===========================================================================
# A1/A2 — group-by MIN with TO_CHAR formatting
# ===========================================================================


@query(
    "a1_earliest_status_date",
    oracle="""
SELECT user_id AS collision_id,
       strftime(MIN(ts), '%Y-%m-%d') AS earliest_created_date
FROM events GROUP BY user_id
""",
)
def a1_earliest_status_date(spark, sf_dir):
    """A1+A2 (sql:27-37): min(created_timestamp) per collision, formatted."""
    return vc.earliest_created(vc.fixture_status_history(_t(spark, sf_dir, "events")))


# ===========================================================================
# F3 — EXTRACT(YEAR) projection
# ===========================================================================


@query(
    "f3_case_year",
    oracle="""
SELECT collision_id,
       CAST(EXTRACT(YEAR FROM CAST(earliest_created_date AS DATE)) AS INT) AS created_year,
       earliest_created_date
FROM (
    SELECT user_id AS collision_id,
           strftime(MIN(ts), '%Y-%m-%d') AS earliest_created_date
    FROM events GROUP BY user_id
) t
""",
)
def f3_case_year(spark, sf_dir):
    """F3 (sql:38-47): year extraction off the formatted earliest date."""
    return vc.with_case_year(
        vc.earliest_created(vc.fixture_status_history(_t(spark, sf_dir, "events")))
    )


# ===========================================================================
# J1 — inner equi-join against broadcast literal dim
# ===========================================================================


@query(
    "j1_with_cutoff",
    oracle=f"""
WITH cutoff_dates AS (
    SELECT CAST(created_year AS INT) AS created_year, cutoff_end_date
    FROM (VALUES
        {_CUTOFF_VALUES}
    ) t(created_year, cutoff_end_date)
),
case_year AS (
    SELECT collision_id,
           CAST(EXTRACT(YEAR FROM CAST(earliest_created_date AS DATE)) AS INT) AS created_year
    FROM (
        SELECT user_id AS collision_id,
               strftime(MIN(ts), '%Y-%m-%d') AS earliest_created_date
        FROM events GROUP BY user_id
    ) t
)
SELECT ccy.collision_id, ccy.created_year, ccd.cutoff_end_date
FROM case_year ccy JOIN cutoff_dates ccd ON ccy.created_year = ccd.created_year
""",
)
def j1_with_cutoff(spark, sf_dir):
    """J1 (sql:48-58): broadcast-hash join year -> cutoff_end_date."""
    return vc.with_cutoff(
        vc.with_case_year(
            vc.earliest_created(vc.fixture_status_history(_t(spark, sf_dir, "events")))
        ),
        vc.cutoff_dates_df(spark),
    )


# ===========================================================================
# J2 + P9 + W1 — equi+range join with latest-first ranking
# ===========================================================================


@query(
    "j2_w1_status_rank",
    oracle=_FLAGSHIP_CTES
    + """
SELECT collision_id, created_year, cutoff_end_date,
       coll_status_type_id,
       strftime(effective_date, '%Y-%m-%d %H:%M:%S.%f') AS effective_ts,
       CAST(rn AS INT) AS rn
FROM status_on_cutoff
""",
)
def j2_w1_status_rank(spark, sf_dir):
    """J2+P9+W1 (sql:59-77): status history at-or-before cutoff, ranked
    latest-first with (effective_date DESC, status_id DESC)."""
    sh = vc.fixture_status_history(_t(spark, sf_dir, "events"))
    ranked = vc.status_on_cutoff(
        vc.with_cutoff(vc.with_case_year(vc.earliest_created(sh)), vc.cutoff_dates_df(spark)),
        sh,
    )
    return ranked.select(
        "collision_id",
        "created_year",
        "cutoff_end_date",
        "coll_status_type_id",
        F.date_format("effective_date", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("effective_ts"),
        F.col("rn").cast("int").alias("rn"),
    )


# ===========================================================================
# W2 + P10 — no-op re-rank and top-1 filter
# ===========================================================================


@query(
    "w2_p10_latest_status",
    oracle=_FLAGSHIP_CTES
    + """
SELECT collision_id, created_year, cutoff_end_date, coll_status_type_id,
       strftime(effective_date, '%Y-%m-%d %H:%M:%S.%f') AS effective_ts,
       CAST(rn AS INT) AS rn, CAST(rn2 AS INT) AS rn2
FROM latest
""",
)
def w2_p10_latest_status(spark, sf_dir):
    """W2+P10 (sql:85-107): re-rank rn2 over rn (kept for fidelity) then
    rn2 = 1 — the latest status per collision at its cutoff."""
    sh = vc.fixture_status_history(_t(spark, sf_dir, "events"))
    latest = vc.latest_status(
        vc.status_on_cutoff(
            vc.with_cutoff(vc.with_case_year(vc.earliest_created(sh)), vc.cutoff_dates_df(spark)),
            sh,
        )
    )
    return latest.select(
        "collision_id",
        "created_year",
        "cutoff_end_date",
        "coll_status_type_id",
        F.date_format("effective_date", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("effective_ts"),
        F.col("rn").cast("int").alias("rn"),
        F.col("rn2").cast("int").alias("rn2"),
    )


# ===========================================================================
# Fusion ETL transform (J4/P2/P3/P4/F5/F6/F7 in one DAG — §3.3 script part)
# ===========================================================================

_FUSION_TARGET_COLUMNS = [
    "id",
    "case_nbr",
    "case_year",
    "occurence_timestring",
    "source",
    "fatal_comments",
    "severity_of_collision_id",  # exists in target, not in df -> dropped by P2
]


@query(
    "fusion_etl_collisions",
    oracle=_FLAGSHIP_CTES
    + f"""
, valid AS (
    SELECT l.collision_id
    FROM latest l LEFT JOIN orders c ON l.collision_id = c.o_orderkey
    WHERE (l.coll_status_type_id = '{vc.VALID_STATUSES[0]}'
           OR l.coll_status_type_id = '{vc.VALID_STATUSES[1]}')
      AND c.o_orderpriority IS NOT NULL
),
coll AS (
    SELECT o_orderkey AS id,
           o_orderpriority AS case_nbr,
           CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderdate END AS occurence_timestamp,
           o_orderdate AS reported_timestamp,
           o_orderstatus AS fatal_comments
    FROM orders
)
SELECT id, case_nbr, fatal_comments,
       CAST(EXTRACT(YEAR FROM COALESCE(occurence_timestamp, reported_timestamp)) AS INT) AS case_year,
       strftime(occurence_timestamp, '%Y-%m-%d') AS occurence_timestring,
       'eCollision Oracle' AS source
FROM coll
WHERE id IN (SELECT collision_id FROM valid)
""",
)
def fusion_etl_collisions(spark, sf_dir):
    """The reference's fusion-table transform
    (etl_ecollision_fusion_table_collisions.py) end to end: valid-cohort
    semi-join (J4), case_year derivation (F5+F6), rename (P3), timestring
    (F7), lineage literal (P4), schema-intersection projection (P2).

    ``occurence_timestamp`` is NULLed for status-'P' orders to exercise the
    coalesce fallback path the fixture data lacks (FIXTURES.md item 4).
    """
    orders = _t(spark, sf_dir, "orders")
    collisions = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("case_nbr"),
        F.when(F.col("o_orderstatus") == "P", F.lit(None))
        .otherwise(F.col("o_orderdate"))
        .alias("occurence_timestamp"),
        F.col("o_orderdate").alias("reported_timestamp"),
        F.col("o_orderstatus").alias("fatal_comment"),
    )
    valid_ids = vc.flagship(spark, sf_dir).select("collision_id")
    return fusion_etl.fusion_collisions_transform(
        collisions, valid_ids, _FUSION_TARGET_COLUMNS
    )


# ===========================================================================
# J4 / P5 — semi-join membership filter
# ===========================================================================


@query(
    "j4_semi_filter",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
""",
)
def j4_semi_filter(spark, sf_dir):
    """J4/P5: the reference's driver-side ``isin`` filter
    (etl_ecollision_fusion_table_collisions.py:78-81) as a distributed
    left-semi join."""
    orders = _t(spark, sf_dir, "orders")
    rich = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return orders.join(
        rich.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


# ===========================================================================
# J5 — anti-join (proper form of the analytics-only cohort)
# ===========================================================================


@query(
    "j5_anti_orphan_customers",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
ORDER BY c_custkey
""",
)
def j5_anti_orphan_customers(spark, sf_dir):
    """J5: 'Analytics not in Oracle' cohort semantics
    (create_view_vw_valid_collision_from_analytics_not_in_oracle.sql) in
    proper anti-join form: customers with no finalized ('F') order.  The
    status predicate keeps the cohort non-empty at every scale factor (at
    sf>=0.01 every customer has *some* order)."""
    customer = _t(spark, sf_dir, "customer")
    fulfilled = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        customer.join(fulfilled, "c_custkey", "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@query(
    "p6_negative_id_cohort",
    oracle="""
SELECT c_custkey AS id, c_name
FROM customer
WHERE c_custkey < 1
ORDER BY id ASC
""",
)
def p6_negative_id_cohort(spark, sf_dir):
    """P6+O2: the reference's literal complement view — ``WHERE id < 1
    ORDER BY id`` (create_view_vw_valid_collision_from_analytics_not_in_oracle.sql:7-8)."""
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 1)
        .select(F.col("c_custkey").alias("id"), "c_name")
        .orderBy(F.asc("id"))
    )


# ===========================================================================
# J6 — decode-dimension join chain (broadcast)
# ===========================================================================


@query(
    "j6_decode_chain",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name AS nation_name, r.r_name AS region_name
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
""",
)
def j6_decode_chain(spark, sf_dir):
    """J6: *_id -> code-value decode joins
    (CODE_TYPE_VALUES lookups, reference.py:7-8) as broadcast-hash joins of
    the small dimensions."""
    customer = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


# ===========================================================================
# A4 — argmax (max_by) form of latest-status
# ===========================================================================


@query(
    "a4_argmax_latest_event",
    oracle="""
SELECT user_id,
       event_type AS latest_status,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS latest_ts
FROM (
    SELECT user_id, event_type, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_type DESC) AS rn
    FROM events
) t WHERE rn = 1
""",
)
def a4_argmax_latest_event(spark, sf_dir):
    """A4: latest status per collision as a single-pass ``max_by`` over a
    (ts, status) ordering struct — the aggregation form of W1+P10 (SURVEY.md
    §2.4).  One shuffle, no window sort: the preferred shape at scale."""
    events = _t(spark, sf_dir, "events")
    top = events.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_type", "ts"), F.struct("ts", "event_type")
        ).alias("m")
    )
    return top.select(
        "user_id",
        F.col("m.event_type").alias("latest_status"),
        F.date_format("m.ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("latest_ts"),
    )


# ===========================================================================
# P11 — CASE WHEN flag derivation
# ===========================================================================


@query(
    "p11_valid_flag",
    oracle=f"""
SELECT event_id, user_id, event_type,
       CASE WHEN event_type = '{vc.VALID_STATUSES[0]}' THEN 1
            WHEN event_type = '{vc.VALID_STATUSES[1]}' THEN 1
            ELSE 0 END AS valid_at_cutoff_flag
FROM events
""",
)
def p11_valid_flag(spark, sf_dir):
    """P11 (sql:123-127 Option-1 variant): status -> 0/1 validity flag."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.when(F.col("event_type") == vc.VALID_STATUSES[0], 1)
        .when(F.col("event_type") == vc.VALID_STATUSES[1], 1)
        .otherwise(0)
        .cast("int")
        .alias("valid_at_cutoff_flag"),
    )


# ===========================================================================
# O3 / S2 / S4 — deterministic top-n (head sampling)
# ===========================================================================


@query(
    "o3_top_n",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders ORDER BY o_orderkey LIMIT 100
""",
)
def o3_top_n(spark, sf_dir):
    """O3/S2/S4: ROWNUM<=n / SELECT TOP n head sample, made deterministic by
    PK ordering (Spark plans it as TakeOrderedAndProject — no full sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )


# ===========================================================================
# A3 — row-count diagnostics
# ===========================================================================


@query(
    "a3_counts",
    oracle="""
SELECT COUNT(*) AS n_rows, COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
""",
)
def a3_counts(spark, sf_dir):
    """A3: stage row-count diagnostics (reference logs len(df) at
    helper_db_operation.py:25,82) as a distributed aggregate."""
    return _t(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


# ===========================================================================
# O1 — explicit-null-ordering global sort
# ===========================================================================


@query(
    "o1_sort_desc",
    oracle="""
SELECT o_orderkey, CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderpriority END AS case_nbr
FROM orders
ORDER BY case_nbr DESC NULLS FIRST
""",
)
def o1_sort_desc(spark, sf_dir):
    """O1 (sql:151-152): ORDER BY case_nbr DESC with PostgreSQL null
    placement (DESC => NULLS FIRST; Spark desc() is nulls-last, so the null
    ordering is pinned explicitly — SURVEY.md §7.3.2)."""
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.when(F.col("o_orderstatus") == "P", F.lit(None))
            .otherwise(F.col("o_orderpriority"))
            .alias("case_nbr"),
        )
        .orderBy(F.desc_nulls_first("case_nbr"))
    )


# ===========================================================================
# TPC-H-shaped analytical queries (engine breadth + bench workloads)
# ===========================================================================


@query(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-30 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark, sf_dir):
    """Pricing-summary rollup (TPC-H Q1 shape) — map-side partial agg +
    single shuffle on the 6-group key; DECIMAL(38,6) accumulation keeps the
    distributed sum exact and order-insensitive, and the final projection
    casts to DOUBLE so both engines render the identical exact sum as the
    same float64 (driver canonicalizes through pandas)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-06-30 00:00:00").cast("timestamp")
    )
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(
                dec(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                )
            )
            .cast("double")
            .alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q5_star_join_revenue",
    oracle="""
SELECT r.r_name AS region_name, n.n_name AS nation_name,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
ORDER BY revenue DESC
""",
)
def q5_star_join_revenue(spark, sf_dir):
    """Star-schema multi-join revenue rollup (fact-bridge-dim traversal per
    FIXTURES.md): big-to-big joins shuffle on their keys, dimension joins are
    broadcast — the plan Catalyst should pick for J6-style decode chains at
    100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"))
    )


@query(
    "q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 20
""",
)
def q3_shipping_priority(spark, sf_dir):
    """Shipping-priority top-k (TPC-H Q3 shape): selective dimension filter
    pushed to the customer scan, two fact joins, grouped revenue, global
    top-20 (TakeOrderedAndProject — no full sort)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(20)
    )


@query(
    "q18_large_orders",
    oracle="""
WITH big AS (
    SELECT l_orderkey
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 150
)
SELECT c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(o.o_totalprice AS DOUBLE) AS totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
FROM orders o
JOIN big ON o.o_orderkey = big.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY totalprice DESC, o_orderkey
""",
)
def q18_large_orders(spark, sf_dir):
    """Large-volume-order customers (TPC-H Q18 shape): HAVING over a
    grouped sum feeding a semi-join back into the fact — two aggregations
    over the same l_orderkey partitioning (the second reuses the first's
    shuffle)."""
    l = _t(spark, sf_dir, "lineitem")
    dec_qty = F.col("l_quantity").cast("decimal(38,6)")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(dec_qty).alias("s"))
        .filter(F.col("s") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.big_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            l.select(F.col("l_orderkey").alias("li_orderkey"), "l_quantity"),
            o.o_orderkey == F.col("li_orderkey"),
        )
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(dec_qty).cast("double").alias("sum_qty"))
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
    )


@query(
    "q6_revenue_delta",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue_delta,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_revenue_delta(spark, sf_dir):
    """Forecast-revenue-change scan (TPC-H Q6 shape): the pure
    pushdown/pruning demo — all four predicates reach the parquet scan
    (PushedFilters), only 4 columns read, single partial+final agg, no
    shuffle of data rows at all."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(38,6)"))
        .cast("double")
        .alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q4_priority_exists",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q4_priority_exists(spark, sf_dir):
    """Order-priority checking (TPC-H Q4 shape, adapted to the fixture
    schema): EXISTS decorrelated to a LEFT SEMI join — the build side is
    the filtered fact projected to its join key only, so the shuffle
    carries one slim column."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "q13_customer_distribution",
    oracle="""
WITH per_cust AS (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q13_customer_distribution(spark, sf_dir):
    """Customer order-count distribution (TPC-H Q13 shape): outer join
    preserving zero-order customers, then a two-level aggregation — the
    second groupBy is over the tiny (c_count) domain, so the heavy shuffle
    happens once on c_custkey."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "x3_profile_lineitem",
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT l_partkey) AS n_parts,
       CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
       CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
       strftime(MIN(l_shipdate), '%Y-%m-%d') AS first_ship,
       strftime(MAX(l_shipdate), '%Y-%m-%d') AS last_ship,
       CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_flags
FROM lineitem
""",
)
def x3_profile_lineitem(spark, sf_dir):
    """Data-profiling rollup (training-data hygiene surface): exact
    cardinalities, ranges and null counts in one pass.  The approximate
    companion (HLL/quantile sketches) is x3_profile_sketch."""
    l = _t(spark, sf_dir, "lineitem")
    return l.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)).alias("null_flags"),
    )


@query(
    "x3_profile_sketch",
    oracle="""
WITH m AS (
    SELECT 'approx_distinct_orders' AS metric,
           round(CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE), 6) AS exact_value
    FROM lineitem
    UNION ALL
    SELECT 'approx_distinct_parts',
           round(CAST(COUNT(DISTINCT l_partkey) AS DOUBLE), 6)
    FROM lineitem
    UNION ALL
    SELECT 'median_quantity',
           round(CAST(percentile_cont(0.5) WITHIN GROUP
                      (ORDER BY CAST(l_quantity AS DOUBLE)) AS DOUBLE), 6)
    FROM lineitem
    UNION ALL
    SELECT 'median_price',
           round(CAST(percentile_cont(0.5) WITHIN GROUP
                      (ORDER BY CAST(l_extendedprice AS DOUBLE)) AS DOUBLE), 6)
    FROM lineitem
)
SELECT metric, exact_value, TRUE AS within_tolerance FROM m
""",
)
def x3_profile_sketch(spark, sf_dir):
    """Sketch-accuracy report: approx_count_distinct (HyperLogLog++) and
    approx_percentile — constant memory per column at any scale, the form
    that survives 100 TB where exact distinct cannot — each compared against
    the exact statistic computed in the SAME single-pass aggregate, emitted
    as (metric, exact_value, within_tolerance) rows.  The sketch values
    themselves are implementation-defined (not portable), but the exact
    values ARE oracle-reproducible and the tolerance booleans assert the
    sketches' error bounds (HLL rsd=0.02 → 10% guard; KLL accuracy=10000 →
    5% relative guard), so the driver's hash check witnesses both the exact
    statistics and the sketch accuracy.  Exact `percentile` matches DuckDB's
    percentile_cont (same (n-1)p linear interpolation)."""
    l = _t(spark, sf_dir, "lineitem")
    # FOUR separate 1-row aggregates recombined with broadcast cross
    # joins — each one-pass and shuffle-light on its own:
    # - exact distincts and percentiles apart (r04): dragging percentile
    #   buffers through the count-distinct Expand tripled their work
    #   (28s at sf0.1 in one agg; ~3s split).
    # - HLL sketches apart from the exact distincts (r11): mixing them
    #   makes RewriteDistinctAggregates evaluate approx_count_distinct
    #   INSIDE the Expand's first keyed aggregate — per (orderkey,
    #   partkey, gid) GROUP, i.e. ~1.3M live 800-word HLL buffers at
    #   sf0.1 (~40% of the query; unbounded per-executor state at
    #   corpus scale).  Split out, each sketch is one map-side partial
    #   per partition — constant memory, the property the sketch exists
    #   for (measured 5.4s -> 3.3s fresh-plan median at sf0.1).
    # - the two exact distincts apart from EACH OTHER (r13): a lone
    #   distinct aggregate plans as a plain two-phase keyed aggregate,
    #   but two in one agg trigger RewriteDistinctAggregates' Expand —
    #   every lineitem row duplicated 2x with a gid through the first
    #   aggregate.  Split, the Expand disappears from the plan entirely
    #   for one extra single-column pruned scan (the cheaper trade at
    #   scale: Expand doubles ROWS, the scan reads one column;
    #   fresh-session alternating A/B at sf0.1: 3.4 vs 3.9 s medians).
    pct_cols = [
        F.expr("percentile(CAST(l_quantity AS DOUBLE), 0.5)").alias("qty_exact"),
        F.percentile_approx(F.col("l_quantity").cast("double"), F.lit(0.5), F.lit(10000))
        .cast("double")
        .alias("qty_approx"),
        F.expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").alias("price_exact"),
        F.percentile_approx(
            F.col("l_extendedprice").cast("double"), F.lit(0.5), F.lit(10000)
        )
        .cast("double")
        .alias("price_approx"),
    ]
    sketch_cols = [
        F.approx_count_distinct("l_orderkey", 0.02).cast("double").alias("orders_approx"),
        F.approx_count_distinct("l_partkey", 0.02).cast("double").alias("parts_approx"),
    ]
    o_cards = l.agg(F.countDistinct("l_orderkey").cast("double").alias("orders_exact"))
    p_cards = l.agg(F.countDistinct("l_partkey").cast("double").alias("parts_exact"))
    agg = (
        o_cards.crossJoin(F.broadcast(p_cards))
        .crossJoin(F.broadcast(l.agg(*sketch_cols)))
        .crossJoin(F.broadcast(l.agg(*pct_cols)))
    )
    unpivoted = agg.select(
        F.expr(
            "stack(4, "
            "'approx_distinct_orders', orders_exact, orders_approx, 0.10D, "
            "'approx_distinct_parts', parts_exact, parts_approx, 0.10D, "
            "'median_quantity', qty_exact, qty_approx, 0.05D, "
            "'median_price', price_exact, price_approx, 0.05D"
            ") AS (metric, exact_v, approx_v, tol)"
        )
    )
    return unpivoted.select(
        "metric",
        F.round("exact_v", 6).alias("exact_value"),
        (F.abs(F.col("approx_v") - F.col("exact_v")) <= F.col("tol") * F.abs("exact_v"))
        .alias("within_tolerance"),
    )


# ===========================================================================
# S17 / S5 — the SQL surface: the flagship expressed as Spark SQL text over
# registered temp views (CREATE OR REPLACE VIEW + query-the-view, the way
# the reference consumes it at etl_ecollision_fusion_table_collisions.py:47-56)
# ===========================================================================

_FLAGSHIP_SPARK_SQL = f"""
WITH cutoff_dates AS (
    SELECT CAST(created_year AS INT) AS created_year, cutoff_end_date
    FROM (VALUES
        {_CUTOFF_VALUES}
    ) t(created_year, cutoff_end_date)
),
earliest AS (
    SELECT user_id AS collision_id,
           date_format(MIN(ts), 'yyyy-MM-dd') AS earliest_created_date
    FROM events GROUP BY user_id
),
case_year AS (
    SELECT collision_id,
           CAST(EXTRACT(YEAR FROM CAST(earliest_created_date AS DATE)) AS INT) AS created_year
    FROM earliest
),
with_cutoff AS (
    SELECT ccy.collision_id, ccy.created_year, ccd.cutoff_end_date
    FROM case_year ccy
    JOIN cutoff_dates ccd ON ccy.created_year = ccd.created_year
),
status_on_cutoff AS (
    SELECT cwc.collision_id, cwc.cutoff_end_date,
           e.event_type AS coll_status_type_id, e.ts AS effective_date,
           ROW_NUMBER() OVER (
               PARTITION BY cwc.collision_id
               ORDER BY e.ts DESC, e.event_type DESC
           ) AS rn
    FROM with_cutoff cwc
    JOIN events e ON cwc.collision_id = e.user_id
                 AND CAST(e.ts AS DATE) <= cwc.cutoff_end_date
    WHERE CAST(e.ts AS DATE) <= cwc.cutoff_end_date
),
filtered AS (
    SELECT * FROM status_on_cutoff
    WHERE effective_date <= CAST(cutoff_end_date AS TIMESTAMP)
),
reranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY collision_id ORDER BY rn ASC) AS rn2
    FROM filtered
),
latest AS (SELECT * FROM reranked WHERE rn2 = 1)
SELECT l.collision_id, c.o_orderpriority AS case_nbr
FROM latest l
LEFT JOIN orders c ON l.collision_id = c.o_orderkey
WHERE (l.coll_status_type_id = '{vc.VALID_STATUSES[0]}'
       OR l.coll_status_type_id = '{vc.VALID_STATUSES[1]}')
  AND c.o_orderpriority IS NOT NULL
ORDER BY case_nbr DESC
"""


@query("flagship_valid_cohort_sql", oracle=ORACLES["flagship_valid_cohort"])
def flagship_valid_cohort_sql(spark, sf_dir):
    """S17+S5: the flagship as *SQL text* against CREATE OR REPLACE TEMP
    VIEWs — proving the whole §3.3 pipeline runs on the engine's SQL surface
    and produces the identical result to the DataFrame build (same Catalyst
    plan either way)."""
    from .catalog import register_views

    register_views(spark, sf_dir, tables=("events", "orders"))
    return spark.sql(_FLAGSHIP_SPARK_SQL)


# ===========================================================================
# As-of join — the direct operator for the J2+W1 semantic (SURVEY.md §2.3)
# ===========================================================================


@query(
    "asof_last_purchase",
    oracle="""
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS event_ts,
       e.event_type,
       p.value AS asof_value,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS asof_purchase_ts
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
    ON e.user_id = p.user_id AND e.ts >= p.ts
""",
)
def asof_last_purchase(spark, sf_dir):
    """As-of join: for every event, the user's most recent purchase value
    at-or-before that event (union+window merge form — one shuffle, no row
    explosion; the scalable shape of the reference's J2+W1 range-join+rank).
    Oracle uses DuckDB's native ASOF JOIN."""
    from .operators.joins import asof_join_backward

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "value"
    )
    joined = asof_join_backward(
        events.select("event_id", "user_id", "ts", "event_type"),
        purchases,
        on="user_id",
        left_time="ts",
        right_time="p_ts",
        payload=["value", "p_ts"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("event_ts"),
        "event_type",
        F.col("asof_value").alias("asof_value"),
        F.date_format("asof_p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("asof_purchase_ts"),
    )


# extension operators register themselves on import (bottom import keeps the
# decorator registry single-sourced without a circular-import headache)
from . import registry_ext  # noqa: E402,F401
from . import registry_tpch  # noqa: E402,F401
