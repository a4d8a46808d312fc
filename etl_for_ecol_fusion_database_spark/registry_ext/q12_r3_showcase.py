"""round-2 late + round-3 showcase (funnels, retention, sketches, BM25, PQ, streaming replay) — split from the single-module registry_ext (round 6).

Registration order is load-bearing (the __spark_entry__ witness rotation
samples in registration order): registry_ext/__init__.py imports the
block modules in the original file's order and entries within each module
keep their original sequence — append, don't reorder.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

from ..catalog import load_table, read_parquet  # noqa: F401
from ..operators import dedup, multimodal, sampling, similarity, text  # noqa: F401
from ..registry import query  # noqa: F401
from ._shared import (  # noqa: F401
    _LANG_CASE,
    _LANG_GREATEST,
    _LANG_SCORE_SQL,
    _RT_DIRS,
    _SCD2_FULL_RECOMPUTE_ORACLE,
    _STOP_LIST,
    _embedding_head,
    _marker_list,
    _replace_tmpdirs,
    _rt_tmpdir,
    _t,
    _with_synthetic_near_dups,
)

# ===========================================================================
# round-2 late additions: funnels, retention, chunking, quantized ANN,
# point-in-time interval join
# ===========================================================================


@query(
    "x5_funnel_steps",
    oracle="""
WITH t1 AS (
    SELECT user_id, MIN(ts) AS t_1 FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
t2 AS (
    SELECT e.user_id, MIN(e.ts) AS t_2 FROM events e JOIN t1 USING (user_id)
    WHERE e.event_type = 'view' AND e.ts >= t1.t_1 GROUP BY e.user_id
),
t3 AS (
    SELECT e.user_id, MIN(e.ts) AS t_3 FROM events e JOIN t2 USING (user_id)
    WHERE e.event_type = 'click' AND e.ts >= t2.t_2 GROUP BY e.user_id
),
t4 AS (
    SELECT e.user_id, MIN(e.ts) AS t_4 FROM events e JOIN t3 USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts >= t3.t_3 GROUP BY e.user_id
),
c AS (
    SELECT (SELECT COUNT(*) FROM t1) AS n_1,
           (SELECT COUNT(*) FROM t2) AS n_2,
           (SELECT COUNT(*) FROM t3) AS n_3,
           (SELECT COUNT(*) FROM t4) AS n_4
)
SELECT CAST(1 AS INT) AS step_idx, 'signup' AS step, n_1 AS n_users,
       round(n_1::DOUBLE / n_1::DOUBLE, 6) AS conversion FROM c
UNION ALL SELECT 2, 'view', n_2, round(n_2::DOUBLE / n_1::DOUBLE, 6) FROM c
UNION ALL SELECT 3, 'click', n_3, round(n_3::DOUBLE / n_1::DOUBLE, 6) FROM c
UNION ALL SELECT 4, 'purchase', n_4, round(n_4::DOUBLE / n_1::DOUBLE, 6) FROM c
""",
)
def x5_funnel_steps(spark, sf_dir):
    """X5 strict-order funnel (operators/funnel.funnel_steps):
    signup -> view -> click -> purchase, step i+1 counted only at-or-after
    the user's step-i completion time.  Every per-step aggregation and join
    hash-partitions on user_id (one reusable exchange); the output is 4
    rows."""
    from ..operators import funnel

    return funnel.funnel_steps(
        _t(spark, sf_dir, "events"), ["signup", "view", "click", "purchase"]
    )


@query(
    "x5_retention_cohorts",
    oracle="""
WITH acts AS (
    SELECT user_id, date_trunc('week', ts) AS act_week FROM events
),
firsts AS (
    SELECT user_id, MIN(act_week) AS cohort_week FROM acts GROUP BY user_id
),
j AS (
    SELECT a.user_id, f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS INT)
               AS offset_weeks
    FROM acts a JOIN firsts f USING (user_id)
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, offset_weeks,
       COUNT(DISTINCT user_id) AS n_active_users
FROM j GROUP BY 1, 2
""",
)
def x5_retention_cohorts(spark, sf_dir):
    """X5 weekly cohort retention triangle
    (operators/funnel.retention_cohorts): cohort = ISO week of first event,
    cells count distinct active users per (cohort, offset).  Two shuffles
    (user_id, then the tiny cohort rollup)."""
    from ..operators import funnel

    return funnel.retention_cohorts(_t(spark, sf_dir, "events"))


@query(
    "x3_doc_chunks",
    oracle=r"""
WITH s AS (
    SELECT doc_id, text,
           unnest(generate_series(1, greatest(length(text), 1), 150))
               AS chunk_start
    FROM documents WHERE text IS NOT NULL
),
c AS (
    SELECT doc_id,
           CAST((chunk_start - 1) // 150 AS INT) AS chunk_idx,
           CAST(chunk_start AS INT) AS chunk_start,
           substring(text, CAST(chunk_start AS INT), 200) AS chunk
    FROM s
)
SELECT doc_id, chunk_idx, chunk_start,
       CAST(length(chunk) AS INT) AS chunk_len,
       CAST(len(string_split_regex(trim(chunk), '\s+')) AS INT) AS n_tokens,
       md5(chunk) AS chunk_md5
FROM c
""",
)
def x3_doc_chunks(spark, sf_dir):
    """X3 RAG-style overlapping chunking (operators/text.chunk_documents):
    200-char windows every 150 chars via sequence+posexplode — a pure
    narrow transform, zero shuffles, chunk text carried as md5."""
    return text.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=200, stride=150
    )


@query(
    "x2_quantized_topk",
    oracle="""
WITH qv AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
quant AS (
    SELECT vec_id,
           list_transform(
               v, x -> floor(x * (CASE WHEN m > 0 THEN 127.0 / m
                                       ELSE 0.0 END) + 0.5)) AS q
    FROM (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS m FROM qv) t
),
base AS (
    SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS norm FROM quant
),
scored AS (
    SELECT a.vec_id AS q_id, b.vec_id AS cand_id,
           round(list_dot_product(a.q, b.q) / (a.norm * b.norm), 6) AS q_cosine
    FROM base a JOIN base b ON a.vec_id != b.vec_id
    WHERE a.vec_id < 20
),
ranked AS (
    SELECT q_id, cand_id, q_cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY q_cosine DESC, cand_id ASC) AS INT)
               AS rank
    FROM scored
)
SELECT q_id, cand_id, q_cosine, rank FROM ranked WHERE rank <= 5
""",
)
def x2_quantized_topk(spark, sf_dir):
    """X2 int8-quantized cosine top-k (operators/similarity.quantized_topk):
    per-vector symmetric quantization, exact small-integer dot products —
    the 4x-memory-reduction ANN variant, and the only approximate-storage
    path portable enough to carry a full DuckDB oracle."""
    return similarity.quantized_topk(
        _t(spark, sf_dir, "embeddings"), k=5, n_queries=20
    )


@query(
    "j9_point_in_time",
    oracle="""
WITH log AS (
    SELECT user_id, ts, event_type, event_id FROM events
    WHERE event_type IN ('view', 'click')
),
chg AS (
    SELECT user_id, ts, event_type, event_id,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM log
),
iv0 AS (
    SELECT user_id, event_type, ts AS valid_from, event_id
    FROM chg WHERE prev IS NULL OR event_type != prev
),
iv AS (
    SELECT user_id, event_type AS state, valid_from,
           lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
    FROM iv0
),
facts AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id,
       strftime(f.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       iv.state AS state_at_purchase,
       strftime(iv.valid_from, '%Y-%m-%d %H:%M:%S.%f') AS state_since
FROM facts f
LEFT JOIN iv ON f.user_id = iv.user_id
            AND f.ts >= iv.valid_from
            AND (iv.valid_to IS NULL OR f.ts < iv.valid_to)
""",
)
def j9_point_in_time(spark, sf_dir):
    """J9 point-in-time interval join (operators/joins.point_in_time_join
    over operators/history.scd2_intervals): each purchase picks up the
    user's browsing state (last view/click run) active at purchase time.
    One user_id shuffle shared by the SCD2 derivation and the join; SCD2
    intervals are disjoint per key so the join never amplifies."""
    from ..operators import history, joins

    e = _t(spark, sf_dir, "events")
    iv = history.scd2_intervals(
        e.filter(F.col("event_type").isin("view", "click")),
        "user_id",
        "ts",
        "event_type",
        tiebreak="event_id",
    ).drop("is_current")
    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = joins.point_in_time_join(
        facts, iv, on="user_id", fact_time="ts"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.col("event_type").alias("state_at_purchase"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("state_since"),
    )


@query(
    "a8_mad_anomaly",
    oracle="""
WITH med AS (
    SELECT event_type, median(value) AS m FROM events GROUP BY 1
),
d AS (
    SELECT e.event_type, e.value, med.m, abs(e.value - med.m) AS absdev
    FROM events e JOIN med USING (event_type)
),
md AS (
    SELECT event_type, median(absdev) AS md FROM d GROUP BY 1
)
SELECT d.event_type,
       round(MIN(d.m), 6) AS med,
       round(MIN(md.md), 6) AS mad,
       CAST(SUM(CASE WHEN d.absdev > 3.0 * 1.4826 * md.md THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       COUNT(*) AS n_total
FROM d JOIN md USING (event_type)
GROUP BY 1
""",
)
def a8_mad_anomaly(spark, sf_dir):
    """A8 robust median/MAD outlier summary per event type
    (operators/anomaly.mad_outlier_summary): exact interpolated medians
    (same definition as DuckDB quantile_cont), broadcast joins on the tiny
    group key, three columnar passes and no large-key shuffle."""
    from ..operators import anomaly

    return anomaly.mad_outlier_summary(_t(spark, sf_dir, "events"))


_QUALITY_SCORE_SQL = r"""
    SELECT doc_id,
           round(0.4 * (len(list_filter(toks, x -> list_contains({stop}, x)))::DOUBLE
                        / len(toks)::DOUBLE)
                 + 0.3 * (1.0 - n_punct::DOUBLE / n_chars::DOUBLE)
                 + 0.3 * least(n_chars::DOUBLE / 500.0, 1.0), 6) AS quality_score
    FROM (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\s+') AS toks,
               len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
               length(text) AS n_chars
        FROM documents
    ) t
"""


@query(
    "x3_quality_threshold_filter",
    oracle=f"""
WITH scored AS ({_QUALITY_SCORE_SQL.format(stop="{stop}")}),
thr AS (SELECT quantile_cont(quality_score, 0.25) AS thr FROM scored)
SELECT s.doc_id, s.quality_score, round(thr.thr, 6) AS threshold
FROM scored s CROSS JOIN thr
WHERE s.quality_score >= thr.thr
""".format(stop=_STOP_LIST),
)
def x3_quality_threshold_filter(spark, sf_dir):
    """X3 percentile-threshold quality filtering: drop the bottom quartile
    by exact 25th-percentile cutoff.  The scalable form — ONE scalar
    aggregate broadcast into a filter — not a global percent_rank sort
    (which would need a total order over the corpus at 100 TB)."""
    scored = text.quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "quality_score"
    )
    thr = scored.agg(
        F.percentile("quality_score", F.lit(0.25)).alias("thr")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("quality_score") >= F.col("thr"))
        .select(
            "doc_id", "quality_score", F.round("thr", 6).alias("threshold")
        )
    )


@query(
    "x1_chunk_dedup",
    oracle=r"""
WITH s AS (
    SELECT doc_id, text,
           unnest(generate_series(1, greatest(length(text), 1), 200))
               AS chunk_start
    FROM documents WHERE text IS NOT NULL
),
c AS (
    SELECT doc_id,
           md5(substring(text, CAST(chunk_start AS INT), 200)) AS chunk_md5
    FROM s
)
SELECT chunk_md5,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS keep_doc
FROM c
GROUP BY chunk_md5
HAVING COUNT(*) > 1
""",
)
def x1_chunk_dedup(spark, sf_dir):
    """X1 chunk-level exact dedup: disjoint 200-char chunks grouped by md5
    — the boilerplate/header detector that document-level dedup misses.
    Composition of chunk_documents (zero-shuffle) + one 16-byte-key
    groupBy with map-side combine."""
    chunks = text.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=200, stride=200
    )
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc"),
        )
        .filter(F.col("n_copies") > 1)
    )


@query(
    "x11_incremental_rollup",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_value,
       MIN(CAST(value AS DOUBLE)) AS min_value,
       MAX(CAST(value AS DOUBLE)) AS max_value
FROM events
GROUP BY event_type
""",
)
def x11_incremental_rollup(spark, sf_dir):
    """X11 incremental aggregation maintenance
    (operators/incremental.py): the event log is split into two "days"
    (event_id parity), each day aggregated to an algebraic partial state
    INDEPENDENTLY, and the states merged — the oracle aggregates the
    whole table directly, proving merge(state(A), state(B)) ==
    state(A ∪ B).  Decimal accumulation makes the merge order
    irrelevant; at 100 TB this is how a rollup absorbs a late batch
    without re-scanning history."""
    from ..operators import incremental

    e = _t(spark, sf_dir, "events")
    day1 = incremental.partial_agg_state(
        e.filter(F.col("event_id") % 2 == 0), ["event_type"], "value"
    )
    day2 = incremental.partial_agg_state(
        e.filter(F.col("event_id") % 2 == 1), ["event_type"], "value"
    )
    return incremental.finalize_agg_state(
        incremental.merge_agg_states(day1, day2)
    )


@query(
    "a9_grouping_sets",
    oracle="""
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT)
           AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
""",
)
def a9_grouping_sets(spark, sf_dir):
    """A9 arbitrary GROUPING SETS (beyond A5 ROLLUP / A7 CUBE): priority
    margins, status margins and the grand total in one expanded
    aggregation — one shuffle, no table re-scan per grouping.  SQL-text
    surface via the registered view."""
    from ..catalog import register_views

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT)
           AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""
    )


@query(
    "a10_unpivot",
    oracle="""
WITH wide AS (
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium
    FROM orders GROUP BY o_year
)
SELECT o_year, priority, n_orders
FROM wide
UNPIVOT (n_orders FOR priority IN (urgent, high, medium))
""",
)
def a10_unpivot(spark, sf_dir):
    """A10 unpivot/melt (the inverse of A6's pivot): wide per-priority
    count columns back to long (year, priority, n) rows via the native
    ``unpivot`` — a narrow transform (no shuffle beyond the wide table's
    own aggregation)."""
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
        .count()
        .na.fill(0, ["1-URGENT", "2-HIGH", "3-MEDIUM"])
        .select(
            "o_year",
            F.col("1-URGENT").alias("urgent"),
            F.col("2-HIGH").alias("high"),
            F.col("3-MEDIUM").alias("medium"),
        )
    )
    return wide.unpivot(
        ["o_year"], ["urgent", "high", "medium"], "priority", "n_orders"
    )


@query(
    "x11_hll_incremental",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       TRUE AS merge_consistent,
       TRUE AS within_tolerance
FROM events GROUP BY event_type
""",
)
def x11_hll_incremental(spark, sf_dir):
    """X11 sketch-state incremental distinct counting: per-"day" HLL
    sketches of user_id per event_type, merged with hll_union_agg — the
    only way COUNT(DISTINCT) participates in incremental view
    maintenance (exact distincts don't merge).  The sketch binary itself
    is implementation-defined, so the hash-checked witness (round-5
    conversion from rows-only) asserts the two properties that ARE
    portable, per group: ``merge_consistent`` — the union of the three
    per-batch sketches estimates within 5% (≈3x the lgK=12 rsd) of one
    sketch over the whole relation — and ``within_tolerance`` — the
    merged estimate lands within the lgK=12 error guard (rsd ~1.6%, 10%
    guard) of the exact distinct, whose value the oracle recomputes
    exactly.  Round 9 (caught by the sf0.1 oracle sweep): the original
    assertion was bit-identity, which only holds while the Datasketches
    sketches stay in exact coupon (LIST/SET) mode — at 1500 distincts
    per group the sketches promote to dense HLL_4 registers, where the
    union-vs-direct states legitimately drift a few counts (1488 merged
    vs 1480–1499 direct at sf0.1; exact 1500).  Bounded drift is the
    property that holds at ANY scale; bit-identity in coupon mode stays
    pinned in tests/test_analytics_ops.py.  Same pattern as
    x11_hll_accuracy/x3_profile_sketch: the sketch VALUE is
    implementation-defined, its ALGEBRA and ACCURACY are not."""
    from ..operators import incremental

    e = _t(spark, sf_dir, "events")
    days = [
        incremental.hll_state(
            e.filter(F.col("event_id") % 3 == i), ["event_type"], "user_id"
        )
        for i in range(3)
    ]
    merged = incremental.finalize_hll_state(incremental.merge_hll_states(*days))
    whole = incremental.finalize_hll_state(
        incremental.hll_state(e, ["event_type"], "user_id")
    ).withColumnRenamed("approx_distinct", "whole_distinct")
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        exact.join(F.broadcast(merged), "event_type")
        .join(F.broadcast(whole), "event_type")
        .select(
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("approx_distinct") - F.col("whole_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("merge_consistent"),
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= 0.10 * F.col("exact_distinct")
            ).alias("within_tolerance"),
        )
    )


@query(
    "x6_domain_mixture",
    oracle="""
WITH counts AS (
    SELECT lang AS dom, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
tot AS (
    SELECT SUM(sqrt(CAST(n_docs AS DOUBLE))) AS denom,
           SUM(n_docs) AS n_total
    FROM counts
),
rates AS (
    SELECT dom, n_docs,
           round(sqrt(CAST(n_docs AS DOUBLE)) / denom
                 * CAST(n_total AS DOUBLE) / CAST(n_docs AS DOUBLE),
                 6) AS target_rate
    FROM counts CROSS JOIN tot
)
SELECT d.doc_id,
       r.dom AS domain,
       r.target_rate,
       CAST((CAST(round(r.target_rate * 1000) AS BIGINT) // 1000)
            + CASE WHEN ((d.doc_id % 2147483647) * 2654435761) % 1000
                        < CAST(round(r.target_rate * 1000) AS BIGINT) % 1000
                   THEN 1 ELSE 0 END AS INT) AS n_repeats
FROM documents d JOIN rates r ON d.lang = r.dom
""",
)
def x6_domain_mixture(spark, sf_dir):
    """X6 temperature-scaled domain mixture (operators/sampling.
    domain_mixture): per-language sampling rates re-weighted by
    n^0.5 / sum(n^0.5) — the standard multilingual mixing scheme that
    upsamples small domains — converted to deterministic integer per-doc
    repeat counts via the id-hash per-mille bucket.  The domain-rate
    table is a tiny broadcast; no data-sized shuffle beyond the count.
    Fully oracle-checked: rates to 6 dp, repeat counts exactly."""
    from ..operators import sampling

    return sampling.domain_mixture(
        _t(spark, sf_dir, "documents"), "lang", alpha=0.5
    )


@query(
    "x9_zorder_layout",
    oracle="""
WITH e AS (
    SELECT event_id,
           user_id % 1024 AS a,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) % 1024 AS b
    FROM events WHERE event_id < 20000
),
z AS (
    SELECT event_id,
           CAST(list_sum([((a >> i) & 1) * CAST(power(2, 2 * i + 1) AS BIGINT)
                          + ((b >> i) & 1) * CAST(power(2, 2 * i) AS BIGINT)
                          for i in generate_series(0, 9)]) AS BIGINT) AS zval
    FROM e
)
SELECT event_id, zval,
       CAST(zval >> 9 AS BIGINT) AS file_id
FROM z
""",
)
def x9_zorder_layout(spark, sf_dir):
    """X9 Z-order (Morton) layout assignment via the maintenance module's
    production interleave (sources/maintenance.zorder_key_expr — the same
    expression zorder_by range-partitions on): bits of the (user_id
    bucket, hour-of-epoch bucket) ranks interleaved so a rewrite
    clustered by zval gives parquet min/max skipping on BOTH columns.
    This entry value-checks the bit interleave and coarse file assignment
    exactly against DuckDB (zorder_key_expr puts column 0 on odd and
    column 1 on even bit positions); the write half (zorder_by:
    repartitionByRange + sortWithinPartitions + per-file min/max
    tightness) is asserted in tests/test_maintenance.py."""
    from ..sources import maintenance

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 20000)
        .select(
            "event_id",
            (F.col("user_id") % 1024).alias("a"),
            (
                F.floor(
                    F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600
                ).cast("long")
                % 1024
            ).alias("b"),
        )
    )
    zval = maintenance.zorder_key_expr(["a", "b"], n_bits=10)
    return e.select(
        "event_id",
        zval.alias("zval"),
        F.shiftrightunsigned(zval, 9).alias("file_id"),
    )


@query(
    "x5_interval_overlap",
    oracle="""
WITH v AS (
    SELECT event_id AS view_id, ts AS vs, ts + INTERVAL '30 minutes' AS ve
    FROM events WHERE event_type = 'view' AND event_id < 1000
),
c AS (
    SELECT event_id AS click_id, ts AS cs, ts + INTERVAL '10 minutes' AS ce
    FROM events WHERE event_type = 'click' AND event_id < 1000
)
SELECT v.view_id, c.click_id,
       CAST(epoch_us(least(v.ve, c.ce)) - epoch_us(greatest(v.vs, c.cs)) AS BIGINT)
           AS overlap_us
FROM v JOIN c ON v.vs <= c.ce AND c.cs <= v.ve
""",
)
def x5_interval_overlap(spark, sf_dir):
    """X5 interval OVERLAP join (operators/joins.interval_overlap_join):
    30-minute view windows x 10-minute click windows, joined where the
    intervals intersect.  The naive non-equi form is a nested-loop
    cartesian; the operator explodes each interval into the time buckets
    it touches and equi-joins on the bucket, so only temporally-close rows
    shuffle together — the standard range-join-at-scale rewrite.  The
    DuckDB oracle uses the naive predicate (fine at sf0.01), so the
    bucketed rewrite is value-checked equivalent to the declarative
    semantics, overlap durations (microsecond-exact on both engines —
    second-granularity epoch trunc/round semantics differ) included."""
    e = _t(spark, sf_dir, "events")
    v = e.filter((F.col("event_type") == "view") & (F.col("event_id") < 1000)).select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vs"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ve"),
    )
    c = e.filter((F.col("event_type") == "click") & (F.col("event_id") < 1000)).select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cs"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("ce"),
    )
    from ..operators.joins import interval_overlap_join

    joined = interval_overlap_join(
        v,
        c,
        left_start="vs",
        left_end="ve",
        right_start="cs",
        right_end="ce",
        bucket_seconds=1800,
        left_keep=["view_id", "vs", "ve"],
        right_keep=["click_id", "cs", "ce"],
    )
    ep = lambda col: F.unix_micros(F.col(col).cast("timestamp"))
    return joined.select(
        "view_id",
        "click_id",
        (
            F.least(ep("ve"), ep("ce")) - F.greatest(ep("vs"), ep("cs"))
        ).alias("overlap_us"),
    )


@query(
    "x12_data_quality",
    oracle="""
WITH li AS (SELECT COUNT(*) AS n FROM lineitem),
checks AS (
    SELECT 'null_shipdate' AS check_name,
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'qty_range',
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'returnflag_enum',
           CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'discount_range',
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'price_under_90k',
           CAST(SUM(CASE WHEN l_extendedprice >= 90000 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
),
pk AS (
    SELECT 'pk_orderkey_linenumber' AS check_name,
           CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_violations
    FROM (
        SELECT COUNT(*) AS c FROM lineitem
        GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
    )
),
fk AS (
    SELECT 'fk_lineitem_orders' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_violations
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
)
SELECT c.check_name, c.n_violations, li.n AS n_checked,
       c.n_violations = 0 AS passed
FROM (SELECT * FROM checks UNION ALL SELECT * FROM pk UNION ALL SELECT * FROM fk) c
CROSS JOIN li
""",
)
def x12_data_quality(spark, sf_dir):
    """X12 data-quality expectations report (operators/quality.py): the
    lakehouse answer to the reference's DB-enforced constraints
    (ingest_ecollision_oracle_data.py:29-41) — NOT NULL, range, enum, and
    cross-column checks as conditional SUMs in ONE scan, plus PK
    uniqueness (one key groupBy) and FK orphan detection (shuffled-hash
    left-anti join — orders is fact-sized, so the broadcast default is
    explicitly declined).  All counts value-checked against DuckDB."""
    from ..operators import quality

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    col_checks = quality.column_expectations(
        li,
        {
            "null_shipdate": F.col("l_shipdate").isNull(),
            "qty_range": (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
            "returnflag_enum": ~F.col("l_returnflag").isin("A", "N", "R"),
            "discount_range": (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5),
            # deliberately tight expectation so the report's failing path
            # (n_violations > 0, passed=false) is exercised on clean data
            "price_under_90k": F.col("l_extendedprice") >= 90000,
        },
    )
    pk = quality.uniqueness_check(
        li, ["l_orderkey", "l_linenumber"], name="pk_orderkey_linenumber"
    )
    fk = quality.referential_check(
        li,
        od.select(F.col("o_orderkey").alias("l_orderkey")),
        ["l_orderkey"],
        name="fk_lineitem_orders",
        # orders is FACT-sized: the default forced broadcast of the
        # parent keys is the operator's own documented OOM hazard at
        # scale (15M keys at sf10, unbounded at 100 TB).  False routes
        # the anti-join through the hinted shuffled-hash path instead —
        # caught by the round-9 sf10 decade audit.
        broadcast_parent=False,
    )
    # referential/uniqueness n_checked = lineitem count on both sides
    return col_checks.unionByName(pk).unionByName(fk)


@query(
    "x13_salted_agg",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       MIN(l_shipdate) AS min_ship,
       MAX(l_shipdate) AS max_ship
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def x13_salted_agg(spark, sf_dir):
    """X13 skew-mitigated aggregation (operators/skew.salted_groupby): the
    two-phase groupBy(keys+salt) -> groupBy(keys) rewrite that bounds any
    hot key's reducer load at corpus scale, value-checked against the
    plain single-phase aggregation semantics (algebraic aggregates
    recombine exactly — the oracle IS the unsalted query).  Decimal
    accumulation + final DOUBLE projection per the cross-engine float
    convention."""
    from ..operators import skew

    li = _t(spark, sf_dir, "lineitem")
    out = skew.salted_groupby(
        li.withColumn("_q", F.col("l_quantity").cast("decimal(38,6)")),
        ["l_returnflag", "l_linestatus"],
        {
            "n_rows": ("count", "l_orderkey"),
            "sum_qty": ("sum", "_q"),
            "min_ship": ("min", "l_shipdate"),
            "max_ship": ("max", "l_shipdate"),
        },
        n_salt=16,
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        "min_ship",
        "max_ship",
    )


@query(
    "x1_dedup_longest_survivor",
    oracle=r"""
WITH fp AS (
    SELECT doc_id, n_chars,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
),
ranked AS (
    SELECT fingerprint, doc_id, n_chars,
           ROW_NUMBER() OVER (PARTITION BY fingerprint
                              ORDER BY n_chars DESC, doc_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies,
           MAX(n_chars) OVER (PARTITION BY fingerprint) AS max_n_chars
    FROM fp
)
SELECT fingerprint, doc_id AS keep_id,
       CAST(n_copies AS BIGINT) AS n_copies,
       max_n_chars
FROM ranked WHERE rn = 1
""",
)
def x1_dedup_longest_survivor(spark, sf_dir):
    """X1 survivorship POLICY dedup (operators/dedup.dedup_survivors):
    exact-duplicate groups keyed by normalized-text md5 keep the LONGEST
    member (min id on ties) — the keep-the-fullest-original policy — via
    one max_by-over-struct aggregation (no window, map-side combine).
    The DuckDB oracle derives the same survivor with a rank window,
    value-checking the policy semantics."""
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        ).alias("fingerprint"),
    )
    return dedup.dedup_survivors(
        keyed, ["fingerprint"], "doc_id", prefer_col="n_chars"
    )


@query(
    "x3_inverted_index",
    oracle=r"""
WITH tok AS (
    SELECT DISTINCT doc_id,
           unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
    FROM documents
),
posting AS (
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM tok WHERE token <> '' GROUP BY token
)
SELECT token, doc_freq, postings
FROM posting
WHERE doc_freq >= 50
""",
)
def x3_inverted_index(spark, sf_dir):
    """X3 inverted-index build (token -> sorted posting list): the search
    primitive under keyword retrieval and sparse (BM25-style) hybrid
    search.  explode -> per-(doc,token) distinct -> ONE token-keyed
    aggregation; posting lists assemble with sort_array(collect_list)
    inside the aggregate (map-side partial lists merge) — no window, no
    second shuffle.  Emitted as comma-joined strings (bounded here to
    common tokens, doc_freq >= 50) and value-checked against DuckDB's
    ordered string_agg.  At corpus scale the doc_freq floor becomes a
    stopword ceiling + posting-list sharding; the plan shape is
    unchanged."""
    from ..operators.text import normalize_text

    tok = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(normalize_text("text"), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .dropDuplicates(["doc_id", "token"])
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col("doc_id"))).cast("array<string>")
            ).alias("postings"),
        )
        .filter(F.col("doc_freq") >= 50)
    )


def _countmin_oracle() -> str:
    """DuckDB replay of the full count-min pipeline, generated from the
    same hash constants as operators/sketches.py (depth=4, width=256)."""
    P = dedup._P_PORT
    W = 256
    a_case = " ".join(
        f"WHEN {r} THEN {dedup._PORT_A[r]}" for r in range(4)
    )
    b_case = " ".join(
        f"WHEN {r} THEN {dedup._PORT_B[r]}" for r in range(4)
    )
    return rf"""
WITH occ AS (
    SELECT unnest(regexp_split_to_array(
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
    FROM documents
),
occ2 AS (SELECT token FROM occ WHERE token <> ''),
hx AS (
    SELECT token,
           CAST(list_sum([(strpos('0123456789abcdef', md5(token)[i]) - 1)
                          * CAST(power(16, 12 - i) AS BIGINT)
                          for i in generate_series(1, 12)]) % {P} AS BIGINT) AS x
    FROM occ2
),
buck AS (
    SELECT token, r,
           (((CASE r {a_case} END) * x + (CASE r {b_case} END)) % {P}) % {W}
               AS bucket
    FROM hx CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r)
),
sketch AS (
    SELECT r AS row, bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM buck GROUP BY r, bucket
),
true_counts AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count
    FROM occ2 GROUP BY token
),
probes AS (
    SELECT token, true_count FROM true_counts
    ORDER BY true_count DESC, token ASC LIMIT 20
),
pb AS (
    SELECT p.token, p.true_count, b.r, b.bucket
    FROM probes p JOIN (SELECT DISTINCT token, r, bucket FROM buck) b
      USING (token)
)
SELECT pb.token,
       MIN(s.n) AS est_count,
       pb.true_count
FROM pb JOIN sketch s ON s.row = pb.r AND s.bucket = pb.bucket
GROUP BY pb.token, pb.true_count
"""


@query("x11_countmin_freq", oracle=_countmin_oracle())
def x11_countmin_freq(spark, sf_dir):
    """X11 count-min sketch point-frequency estimation
    (operators/sketches.py): token occurrences folded into a 4x256
    counter table (posexplode -> ONE bounded aggregation, map-side
    combine caps the shuffle at sketch size), then the 20 most frequent
    tokens estimated via min-over-rows against a broadcast of the sketch.
    Portable hash family end to end, so the DuckDB oracle replays bucket
    assignment, counters, and estimates exactly; est >= true by
    construction (asserted in tests alongside the error bound)."""
    from ..operators import sketches
    from ..operators.text import normalize_text

    occ = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(normalize_text("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
    )
    # ONE extraction pass: per-token counts feed the sketch (weighted
    # fold — counters are additive, bit-identical), the probe head, and
    # the truth column; the barrier is vocabulary-sized, so neither
    # consumer re-tokenizes the corpus (round 11; the old shape scanned
    # and re-hashed every occurrence twice).  Barrier mode is
    # env-switchable for preemptible fleets (operators/barrier.py).
    from ..operators.barrier import extraction_barrier

    true_counts = extraction_barrier(
        occ.groupBy("token").agg(F.count(F.lit(1)).alias("true_count"))
    )
    sketch = sketches.countmin_build_weighted(
        true_counts, "token", "true_count", depth=4, width=256
    )
    probes = true_counts.orderBy(
        F.desc("true_count"), F.asc("token")
    ).limit(20)
    est = sketches.countmin_estimate(
        sketch, probes.select("token"), depth=4, width=256
    )
    return est.join(F.broadcast(probes), "token").select(
        "token", "est_count", "true_count"
    )


@query(
    "x3_bm25_topk",
    oracle=r"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
    FROM documents
),
toks2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks2 GROUP BY doc_id),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl
    FROM dl
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks2 WHERE token IN ('spark', 'shuffle', 'vector')
    GROUP BY doc_id, token
),
dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY token),
scored AS (
    SELECT tf.doc_id,
           ln(1.0 + (stats.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS term_score
    FROM tf
    JOIN dfreq USING (token)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats
)
SELECT doc_id,
       round(SUM(term_score), 6) AS bm25,
       CAST(COUNT(*) AS BIGINT) AS n_matched_terms
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
""",
)
def x3_bm25_topk(spark, sf_dir):
    """X3 BM25 keyword retrieval (operators/text.bm25_scores): Lucene-form
    idf + length-normalized tf, top-10 docs for a 3-term query.  Integer
    aggregates (tf, df, dl) until the final per-doc score (|query| scalar
    doubles summed, rounded 6 dp), so the ranking is engine-portable and
    the DuckDB oracle replays it exactly.  Query-term filter runs BEFORE
    the tf groupBy (full vocabulary never shuffles); df/avgdl broadcast;
    the top-k is TakeOrderedAndProject — no global sort."""
    return text.bm25_scores(
        _t(spark, sf_dir, "documents"),
        ["spark", "shuffle", "vector"],
        k=10,
    )


@query(
    "x2_hybrid_rrf",
    oracle=r"""
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS norm
    FROM embeddings
),
vec AS (
    SELECT c.vec_id AS doc_id,
           round(list_dot_product(q.v, c.v) / (q.norm * c.norm), 6) AS cosine
    FROM base q JOIN base c ON q.vec_id = 0 AND c.vec_id != 0
),
vecr AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS BIGINT)
               AS vec_rank
    FROM vec ORDER BY cosine DESC, doc_id ASC LIMIT 50
),
toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
    FROM documents
),
toks2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks2 GROUP BY doc_id),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl
    FROM dl
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks2 WHERE token IN ('spark', 'shuffle', 'vector')
    GROUP BY doc_id, token
),
dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY token),
kw AS (
    SELECT tf.doc_id,
           round(SUM(ln(1.0 + (stats.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5))
                     * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))), 6)
               AS bm25
    FROM tf JOIN dfreq USING (token)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
),
kwr AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT)
               AS kw_rank
    FROM kw ORDER BY bm25 DESC, doc_id ASC LIMIT 50
),
fused AS (
    SELECT COALESCE(v.doc_id, k.doc_id) AS doc_id,
           COALESCE(v.vec_rank, 0) AS vec_rank,
           COALESCE(k.kw_rank, 0) AS kw_rank,
           round(CASE WHEN v.vec_rank IS NULL THEN 0.0
                      ELSE 1.0 / (60 + v.vec_rank) END
                 + CASE WHEN k.kw_rank IS NULL THEN 0.0
                        ELSE 1.0 / (60 + k.kw_rank) END, 6) AS rrf
    FROM vecr v FULL OUTER JOIN kwr k ON v.doc_id = k.doc_id
)
SELECT doc_id, rrf, vec_rank, kw_rank
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 20
""",
)
def x2_hybrid_rrf(spark, sf_dir):
    """X2 hybrid retrieval via reciprocal-rank fusion: the dense side
    (exact cosine top-50 for query vector 0) and the sparse side (BM25
    top-50 for a 3-term query) full-outer-joined on doc id, fused with
    rrf = sum(1 / (60 + rank)) — the standard hybrid-search combiner.
    Absent-side ranks carry a 0 sentinel (and contribute 0), keeping the
    output NULL-free for the driver canon.  Both rank relations are
    <= 50 rows post-top-k, so their rank windows are bounded-input by
    construction; the fusion join is tiny.  Fully oracle-checked."""
    from pyspark.sql.window import Window

    vec = similarity.brute_force_topk(
        _t(spark, sf_dir, "embeddings"), k=50, n_queries=1
    ).select(F.col("cand_id").alias("doc_id"), F.col("rank").cast("long").alias("vec_rank"))
    kw = text.bm25_scores(
        _t(spark, sf_dir, "documents"), ["spark", "shuffle", "vector"], k=50
    )
    kwr = kw.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("long")
        .alias("kw_rank"),
    )
    fused = (
        vec.join(kwr, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.when(F.col("vec_rank").isNull(), 0.0).otherwise(
                    1.0 / (60 + F.col("vec_rank"))
                )
                + F.when(F.col("kw_rank").isNull(), 0.0).otherwise(
                    1.0 / (60 + F.col("kw_rank"))
                ),
                6,
            ).alias("rrf"),
            F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"),
            F.coalesce("kw_rank", F.lit(0)).alias("kw_rank"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)


@query(
    "x10_snapshot_diff",
    oracle="""
WITH old AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderkey % 7 <> 0
),
new AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
           o_totalprice
    FROM orders WHERE o_orderkey % 3 <> 0
)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'I'
            WHEN new.o_orderkey IS NULL THEN 'D'
            WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
                 OR old.o_totalprice IS DISTINCT FROM new.o_totalprice THEN 'U'
       END AS change_type
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
WHERE (old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
       OR old.o_totalprice IS DISTINCT FROM new.o_totalprice)
""",
)
def x10_snapshot_diff(spark, sf_dir):
    """X10 snapshot diff (operators/cdc.snapshot_diff): derive the change
    feed between two table versions — deterministically mutated copies of
    orders (mod-filters simulate deletes/inserts, a status rewrite
    simulates updates) — via ONE full-outer key join with null-safe
    per-column comparison.  The inverse of x10_cdc_merge's MERGE apply;
    together they round-trip snapshot-based CDC.  Fully oracle-checked."""
    from ..operators import cdc

    od = _t(spark, sf_dir, "orders")
    old = od.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = od.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    return cdc.snapshot_diff(
        old, new, "o_orderkey", ["o_orderstatus", "o_totalprice"]
    )


@query(
    "x3_char_entropy",
    oracle=r"""
WITH chars AS (
    SELECT doc_id,
           unnest([text[i] for i in generate_series(1, length(text))]) AS ch
    FROM documents WHERE length(text) > 0
),
freq AS (
    SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS n
    FROM chars GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(SUM(n) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       round(ln(CAST(SUM(n) AS DOUBLE))
             - SUM(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)))
               / CAST(SUM(n) AS DOUBLE), 6) AS entropy
FROM freq
GROUP BY doc_id
""",
)
def x3_char_entropy(spark, sf_dir):
    """X3 character-entropy quality signal: Shannon entropy of the per-doc
    character distribution — low entropy flags repetitive/degenerate text,
    abnormally high flags random noise; the statistical complement of the
    n-gram repetition signals (x3_repetition_signals).

    Shuffle shape: the (doc, char) aggregation's map-side combine caps the
    shuffle at |alphabet| rows per doc per partition (~100, not text
    length); the per-doc reduction uses the algebraic identity
    H = ln(T) - (sum n*ln n)/T — plain sums, so it is a second hash
    aggregate with NO window and NO sort (the round-3 version computed T
    via a doc_id window, adding a sort pass the identity makes
    unnecessary).  The oracle mirrors the same expression, so the 6-dp
    rounding guard covers only summation-order noise."""
    # split('') is one pass over the string; the per-position substring
    # form re-scans the prefix for each code-point index (quadratic in doc
    # length).  Identical output for the length>0 rows this query keeps.
    chars = (
        _t(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
    )
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    nd = F.col("n").cast("double")
    agg = freq.groupBy("doc_id").agg(
        F.sum("n").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(nd * F.log(nd)).alias("_s"),
    )
    total = F.col("n_chars").cast("double")
    return agg.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        F.round(F.log(total) - F.col("_s") / total, 6).alias("entropy"),
    )


@query(
    "x8_kmeans_assign",
    oracle="""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (
    SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 4
),
d AS (
    SELECT e.vec_id, cent.c_id,
           list_sum([(e.v[i] - cent.cv[i]) * (e.v[i] - cent.cv[i])
                     for i in generate_series(1, len(e.v))]) AS dist
    FROM e CROSS JOIN cent
),
ranked AS (
    SELECT vec_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, c_id ASC) AS rn
    FROM d
)
SELECT vec_id, CAST(c_id AS INT) AS cluster
FROM ranked WHERE rn = 1
""",
)
def x8_kmeans_assign(spark, sf_dir):
    """X8 k-means ASSIGNMENT step with pinned centroids (the first 4
    vectors — the same deterministic lowest-id seeding kmeans_fit uses):
    argmin squared-L2 via a sequential double fold per centroid, ties to
    the lowest cluster index.  Both engines fold the 64 dims left-to-right
    in double precision, so the distances are bit-identical and the
    assignment is fully oracle-checked — the exact math the iterative
    Lloyd's loop (x8_kmeans_clusters, rows-only) applies every round.
    Centroids enter the Spark plan as literal arrays (broadcast with the
    task binary); the corpus never shuffles."""
    from ..operators import clustering

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = [v for _, v in _embedding_head(spark, sf_dir, 4)]
    # deliberately the inline-fold engine (not _auto): this query IS the
    # oracle-checked witness for the fold math itself, so N is irrelevant
    # to the engine choice by design
    return clustering.assign_clusters(emb, "v", seeds).select("vec_id", "cluster")


@query(
    "x2_lsh_portable",
    oracle="""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sig AS (
    SELECT vec_id,
           CAST(list_sum([CASE WHEN
                    list_sum([v[i] * ((((((b * 1000003 + (i - 1) * 8191 + 59)
                                          % 2147483647)
                                         * ((b * 1000003 + (i - 1) * 8191 + 59)
                                            % 2147483647)) % 2147483647
                                       + ((b * 1000003 + (i - 1) * 8191 + 59)
                                          % 2147483647) * 48271)
                                      % 2147483647) % 7 - 3)
                              for i in generate_series(1, len(v))]) > 0
                    THEN CAST(power(2, b) AS BIGINT) ELSE 0 END
                 for b in generate_series(0, 7)]) AS BIGINT) AS bucket
    FROM e
),
n AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM e),
q AS (
    SELECT e.vec_id AS q_id, e.v AS qv, n.nrm AS qnorm, s.bucket AS qsig
    FROM e JOIN n USING (vec_id) JOIN sig s USING (vec_id)
    WHERE e.vec_id < 20
),
probes AS (
    SELECT q_id, qv, qnorm, xor(qsig, m) AS bucket
    FROM q CROSS JOIN (
        SELECT CAST(unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS BIGINT) AS m)
),
c AS (
    SELECT e.vec_id AS cand_id, e.v AS cv, n.nrm AS cnorm, s.bucket
    FROM e JOIN n USING (vec_id) JOIN sig s USING (vec_id)
),
scored AS (
    SELECT DISTINCT p.q_id, c.cand_id,
           round(list_dot_product(p.qv, c.cv) / (p.qnorm * c.cnorm), 6) AS cosine
    FROM probes p JOIN c USING (bucket)
    WHERE p.q_id != c.cand_id
),
ranked AS (
    SELECT q_id, cand_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
    FROM scored
)
SELECT q_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def x2_lsh_portable(spark, sf_dir):
    """X2 hyperplane-LSH ANN with PORTABLE bucket assignment
    (operators/similarity.portable_hyperplane_signatures_df): integer
    plane components and sequential double folds make the projections
    bit-identical across engines, so the DuckDB oracle replays bucketing,
    single-bit multiprobe, candidate generation, and exact-cosine ranking
    end to end — the oracle-verified witness for the LSH ANN pipeline
    shape; x2_lsh_bucketed_ann keeps the xxhash64 production planes with
    a rows-only check."""
    return similarity.lsh_bucketed_ann(
        _t(spark, sf_dir, "embeddings"),
        k=5,
        n_queries=20,
        n_bits=8,
        multiprobe=1,
        signature_fn=similarity.portable_hyperplane_signatures_df,
    )


#: last invocation's cached survivors relation (see x9_curation_v2)
_CURATION_V2_CACHE: list = []


@query(
    "x9_curation_v2",
    oracle=r"""
WITH fp AS (
    SELECT doc_id, lang, n_chars,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
),
ranked AS (
    SELECT doc_id, lang, n_chars,
           ROW_NUMBER() OVER (PARTITION BY fingerprint
                              ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM fp
),
survivors AS (SELECT doc_id, lang FROM ranked WHERE rn = 1),
counts AS (SELECT lang AS dom, COUNT(*) AS n_docs FROM survivors GROUP BY lang),
tot AS (
    SELECT SUM(sqrt(CAST(n_docs AS DOUBLE))) AS denom, SUM(n_docs) AS n_total
    FROM counts
),
rates AS (
    SELECT dom,
           round(sqrt(CAST(n_docs AS DOUBLE)) / denom
                 * CAST(n_total AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
               AS target_rate
    FROM counts CROSS JOIN tot
)
SELECT s.doc_id,
       s.lang AS domain,
       CAST((CAST(round(r.target_rate * 1000) AS BIGINT) // 1000)
            + CASE WHEN ((s.doc_id % 2147483647) * 2654435761) % 1000
                        < CAST(round(r.target_rate * 1000) AS BIGINT) % 1000
                   THEN 1 ELSE 0 END AS INT) AS n_repeats,
       CASE WHEN ((s.doc_id % 2147483647) * 2654435761) % 1000 < 800 THEN 'train'
            WHEN ((s.doc_id % 2147483647) * 2654435761) % 1000 < 900 THEN 'val'
            ELSE 'test' END AS split
FROM survivors s JOIN rates r ON s.lang = r.dom
""",
)
def x9_curation_v2(spark, sf_dir):
    """X9 curation pipeline v2 — the round-3 operators composed into ONE
    chained plan: survivorship dedup (keep-longest per normalized-text
    fingerprint) -> temperature-scaled domain mixture over the SURVIVORS
    -> deterministic train/val/test split.  Shuffle budget: the dedup
    groupBy (fingerprint) + the tiny domain count; the mixture rates and
    split assignment are broadcast/narrow.  Every stage is the
    oracle-checked operator; the chained oracle re-derives the whole DAG
    in SQL CTEs, so stage INTERACTIONS (dedup feeding the mixture's
    denominators) are value-checked too, not just each stage alone."""
    from ..operators import sampling

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        ).alias("fingerprint"),
    )
    # survivorship with the lang CARRIED through the aggregation (max_by
    # over a struct payload) — no re-join of survivors back to the corpus,
    # which would cost two extra doc_id shuffles
    survivors = (
        keyed.groupBy("fingerprint")
        .agg(
            F.max_by(
                F.struct(F.col("doc_id"), F.col("lang")),
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_tie")),
            ).alias("_kept")
        )
        .select(F.col("_kept.doc_id").alias("doc_id"), F.col("_kept.lang").alias("lang"))
    )
    # the mixture consumes survivors twice (domain counts + the final keyed
    # join) and Catalyst re-plans the subtree per consumer with divergent
    # column pruning, defeating exchange reuse — persist the (deduplicated,
    # 2-column) relation so the fingerprint shuffle runs ONCE.  Same call a
    # production pipeline makes before fanning a curated corpus into
    # multiple consumers.  The cache must outlive this function (the caller
    # materializes the returned plan), so release the PREVIOUS invocation's
    # cache instead — long-lived sessions (bench/verify warm each query
    # several times) hold at most one curation cache, not one per call.
    while _CURATION_V2_CACHE:
        _CURATION_V2_CACHE.pop().unpersist()
    survivors = survivors.persist()
    _CURATION_V2_CACHE.append(survivors)
    mixed = sampling.domain_mixture(survivors, "lang", alpha=0.5)
    split = sampling.hash_split(
        mixed.select("doc_id", "domain", "n_repeats"), "doc_id"
    )
    return split.select("doc_id", "domain", "n_repeats", "split")


@query(
    "x12_column_profile",
    oracle="""
SELECT 'o_custkey' AS column_name,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
UNION ALL
SELECT 'o_orderstatus',
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderpriority',
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderdate',
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM orders
""",
)
def x12_column_profile(spark, sf_dir):
    """X12 per-column data profile (null count, exact distinct count, row
    count) — the data-level twin of the reference's catalog reflection
    (helper_db_operation.py:33-39 reads column NULLability from metadata;
    this measures it).  ONE aggregation pass: count-distincts for several
    columns in a single agg (Spark plans them via a shared expand — one
    scan, not one per column), then unpivoted to (column, stats) rows.
    Exact distincts are for profile parity; at 100 TB swap in
    approx_count_distinct (the x3_profile_sketch path) per column."""
    od = _t(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]
    aggs = []
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"n_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).cast("long").alias(f"d_{c}"))
    row = od.agg(F.count(F.lit(1)).alias("_rows"), *aggs)
    stacked = row.select(
        F.expr(
            "stack({n}, {args}) AS (column_name, n_nulls, n_distinct)".format(
                n=len(cols),
                args=", ".join(f"'{c}', n_{c}, d_{c}" for c in cols),
            )
        ),
        F.col("_rows").alias("n_rows"),
    )
    return stacked


@query(
    "x5_stream_curation_replay",
    oracle=rf"""
WITH t AS (
    SELECT doc_id, text, lang,
           regexp_split_to_array(trim(text), '\s+') AS toks,
           len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
           length(text) AS n_chars
    FROM documents
),
r AS (
    SELECT text, lang,
           round(0.4 * (len(list_filter(toks, x -> list_contains({_STOP_LIST}, x)))::DOUBLE
                        / len(toks)::DOUBLE)
                 + 0.3 * (1.0 - n_punct::DOUBLE / n_chars::DOUBLE)
                 + 0.3 * least(n_chars::DOUBLE / 500.0, 1.0), 6) AS q
    FROM t
)
SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       lang
FROM r
WHERE q >= 0.3 AND lang = 'en'
""",
)
def x5_stream_curation_replay(spark, sf_dir):
    """X5 streaming witness that actually RUNS the writeStream path: the
    document-curation stream (streaming/docs_stream.py — quality gate ->
    language gate -> stateful fingerprint dedup) replayed over the fixture
    corpus with ``trigger(availableNow=True)`` into a checkpointed parquet
    sink, then the sink read back.  availableNow drains the source and
    stops, so the result is the stream's exact batch-equivalent output —
    the replay-parity property tests/test_streaming.py pins, here surfaced
    to the driver's DuckDB oracle.  Output is projected to the
    (fingerprint, lang) pairs, which are invariant to WHICH duplicate the
    stateful dedup keeps (doc_id would be arrival-order-dependent); lang is
    constant 'en' by the gate, fingerprints are unique by the dedup.

    Scale: the streaming state is one md5 per unique doc (see module
    docstring); the sink is append-only parquet — the same shape that runs
    continuously on a real bucket listing."""
    import shutil

    from ..streaming import docs_stream

    # a long-lived session keeps one call's sink/checkpoint dirs, not all
    dest, ckpt, srcdir = _replace_tmpdirs(
        "x5_stream_curation_replay",
        "stream_replay_sink_", "stream_replay_ckpt_", "stream_replay_src_",
    )
    # the file stream source lists a DIRECTORY (arrival simulation); stage
    # the fixture file into one
    shutil.copy(f"{sf_dir}/documents.parquet", f"{srcdir}/documents.parquet")

    src = docs_stream.read_documents_stream(spark, srcdir)
    q = docs_stream.run_curation_to_parquet(src, dest, ckpt)
    q.awaitTermination()
    return read_parquet(spark, dest).select("fingerprint", "lang")


@query(
    "x2_pq_encode",
    oracle="""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (
    SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 4
),
sub AS (SELECT unnest(generate_series(0, 3)) AS j),
d AS (
    SELECT e.vec_id, sub.j, cent.c_id,
           list_sum([(e.v[sub.j*16 + i] - cent.cv[sub.j*16 + i])
                     * (e.v[sub.j*16 + i] - cent.cv[sub.j*16 + i])
                     for i in generate_series(1, 16)]) AS dist
    FROM e CROSS JOIN sub CROSS JOIN cent
),
ranked AS (
    SELECT vec_id, j, c_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j
                              ORDER BY dist ASC, c_id ASC) AS rn
    FROM d
)
SELECT vec_id, CAST(j AS INT) AS subspace, CAST(c_id AS INT) AS code
FROM ranked WHERE rn = 1
""",
)
def x2_pq_encode(spark, sf_dir):
    """X2 product-quantization encoding (operators/clustering.pq_encode):
    each 64-dim embedding split into 4x16-dim subvectors, each assigned to
    its nearest codeword — the PQ compression step of IVF-PQ ANN, which is
    how a 100-TB embedding corpus serves from memory (m codes/vector
    instead of dim floats).  Codebooks here are the pinned first-4-vector
    subvectors (the deterministic seeding x8_kmeans_assign uses; a real
    deployment trains them with kmeans_fit per subspace).  Same
    bit-identical left-to-right double fold as the k-means assignment, so
    the encoding is fully oracle-checked.  Plan: one corpus scan, codebook
    literals broadcast, a plan-level union over subspaces — zero
    shuffles."""
    from ..operators import clustering

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = [v for _, v in _embedding_head(spark, sf_dir, 4)]
    codebooks = [[s[j * 16 : (j + 1) * 16] for s in seeds] for j in range(4)]
    return clustering.pq_encode(emb, "vec_id", "v", codebooks, sub_dim=16).select(
        F.col("id").alias("vec_id"), "subspace", "code"
    )


@query(
    "x3_zipf_slope",
    oracle=r"""
WITH toks AS (
    SELECT unnest(regexp_split_to_array(
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
    FROM documents
),
counts AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks WHERE token != '' GROUP BY token
),
top AS (
    SELECT token, n FROM counts ORDER BY n DESC, token ASC LIMIT 1000
),
ranked AS (
    SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rank FROM top
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
           AS zipf_slope
FROM ranked
""",
)
def x3_zipf_slope(spark, sf_dir):
    """X3 Zipf-slope corpus statistic: log-log regression of term frequency
    against frequency rank over the top-1000 vocabulary head — natural
    corpora fit slope ~ -1; a far-off slope flags synthetic/templated or
    boilerplate-heavy data before it poisons a training mix.  Scale shape:
    the vocabulary aggregation is the only data-sized shuffle; the head is
    a TakeOrderedAndProject (top-1000), so the ranking window runs over a
    BOUNDED 1000-row single partition (allowlisted in the plan lint) and
    regr_slope reduces it to one row."""
    toks = (
        _t(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(
                    F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                    r"\s+",
                )
            ).alias("token")
        )
        .filter(F.col("token") != "")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(1000)
    from pyspark.sql.window import Window

    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("token"))),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(
            F.expr("regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE)))"), 6
        ).alias("zipf_slope"),
    )


@query(
    "x12_drift_psi",
    oracle="""
WITH binned AS (
    SELECT CAST(least(floor(CAST(o_totalprice AS DOUBLE) / 50000.0), 9) AS INT)
               AS bin,
           CASE WHEN EXTRACT(YEAR FROM o_orderdate) < 1996 THEN 1 ELSE 0 END
               AS is_ref
    FROM orders
),
per_bin AS (
    SELECT bin,
           CAST(SUM(is_ref) AS BIGINT) AS n_ref,
           CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
    FROM binned GROUP BY bin
),
tot AS (
    SELECT CAST(SUM(n_ref) AS DOUBLE) AS t_ref, CAST(SUM(n_cur) AS DOUBLE) AS t_cur
    FROM per_bin
)
SELECT b.bin, b.n_ref, b.n_cur,
       round((CAST(b.n_cur + 1 AS DOUBLE) / (t.t_cur + 10)
              - CAST(b.n_ref + 1 AS DOUBLE) / (t.t_ref + 10))
             * ln((CAST(b.n_cur + 1 AS DOUBLE) / (t.t_cur + 10))
                  / (CAST(b.n_ref + 1 AS DOUBLE) / (t.t_ref + 10))), 6)
           AS psi_term
FROM per_bin b CROSS JOIN tot t
""",
)
def x12_drift_psi(spark, sf_dir):
    """X12 population-stability-index drift report: the distribution of
    order value before/after a time boundary, binned into fixed 50k-wide
    buckets, with the per-bin PSI contribution (Laplace-smoothed so empty
    bins stay finite) — the monitoring primitive that catches a training
    corpus drifting between snapshots before a model does.  Scale shape:
    ONE conditional-aggregation scan to 10 bins (map-side combine); bin
    totals come from a global window over the ALREADY-AGGREGATED 10-row
    relation (bounded by the bin count at any data size, allowlisted in
    the plan lint) — a second aggregate would re-plan the subtree and
    re-scan the fact table; total PSI is the SUM over psi_term
    downstream."""
    from pyspark.sql.window import Window

    binned = _t(spark, sf_dir, "orders").select(
        F.least(
            F.floor(F.col("o_totalprice").cast("double") / 50000.0), F.lit(9)
        )
        .cast("int")
        .alias("bin"),
        F.when(F.year("o_orderdate") < 1996, 1).otherwise(0).alias("is_ref"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("is_ref").cast("long").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
    )
    w = Window.partitionBy()
    tot = per_bin.select(
        "bin",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(w).cast("double").alias("t_ref"),
        F.sum("n_cur").over(w).cast("double").alias("t_cur"),
    )
    p_cur = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + 10)
    p_ref = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + 10)
    return tot.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


@query(
    "s18_jsonl_roundtrip",
    oracle="""
SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars FROM documents
""",
)
def s18_jsonl_roundtrip(spark, sf_dir):
    """S-surface format-fidelity witness: the documents relation written to
    JSON-lines and read back through Spark's JSON source with an explicit
    schema — unicode escaping, embedded newlines and quoting must survive
    the round trip bit-for-bit (the oracle reads the ORIGINAL parquet, so
    any mangling hash-mismatches).  JSONL is the interchange format most
    LLM-corpus tooling speaks; at scale the same two calls target an object
    store and the write is one narrow pass (no shuffle), partition-parallel
    on both sides."""
    (out,) = _replace_tmpdirs("s18_jsonl_roundtrip", "jsonl_roundtrip_")

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    docs.write.mode("overwrite").json(out)
    schema = "doc_id long, text string, lang string"
    back = spark.read.schema(schema).json(out)
    return back.select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


@query(
    "x3_readability",
    oracle=r"""
WITH t AS (
    SELECT doc_id,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
           greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS n_words,
           greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS n_syllables
    FROM documents WHERE length(text) > 0
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
           AS flesch
FROM t
""",
)
def x3_readability(spark, sf_dir):
    """X3 Flesch reading-ease score from regex counts (sentences = [.!?]
    runs, words = whitespace tokens, syllables ~ vowel groups) — the
    classic readability gate a curation mix applies per audience tier;
    pure narrow projections, no shuffle at all.  All three counts floored
    at 1 so degenerate strings stay finite; identical regexes on the
    oracle side make the score fully hash-checked."""
    t = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1),
    )
    n_words = F.greatest(
        F.size(F.split(F.trim(F.col("text")), r"\s+")), F.lit(1)
    )
    n_syll = F.greatest(
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), F.lit(0))
        ),
        F.lit(1),
    )
    return t.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
            - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double")),
            6,
        ).alias("flesch"),
    )


@query(
    "x1_semdedup",
    oracle="""
WITH e AS (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (
    SELECT id AS c_id, v AS cv FROM e
    WHERE id < (SELECT LEAST(GREATEST(16, COUNT(*) // 125), COUNT(*))
                FROM embeddings)
),
d AS (
    SELECT e.id, cent.c_id,
           list_sum([(e.v[i] - cent.cv[i]) * (e.v[i] - cent.cv[i])
                     for i in generate_series(1, len(e.v))]) AS dist
    FROM e CROSS JOIN cent
),
assign AS (
    SELECT id, CAST(c_id AS INT) AS cluster FROM (
        SELECT id, c_id,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, c_id ASC)
                   AS rn
        FROM d
    ) WHERE rn = 1
),
base AS (
    SELECT e.id, e.v, sqrt(list_dot_product(e.v, e.v)) AS nrm, a.cluster
    FROM e JOIN assign a USING (id)
),
dupb AS (
    SELECT DISTINCT b.id
    FROM base a JOIN base b ON a.cluster = b.cluster AND a.id < b.id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3
)
SELECT id AS vec_id, cluster
FROM base WHERE id NOT IN (SELECT id FROM dupb)
""",
)
def x1_semdedup(spark, sf_dir):
    """X1 SemDeDup semantic deduplication (operators/dedup.semantic_dedup):
    nearest-centroid clustering bounds the pairwise-cosine join to within
    clusters, then the higher-id member of every >= threshold pair is
    discarded — the embedding-space dedup a 100-TB pretraining corpus gets
    where exact/MinHash text dedup cannot see paraphrases.  Centroid count
    is ADAPTIVE: k = clamp(N/125, 16, N) from parquet-footer row counts
    (catalog.table_row_count — zero Spark jobs at plan construction), so
    the expected cluster size stays ~constant and the within-cluster pair
    space sum(|c|^2) ~ N·125 grows LINEARLY with the corpus.  The fixed
    k=16 this replaced measured 53x per 10x data at the sf1 decade
    (docs/SCALING.md round 8) — the quadratic tail the SemDeDup recipe
    exists to avoid; the oracle computes the same k from COUNT(*), so
    both sides stay bit-identical at every scale.  Seeds are the k
    lowest-id vectors (the x8 seeding); for k > 32 the assignment runs as
    a matmul-pruned Arrow numpy kernel whose winners are decided by the
    fold's exact accumulation order (operators/clustering
    .assign_clusters_batched; the literal fold assign_clusters is its
    JVM reference), and the within-cluster pair scoring runs as a
    groupBy(cluster).applyInPandas kernel whose keep/discard decision
    stays Spark-side (semantic_dedup's default pair_kernel; the fold
    join is the parity anchor).  Fixture threshold 0.3 (production ~0.95: the
    synthetic embeddings are near-orthogonal, so 0.95 would be vacuous
    here).  Norms once per vector; one cluster-keyed shuffle + one
    anti-join."""
    from ..catalog import table_row_count
    from ..operators import dedup as dedup_ops

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = table_row_count(sf_dir, "embeddings")
    k = min(max(16, n // 125), n)
    seeds = [v for _, v in _embedding_head(spark, sf_dir, k)]
    return dedup_ops.semantic_dedup(
        emb, seeds, id_col="vec_id", vec_col="v", threshold=0.3,
        row_count_hint=n,
    ).select(F.col("id").alias("vec_id"), "cluster")


@query(
    "x11_hll_accuracy",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       TRUE AS within_tolerance
FROM events GROUP BY event_type
""",
)
def x11_hll_accuracy(spark, sf_dir):
    """X11 HLL accuracy audit — the oracle-checkable witness for the
    rows-only x11_hll_incremental path: the SAME per-batch sketch states,
    merged with hll_union_agg, have their estimates compared against the
    exact per-group distinct in one plan, emitting (event_type,
    exact_distinct, within_tolerance).  Exact values hash-check against
    the oracle; the booleans assert the lgK=12 sketch error (rsd ~1.6%,
    10% guard).  Same pattern as x3_profile_sketch: the sketch VALUE is
    implementation-defined, its ACCURACY is not."""
    from ..operators import incremental

    e = _t(spark, sf_dir, "events")
    days = [
        incremental.hll_state(
            e.filter(F.col("event_id") % 3 == i), ["event_type"], "user_id"
        )
        for i in range(3)
    ]
    approx = incremental.finalize_hll_state(incremental.merge_hll_states(*days))
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return exact.join(F.broadcast(approx), "event_type").select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 0.10 * F.col("exact_distinct")
        ).alias("within_tolerance"),
    )


@query(
    "x6_curriculum_buckets",
    oracle=rf"""
WITH t AS (
    SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS toks,
           len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
           length(text) AS n_chars
    FROM documents
),
r AS (
    SELECT doc_id,
           round(0.4 * (len(list_filter(toks, x -> list_contains({_STOP_LIST}, x)))::DOUBLE
                        / len(toks)::DOUBLE)
                 + 0.3 * (1.0 - n_punct::DOUBLE / n_chars::DOUBLE)
                 + 0.3 * least(n_chars::DOUBLE / 500.0, 1.0), 6) AS q
    FROM t
),
th AS (
    SELECT round(percentile_cont(0.25) WITHIN GROUP (ORDER BY q), 6) AS t1,
           round(percentile_cont(0.50) WITHIN GROUP (ORDER BY q), 6) AS t2,
           round(percentile_cont(0.75) WITHIN GROUP (ORDER BY q), 6) AS t3
    FROM r
)
SELECT doc_id, q AS quality_score,
       CAST(1 + CAST(q > t1 AS INT) + CAST(q > t2 AS INT) + CAST(q > t3 AS INT)
            AS INT) AS phase
FROM r CROSS JOIN th
""",
)
def x6_curriculum_buckets(spark, sf_dir):
    """X6 curriculum-learning phase assignment: docs bucketed into quality
    QUARTILES — phase 1 (hardest/noisiest) through 4 (cleanest) — the
    easy-to-hard data ordering curriculum training consumes.  NO global
    sort/NTILE: three exact percentile thresholds come from ONE scalar
    aggregate and broadcast into a narrow bucketing projection (the same
    shape as x3_quality_threshold_filter), so the corpus never shuffles.
    Thresholds and scores are both rounded to 6dp before comparison, so
    engine ulp differences cannot flip a boundary doc."""
    scored = _t(spark, sf_dir, "documents").select(
        "doc_id", text.quality_score_expr("text").alias("q")
    )
    th = scored.agg(
        *[
            F.round(F.expr(f"percentile(q, {p})"), 6).alias(f"t{i}")
            for i, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )
    bucket = (
        F.lit(1)
        + (F.col("q") > F.col("t1")).cast("int")
        + (F.col("q") > F.col("t2")).cast("int")
        + (F.col("q") > F.col("t3")).cast("int")
    )
    return scored.crossJoin(F.broadcast(th)).select(
        "doc_id",
        F.col("q").alias("quality_score"),
        bucket.cast("int").alias("phase"),
    )


