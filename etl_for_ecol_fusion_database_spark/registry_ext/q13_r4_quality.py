"""round-4 additions (Gopher, DSIR, PQ-ADC, IVF-PQ, profiling) — split from the single-module registry_ext (round 6).

Registration order is load-bearing (the __spark_entry__ witness rotation
samples in registration order): registry_ext/__init__.py imports the
block modules in the original file's order and entries within each module
keep their original sequence — append, don't reorder.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

from ..catalog import load_table, local_relation, read_parquet  # noqa: F401
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
    _rt_tmpdir,
    _t,
    _with_synthetic_near_dups,
)

# ===========================================================================
# round-4 additions: Gopher quality rules, DSIR importance weights,
# PQ asymmetric-distance search, incremental SCD2 apply
# ===========================================================================


@query(
    "x3_gopher_rules",
    oracle=rf"""
WITH t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS toks,
           length(regexp_replace(text, '\s', '', 'g')) AS n_nonws
    FROM documents
),
r AS (
    SELECT doc_id,
           len(toks) AS n_words,
           n_nonws::DOUBLE / len(toks)::DOUBLE AS mwl,
           len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
               / len(toks)::DOUBLE AS alpha_ratio,
           len(regexp_extract_all(text, '(#|\.\.\.)'))::DOUBLE
               / len(toks)::DOUBLE AS symbol_ratio,
           len(list_filter(toks, x -> list_contains({_STOP_LIST}, x))) AS stop_hits
    FROM t
)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       round(mwl, 6) AS mean_word_len,
       round(alpha_ratio, 6) AS alpha_word_ratio,
       round(symbol_ratio, 6) AS symbol_ratio,
       CAST(stop_hits AS INT) AS stop_hits,
       (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
       (mwl >= 3.0 AND mwl <= 10.0) AS rule_mean_word_len,
       (symbol_ratio <= 0.1) AS rule_symbol_ratio,
       (alpha_ratio >= 0.8) AS rule_alpha_words,
       (stop_hits >= 2) AS rule_stopwords,
       ((n_words >= 50 AND n_words <= 100000) AND (mwl >= 3.0 AND mwl <= 10.0)
        AND (symbol_ratio <= 0.1) AND (alpha_ratio >= 0.8)
        AND (stop_hits >= 2)) AS keep
FROM r
""",
)
def x3_gopher_rules(spark, sf_dir):
    """X3 Gopher quality-rule report (operators/text.gopher_rules): the
    Rae-et-al. pretraining heuristics — word-count bounds, mean word
    length, symbol ratio, alphabetic-word ratio, stopword presence — each
    emitted as a signal + boolean so a curation pipeline can re-weight
    rules without recomputing.  One narrow zero-shuffle projection; every
    signal is a codegen built-in."""
    return text.gopher_rules(_t(spark, sf_dir, "documents"))


@query(
    "x3_dsir_logweights",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, lang,
           regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS t
    FROM documents
),
bg AS (
    SELECT doc_id, (lang = 'en') AS is_tgt,
           unnest([t[i] || ' ' || t[i+1]
                   for i in generate_series(1, len(t) - 1)]) AS gram
    FROM toks
),
bk AS (
    SELECT doc_id, is_tgt,
           CAST(list_sum([(strpos('0123456789abcdef', md5(gram)[i]) - 1)
                          * CAST(power(16, 12 - i) AS BIGINT)
                          for i in generate_series(1, 12)])
                % 2147483647 AS BIGINT) % 256 AS b
    FROM bg
),
bk2 AS (
    -- per-(doc, bucket) counts: same shape as the Spark side's single
    -- extraction pass, so the per-doc score is SUM(n * lw) both sides
    SELECT doc_id, b, COUNT(*) AS n, MAX(is_tgt) AS is_tgt
    FROM bk GROUP BY doc_id, b
),
dist AS (
    SELECT b, SUM(n) AS n_r,
           SUM(CASE WHEN is_tgt THEN n ELSE 0 END) AS n_t
    FROM bk2 GROUP BY b
),
tot AS (SELECT SUM(n_r) AS t_r, SUM(n_t) AS t_t FROM dist),
lut AS (
    SELECT b, ln((n_t + 1)::DOUBLE / (t_t + 256)::DOUBLE)
             - ln((n_r + 1)::DOUBLE / (t_r + 256)::DOUBLE) AS lw
    FROM dist CROSS JOIN tot
),
w AS (
    SELECT doc_id, SUM(n * lw) AS w
    FROM bk2 JOIN lut USING (b) GROUP BY doc_id
)
SELECT d.doc_id, round(coalesce(w.w, 0.0), 6) AS dsir_logweight
FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id
""",
)
def x3_dsir_logweights(spark, sf_dir):
    """X3 DSIR importance weights (operators/text.dsir_logweights): per-doc
    log p_target - log p_raw under hashed-bigram bag-of-ngrams models
    (target = lang='en' docs), the score DSIR resamples to select
    pretraining data matching a target domain.  Portable md5-prefix hash
    into 256 buckets, so the DuckDB oracle replays the entire pipeline —
    feature hashing, smoothed distributions, per-doc scoring.  Bucket
    distributions come from ONE bigram pass (raw + target counted in the
    same 256-row aggregate); the log-ratio table broadcasts back into the
    bigram stream, so the only data-sized shuffle is the per-doc sum."""
    return text.dsir_logweights(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )


def _pq_adc_oracle() -> str:
    """DuckDB replay of PQ encode + asymmetric-distance search — generated
    from the same subspace/codeword loops as the Spark side so the CASE
    ladders cannot drift.  The 4-term distance sum is written with explicit
    left-assoc + in BOTH engines: a fixed fold order keeps the doubles
    bit-identical, so ranking ties resolve the same way."""
    wide_cols = ",\n           ".join(
        f"MAX(CASE WHEN j = {j} THEN code END) AS c{j}" for j in range(4)
    )
    dt_cols = ",\n           ".join(
        f"MAX(CASE WHEN j = {j} AND c_id = {c} THEN d END) AS d_{j}_{c}"
        for j in range(4)
        for c in range(4)
    )
    dist_expr = " + ".join(
        "(CASE c{j} {whens} END)".format(
            j=j, whens=" ".join(f"WHEN {c} THEN d_{j}_{c}" for c in range(4))
        )
        for j in range(4)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 4),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
sub AS (SELECT unnest(generate_series(0, 3)) AS j),
dvc AS (
    SELECT e.vec_id, sub.j, cent.c_id,
           list_sum([(e.v[sub.j*16 + i] - cent.cv[sub.j*16 + i])
                     * (e.v[sub.j*16 + i] - cent.cv[sub.j*16 + i])
                     for i in generate_series(1, 16)]) AS dist
    FROM e CROSS JOIN sub CROSS JOIN cent
),
codes AS (
    SELECT vec_id, j, c_id AS code FROM (
        SELECT vec_id, j, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY dist ASC, c_id ASC) AS rn
        FROM dvc) WHERE rn = 1
),
wide AS (SELECT vec_id, {wide_cols} FROM codes GROUP BY vec_id),
dt AS (
    SELECT q.q_id, sub.j, cent.c_id,
           list_sum([(q.qv[sub.j*16 + i] - cent.cv[sub.j*16 + i])
                     * (q.qv[sub.j*16 + i] - cent.cv[sub.j*16 + i])
                     for i in generate_series(1, 16)]) AS d
    FROM q CROSS JOIN sub CROSS JOIN cent
),
dtw AS (SELECT q_id, {dt_cols} FROM dt GROUP BY q_id),
scored AS (
    SELECT dtw.q_id, wide.vec_id, {dist_expr} AS adc
    FROM wide CROSS JOIN dtw
),
ranked AS (
    SELECT q_id, vec_id, adc,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY adc ASC, vec_id ASC) AS rank
    FROM scored
)
SELECT q_id, vec_id, round(adc, 6) AS adc_dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


@query("x2_pq_adc_topk", oracle=_pq_adc_oracle())
def x2_pq_adc_topk(spark, sf_dir):
    """X2 PQ asymmetric-distance top-k search: the SERVING half of the PQ
    story (x2_pq_encode is the compression half).  Each query vector
    precomputes a 4x4 subspace-x-codeword distance table; every database
    vector is then scored from its 4 PQ codes by a table lookup + fixed
    left-assoc 4-term sum — the corpus's full 64-dim floats are never
    touched at query time, which is what lets a 100-TB embedding corpus
    serve ANN from RAM.  Plan: codes pivot to one row/vector (one keyed
    agg), the 10-query distance table broadcasts (bounded BNLJ), top-10
    per query via a rank window the optimizer caps with WindowGroupLimit.
    Codebooks are the pinned first-4-vector subvectors (as x2_pq_encode);
    the driver-side table build is 14 collected rows of doubles whose
    left-to-right fold matches DuckDB's list_sum bit-for-bit."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType
    from pyspark.sql.window import Window

    from ..operators import clustering

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rows = _embedding_head(spark, sf_dir, 10)
    seeds = [v for i, v in rows if i < 4]
    codebooks = [[s[j * 16 : (j + 1) * 16] for s in seeds] for j in range(4)]
    dt_rows = []
    for q_id, qv in rows:
        vals: list[float] = []
        for j in range(4):
            for c in range(4):
                d = 0.0
                for i in range(16):
                    diff = qv[j * 16 + i] - codebooks[j][c][i]
                    d += diff * diff
                vals.append(d)
        dt_rows.append((q_id, *vals))
    schema = StructType(
        [StructField("q_id", LongType())]
        + [
            StructField(f"d_{j}_{c}", DoubleType())
            for j in range(4)
            for c in range(4)
        ]
    )
    dtable = local_relation(spark, dt_rows, schema)
    codes = clustering.pq_encode(emb, "vec_id", "v", codebooks, sub_dim=16)
    wide = codes.groupBy("id").agg(
        *[
            F.max(F.when(F.col("subspace") == j, F.col("code"))).alias(f"c{j}")
            for j in range(4)
        ]
    )
    dexpr = None
    for j in range(4):
        case = F.when(F.col(f"c{j}") == 0, F.col(f"d_{j}_0"))
        for c in range(1, 4):
            case = case.when(F.col(f"c{j}") == c, F.col(f"d_{j}_{c}"))
        dexpr = case if dexpr is None else dexpr + case
    scored = wide.crossJoin(F.broadcast(dtable)).select(
        "q_id", F.col("id").alias("vec_id"), dexpr.alias("adc")
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("q_id", "vec_id", F.round("adc", 6).alias("adc_dist"), "rank")
    )


@query("x10_scd2_apply", oracle=_SCD2_FULL_RECOMPUTE_ORACLE)
def x10_scd2_apply(spark, sf_dir):
    """X10/X7 incremental SCD2 apply (operators/history.scd2_apply): the
    history derived from events BEFORE 2024-01-24 has the later events
    applied as an incremental batch — close the affected keys' open
    intervals, append the new ones, pass everything else through.  The
    oracle is the FULL-log recompute (same SQL as x7_scd2_status_intervals
    verbatim), so the driver hash-checks the warehouse-critical invariant:
    incremental apply == full re-derivation, row for row.  Scale shape:
    the re-derivation window runs only over batch-affected keys; untouched
    history passes through with no window and no extra shuffle."""
    from ..operators import history

    e = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-24").cast("timestamp")
    base = e.filter(F.col("ts") < split)
    batch = e.filter(F.col("ts") >= split).select(
        "user_id", "ts", "event_type", "event_id"
    )
    hist = history.scd2_intervals(
        base, "user_id", "ts", "event_type", tiebreak="event_id"
    )
    applied = history.scd2_apply(
        hist, batch, "user_id", "ts", "event_type", tiebreak="event_id"
    )
    return applied.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_to"),
        "is_current",
    )


@query(
    "x6_concat_chunks",
    oracle=r"""
WITH sized AS (
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
           COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
    FROM sized
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(cum // 2048 AS INT) AS seq_start,
       CAST(CASE WHEN n_tokens = 0 THEN cum // 2048
                 ELSE (cum + n_tokens - 1) // 2048 END AS INT) AS seq_end,
       CAST(cum % 2048 AS INT) AS offset_in_seq,
       CAST(CASE WHEN n_tokens = 0 THEN 0
                 ELSE (cum + n_tokens - 1) // 2048 - cum // 2048 + 1
            END AS INT) AS n_seqs
FROM c
""",
)
def x6_concat_chunks(spark, sf_dir):
    """X6 GPT-style concat-and-chunk layout map
    (operators/sampling.concat_chunks): documents laid end to end in id
    order, the token stream cut into 2048-token training sequences, each
    doc reporting the sequences it spans and its offset — the map a
    dataloader needs for packed attention-masked batches.  The global
    cumulative sum is the DISTRIBUTED two-phase prefix sum (per-bucket
    windows + a tiny broadcast bucket-offset window), never a
    single-partition window over the corpus; the oracle replays it as a
    plain global window, which DuckDB can afford at fixture scale."""
    from ..operators import sampling

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(text.tokens("text")).cast("int").alias("n_tokens")
    )
    return sampling.concat_chunks(
        docs, seq_len=2048, ids_per_bucket=50
    )


def _ivf_pq_oracle() -> str:
    """DuckDB replay of the full IVF-PQ search: L2 coarse cells, 4-probe
    cell selection, PQ codes, per-query distance tables, ADC ranking —
    generated from the same loops as the Spark side.  Every distance is a
    sequential double fold (list_sum == the engine-side left-to-right
    aggregate), so cell assignment, probing order, codes, and ADC sums are
    bit-identical across engines."""
    wide_cols = ",\n           ".join(
        f"MAX(CASE WHEN j = {j} THEN code END) AS c{j}" for j in range(4)
    )
    dt_cols = ",\n           ".join(
        f"MAX(CASE WHEN j = {j} AND c_id = {c} THEN d END) AS d_{j}_{c}"
        for j in range(4)
        for c in range(4)
    )
    dist_expr = " + ".join(
        "(CASE c{j} {whens} END)".format(
            j=j, whens=" ".join(f"WHEN {c} THEN d_{j}_{c}" for c in range(4))
        )
        for j in range(4)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent16 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
cent4 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 4),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
celld AS (
    SELECT e.vec_id, cent16.c_id,
           list_sum([(e.v[i] - cent16.cv[i]) * (e.v[i] - cent16.cv[i])
                     for i in generate_series(1, 64)]) AS dist
    FROM e CROSS JOIN cent16
),
cells AS (
    SELECT vec_id, c_id AS cell FROM (
        SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist ASC, c_id ASC) AS rn
        FROM celld) WHERE rn = 1
),
probed AS (
    SELECT q.q_id, cent16.c_id,
           list_sum([(q.qv[i] - cent16.cv[i]) * (q.qv[i] - cent16.cv[i])
                     for i in generate_series(1, 64)]) AS dist
    FROM q CROSS JOIN cent16
),
probes AS (
    SELECT q_id, c_id AS cell FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY dist ASC, c_id ASC) AS rn
        FROM probed) WHERE rn <= 4
),
dvc AS (
    SELECT e.vec_id, sub.j, cent4.c_id,
           list_sum([(e.v[sub.j*16 + i] - cent4.cv[sub.j*16 + i])
                     * (e.v[sub.j*16 + i] - cent4.cv[sub.j*16 + i])
                     for i in generate_series(1, 16)]) AS dist
    FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) sub
           CROSS JOIN cent4
),
codes AS (
    SELECT vec_id, j, c_id AS code FROM (
        SELECT vec_id, j, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY dist ASC, c_id ASC) AS rn
        FROM dvc) WHERE rn = 1
),
wide AS (SELECT vec_id, {wide_cols} FROM codes GROUP BY vec_id),
dt AS (
    SELECT q.q_id, sub.j, cent4.c_id,
           list_sum([(q.qv[sub.j*16 + i] - cent4.cv[sub.j*16 + i])
                     * (q.qv[sub.j*16 + i] - cent4.cv[sub.j*16 + i])
                     for i in generate_series(1, 16)]) AS d
    FROM q CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) sub
           CROSS JOIN cent4
),
dtw AS (SELECT q_id, {dt_cols} FROM dt GROUP BY q_id),
cand AS (
    SELECT p.q_id, c.vec_id FROM probes p JOIN cells c ON c.cell = p.cell
),
scored AS (
    SELECT cand.q_id, cand.vec_id, {dist_expr} AS adc
    FROM cand JOIN wide ON wide.vec_id = cand.vec_id
              JOIN dtw ON dtw.q_id = cand.q_id
),
ranked AS (
    SELECT q_id, vec_id, adc,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY adc ASC, vec_id ASC) AS rank
    FROM scored
)
SELECT q_id, vec_id, round(adc, 6) AS adc_dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def _ivf_pq_search(spark, sf_dir, index_sink: str | None = None):
    """Shared IVF-PQ pipeline; with ``index_sink`` the (vec_id, cell,
    c0..c3) index relation is round-tripped through parquet before serving
    — the deployment split between index build and query time."""
    from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType
    from pyspark.sql.window import Window

    from ..operators import clustering

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    head = _embedding_head(spark, sf_dir, 16)
    cents = [v for _, v in head]
    codebooks = [[cents[c][j * 16 : (j + 1) * 16] for c in range(4)] for j in range(4)]

    def _sqd(a, b):
        d = 0.0
        for x, y in zip(a, b):
            diff = x - y
            d += diff * diff
        return d

    probe_rows = []
    dt_rows = []
    for q_id, qv in head[:10]:
        by_cell = sorted((_sqd(qv, c), ci) for ci, c in enumerate(cents))
        probe_rows += [(q_id, ci) for _, ci in by_cell[:4]]
        vals = [
            _sqd(qv[j * 16 : (j + 1) * 16], codebooks[j][c])
            for j in range(4)
            for c in range(4)
        ]
        dt_rows.append((q_id, *vals))
    probes = local_relation(
        spark,
        probe_rows,
        StructType([StructField("q_id", LongType()), StructField("cell", IntegerType())]),
    )
    dtable = local_relation(
        spark,
        dt_rows,
        StructType(
            [StructField("q_id", LongType())]
            + [StructField(f"d_{j}_{c}", DoubleType()) for j in range(4) for c in range(4)]
        ),
    )
    from ..catalog import table_row_count

    n_rows = table_row_count(sf_dir, "embeddings")
    cells = clustering.assign_clusters_auto(
        emb, "v", cents, row_count_hint=n_rows
    ).select("vec_id", F.col("cluster").alias("cell"))
    wide = (
        clustering.pq_encode(emb, "vec_id", "v", codebooks, sub_dim=16)
        .groupBy("id")
        .agg(
            *[
                F.max(F.when(F.col("subspace") == j, F.col("code"))).alias(f"c{j}")
                for j in range(4)
            ]
        )
        .withColumnRenamed("id", "vec_id")
    )
    # the (vec_id, cell, c0..c3) relation IS the IVF-PQ index artifact —
    # 5 small ints per vector, what a real deployment writes to disk at
    # index-build time.  localCheckpoint materializes it, which also
    # truncates the argmin expression lineage: without it, Catalyst's
    # constraint propagation re-walks the 16x64-term assignment tree
    # through every downstream join and OOMs the driver.
    base = cells.join(wide, "vec_id")
    if index_sink is not None:
        # really write the artifact and serve from the files — lineage
        # truncation comes free with the round trip
        base.write.mode("overwrite").parquet(index_sink)
        base = read_parquet(spark, index_sink)
    else:
        base = base.localCheckpoint(eager=False)
    dexpr = None
    for j in range(4):
        case = F.when(F.col(f"c{j}") == 0, F.col(f"d_{j}_0"))
        for c in range(1, 4):
            case = case.when(F.col(f"c{j}") == c, F.col(f"d_{j}_{c}"))
        dexpr = case if dexpr is None else dexpr + case
    scored = (
        base.join(F.broadcast(probes), "cell")
        .join(F.broadcast(dtable), "q_id")
        .select("q_id", "vec_id", dexpr.alias("adc"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("q_id", "vec_id", F.round("adc", 6).alias("adc_dist"), "rank")
    )


@query("x2_ivf_pq_ann", oracle=_ivf_pq_oracle())
def x2_ivf_pq_ann(spark, sf_dir):
    """X2 IVF-PQ ANN end to end — the architecture a 100-TB embedding
    corpus actually serves with: an L2 coarse quantizer (16 Voronoi cells)
    bounds the search to 4 probed cells per query, and within candidates
    ranking is PQ asymmetric distance (per-query 4x4 lookup tables against
    4 codes/vector) — full-precision corpus floats are touched at INDEX
    time only, never at query time.

    Plan shape: the coarse cell is a ROW-LOCAL argmin projection over
    broadcast centroid literals (clustering.assign_clusters — zero
    shuffle); PQ codes come from pq_encode's plan-level union pivoted to
    one row/vector (one keyed aggregation).  Chaining all five argmins as
    row-local projections instead hung the OPTIMIZER — CollapseProject
    re-inlines each 16-fold `least` into every `when` branch of the next
    stage, exploding the expression tree — so the code pivot deliberately
    pays one co-keyed join.  The 40-row probe table and the 10-row
    distance tables join as broadcasts, and the per-query rank window
    (optimizer-capped via WindowGroupLimit) is the only other shuffle.
    The driver-side probe/table build folds doubles left-to-right,
    bit-identical to the oracle's list_sum replay."""
    return _ivf_pq_search(spark, sf_dir)


@query("x2_index_persist", oracle=_ivf_pq_oracle())
def x2_index_persist(spark, sf_dir):
    """X2 index-artifact persistence: the SAME IVF-PQ search, but the
    (vec_id, cell, codes) index relation is written to parquet and served
    from the files — the real build/serve split of a deployed ANN index
    (index built once over the corpus, queries touch only the 5-small-int
    artifact).  Identical oracle to x2_ivf_pq_ann: persistence must not
    change a single ranked result.  At scale the artifact partitions by
    cell, so probing prunes to the probed cells' files."""
    return _ivf_pq_search(spark, sf_dir, index_sink=_rt_tmpdir("ivfpq_index_", sf_dir))


@query(
    "x12_partition_completeness",
    oracle="""
WITH bounds AS (
    SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events
),
spine AS (
    SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds
),
daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY CAST(ts AS DATE)
),
stats AS (
    SELECT round(AVG(n_events), 6) AS mean_n FROM daily
)
SELECT s.day, COALESCE(d.n_events, 0) AS n_events,
       CASE WHEN d.n_events IS NULL THEN 'missing'
            WHEN d.n_events < 0.5 * mean_n THEN 'short'
            ELSE 'ok' END AS status
FROM spine s LEFT JOIN daily d ON d.day = s.day CROSS JOIN stats
""",
)
def x12_partition_completeness(spark, sf_dir):
    """X12 partition-completeness report — the ops check an ingestion
    pipeline runs before trusting a day's data: the expected daily
    calendar (derived from the observed min/max, one scalar aggregate)
    LEFT-joined to per-day event counts; days absent from the data are
    'missing', days under half the mean volume are 'short'.  Scale shape:
    the fact table aggregates ONCE to |days| rows; the calendar spine
    explodes from a 1-row aggregate and every subsequent join is over
    day-count-sized relations — a 100-TB event log yields a ~365-row
    report with one data-sized shuffle."""
    e = _t(spark, sf_dir, "events").select(F.col("ts").cast("timestamp").alias("ts"))
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    spine = (
        e.agg(
            F.min(F.col("ts").cast("date")).alias("d0"),
            F.max(F.col("ts").cast("date")).alias("d1"),
        )
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    stats = daily.agg(F.round(F.avg("n_events"), 6).alias("mean_n"))
    return (
        spine.join(daily, "day", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.when(F.col("n_events").isNull(), F.lit("missing"))
            .when(F.col("n_events") < 0.5 * F.col("mean_n"), F.lit("short"))
            .otherwise(F.lit("ok"))
            .alias("status"),
        )
    )


@query(
    "x12_dataset_card",
    oracle=rf"""
WITH t AS (
    SELECT doc_id, lang, source, n_chars,
           regexp_split_to_array(trim(text), '\s+') AS toks, text
    FROM documents
),
per_doc AS (
    SELECT doc_id, lang, n_chars, len(toks) AS n_tokens,
           round(0.4 * (len(list_filter(toks, x -> list_contains({_STOP_LIST}, x)))::DOUBLE
                        / len(toks)::DOUBLE)
                 + 0.3 * (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
                                / length(text)::DOUBLE)
                 + 0.3 * least(length(text)::DOUBLE / 500.0, 1.0), 6) AS q,
           text
    FROM t
),
dups AS (
    SELECT text, COUNT(*) AS n FROM per_doc GROUP BY text
)
SELECT p.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(p.n_chars) AS BIGINT) AS total_chars,
       round(AVG(p.q), 6) AS mean_quality,
       CAST(SUM(CASE WHEN d.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_in_dup_groups,
       CAST(COUNT(DISTINCT p.text) AS BIGINT) AS n_unique_texts
FROM per_doc p JOIN dups d ON d.text = p.text
GROUP BY p.lang
""",
)
def x12_dataset_card(spark, sf_dir):
    """X12 dataset-card rollup — the per-language summary a curated corpus
    ships with (datasheet/dataset-card practice): doc/token/char volumes,
    mean quality score, exact-duplicate exposure, distinct-text counts.
    Scale shape: ONE narrow projection computes per-doc signals, a
    text-keyed aggregation sizes dup groups (map-side combine collapses
    duplicates pre-shuffle), and the final per-lang rollup is a keyed
    aggregation to |langs| rows — two data-sized shuffles total, both
    pre-combined.  The quality expression is the shared
    text.quality_score_expr, so the card and the curation filters cannot
    drift."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(text.tokens("text")).alias("n_tokens"),
        text.quality_score_expr("text").alias("q"),
        "text",
    )
    dups = per_doc.groupBy("text").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_doc.join(dups, "text")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("q"), 6).alias("mean_quality"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias(
                "docs_in_dup_groups"
            ),
            F.countDistinct("text").alias("n_unique_texts"),
        )
    )


@query(
    "x3_oov_rate",
    oracle=r"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
    FROM documents
),
counts AS (
    SELECT token, COUNT(*) AS n FROM toks WHERE token != '' GROUP BY token
),
vocab AS (
    SELECT token FROM counts ORDER BY n DESC, token ASC LIMIT 100
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*)::DOUBLE, 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON v.token = t.token
WHERE t.token != ''
GROUP BY t.doc_id
""",
)
def x3_oov_rate(spark, sf_dir):
    """X3 out-of-vocabulary rate: per-doc fraction of tokens outside the
    top-100 corpus vocabulary — the tokenizer-fit signal that flags docs a
    fixed vocab will shred into rare pieces (cost + quality risk at
    training time).  Scale shape: the vocabulary head is a
    TakeOrderedAndProject over the token aggregation (bounded 100 rows),
    broadcast back into the token stream as a LEFT join; the only
    data-sized shuffles are the vocabulary count and the per-doc rollup,
    both map-side combined."""
    toks = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(dedup.normalize_text("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
    )
    # ONE tokenization pass (round 11): per-(doc, token) counts are the
    # shared, barriered relation — bounded by distinct tokens per doc —
    # feeding BOTH the vocabulary head and the per-doc rollup, so
    # neither consumer re-runs the normalize/split/explode extraction
    # (the old shape tokenized the corpus twice).  All-integer math, so
    # the values are exactly the per-occurrence ones.  Barrier mode is
    # env-switchable for preemptible fleets (operators/barrier.py).
    from ..operators.barrier import extraction_barrier

    doc_tok = extraction_barrier(
        toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = (
        doc_tok.groupBy("token")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(100)
        .select("token", F.lit(1).alias("_in_vocab"))
    )
    return (
        doc_tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), F.col("n")).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("oov_rate"),
        )
    )


@query(
    "x13_skew_report",
    oracle="""
WITH per_key AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_n,
           round(AVG(n), 6) AS mean_n
    FROM per_key
),
top AS (
    SELECT user_id, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC) AS INT) AS rnk
    FROM per_key ORDER BY n DESC, user_id ASC LIMIT 5
)
SELECT t.user_id AS hot_key, t.n AS n_rows_key, t.rnk AS rank,
       s.n_keys, s.n_rows,
       round(t.n::DOUBLE / s.mean_n, 6) AS skew_factor
FROM top t CROSS JOIN stats s
""",
)
def x13_skew_report(spark, sf_dir):
    """X13 join/agg skew diagnosis — the DETECT half of the skew story
    (x13_salted_agg is the mitigation): per-key row counts aggregated
    once, the 5 heaviest keys ranked with their skew factor (key volume /
    mean key volume) plus corpus-level context.  At 100 TB this is the
    report that decides whether the flagship's collision_id shuffle needs
    salting or AQE skew splitting.  Scale shape: ONE keyed aggregation
    (map-side combined); stats reduce its output to one row; the top-5 is
    a TakeOrderedAndProject over the key counts — the rank window runs on
    a bounded 5-row relation."""
    per_key = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.round(F.avg("n"), 6).alias("mean_n"),
    )
    top = per_key.orderBy(F.desc("n"), F.asc("user_id")).limit(5)
    from pyspark.sql.window import Window

    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("user_id"))),
    )
    return ranked.crossJoin(F.broadcast(stats)).select(
        F.col("user_id").alias("hot_key"),
        F.col("n").alias("n_rows_key"),
        "rank",
        "n_keys",
        "n_rows",
        F.round(F.col("n").cast("double") / F.col("mean_n"), 6).alias("skew_factor"),
    )


