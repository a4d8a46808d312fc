"""X1 deduplication — split from the single-module registry_ext (round 6).

Registration order is load-bearing (the __spark_entry__ witness rotation
samples in registration order): registry_ext/__init__.py imports the
block modules in the original file's order and entries within each module
keep their original sequence — append, don't reorder.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

from ..catalog import load_table  # noqa: F401
from ..operators import dedup, multimodal, sampling, similarity, text  # noqa: F401
from ..registry import query  # noqa: F401
from ._shared import (  # noqa: F401
    _LANG_CASE,
    _LANG_GREATEST,
    _LANG_SCORE_SQL,
    _RT_DIRS,
    _SCD2_FULL_RECOMPUTE_ORACLE,
    _STOP_LIST,
    N_SYNTHETIC_NEAR_DUPS,
    _marker_list,
    _rt_tmpdir,
    _t,
    _with_synthetic_near_dups,
)

# ===========================================================================
# X1 — deduplication
# ===========================================================================


@query(
    "x1_dedup_exact_docs",
    oracle="""
SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY text
""",
)
def x1_dedup_exact_docs(spark, sf_dir):
    """X1 exact dedup on documents.text: hash-groupBy with deterministic
    min-id survivorship (map-side combine collapses dup groups pre-shuffle)."""
    return dedup.exact_dedup_groups(_t(spark, sf_dir, "documents"), ["text"], "doc_id")


@query(
    "x1_dedup_exact_events",
    oracle="""
SELECT user_id, event_type, MIN(event_id) AS keep_id, COUNT(*) AS n_copies
FROM events GROUP BY user_id, event_type
""",
)
def x1_dedup_exact_events(spark, sf_dir):
    """X1 exact dedup on a composite key (user_id, event_type)."""
    return dedup.exact_dedup_groups(
        _t(spark, sf_dir, "events"), ["user_id", "event_type"], "event_id"
    )


@query(
    "x1_ngram_jaccard_pairs",
    oracle=r"""
WITH sh AS (
    SELECT doc_id AS id,
           CASE WHEN len(toks) >= 2
                THEN list_distinct([toks[i] || ' ' || toks[i+1]
                                    for i in generate_series(1, len(toks) - 1)])
                ELSE list_distinct(toks) END AS sh
    FROM (
        SELECT doc_id,
               regexp_split_to_array(
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS toks
        FROM documents WHERE doc_id < 200
    ) t
)
SELECT a.id AS id_a, b.id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 6) AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 6) >= 0.05
""",
)
def x1_ngram_jaccard_pairs(spark, sf_dir):
    """X1 n-gram Jaccard near-dup scoring (exact all-pairs over a bounded id
    range — the ground truth the MinHash path approximates)."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=2, threshold=0.05, max_id=200
    )




@query("x1_minhash_near_dup")  # xxhash64-based -> rows-only driver check
def x1_minhash_near_dup(spark, sf_dir):
    """X1 MinHash+LSH near-dup pairs (shingle -> 32-hash signature -> 8-band
    bucketing -> candidate join -> exact-Jaccard verify).  Synthetic mutated
    copies are injected so true near-dups exist; recall vs the exact
    ngram-Jaccard ground truth is asserted in tests/test_ext_operators.py.
    corpus_count (parquet-footer row count, zero jobs) scales the forced-
    shuffle_hash partition counts so the un-spillable hash builds stay
    bounded per task at any corpus size — the round-10 sf100 panel OOM'd
    the verify build at fixed P=32 (see minhash_lsh_pairs docstring)."""
    from ..catalog import table_row_count

    docs = _with_synthetic_near_dups(_t(spark, sf_dir, "documents"))
    # count the corpus ACTUALLY deduped: base footer count plus the
    # injected synthetic near-dups, so the SHJ-bounding pins never
    # under-provision relative to the true input
    return dedup.minhash_lsh_pairs(
        docs, n=2, num_hashes=32, n_bands=8, threshold=0.4,
        corpus_count=table_row_count(sf_dir, "documents") + N_SYNTHETIC_NEAR_DUPS,
    )


def _minhash_portable_oracle(num_hashes: int = 16, n_bands: int = 4) -> str:
    """DuckDB replay of the ENTIRE portable MinHash+LSH pipeline — built
    from the same constants as operators/dedup.minhash_lsh_pairs_portable
    so the two cannot drift; slots-per-band from the same validated
    division as the Spark side (dedup._bands_divide, ADVICE r12)."""
    r = dedup._bands_divide(num_hashes, n_bands)
    mins = ",\n           ".join(
        f"MIN(({dedup._PORT_A[i]} * x + {dedup._PORT_B[i]}) % {dedup._P_PORT}) AS m_{i}"
        for i in range(num_hashes)
    )
    bands = "\n             ".join(
        "WHEN {b} THEN array_to_string([{slots}], ',')".format(
            b=b, slots=", ".join(f"m_{b * r + j}" for j in range(r))
        )
        for b in range(n_bands)
    )
    return rf"""
WITH docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s+', '')
    FROM documents WHERE doc_id < {N_SYNTHETIC_NEAR_DUPS}
),
toks AS (
    SELECT doc_id AS id,
           regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS t
    FROM docs
),
sh AS (
    SELECT id,
           unnest(CASE WHEN len(t) >= 2
                       THEN list_distinct([t[i] || ' ' || t[i+1]
                                           for i in generate_series(1, len(t) - 1)])
                       ELSE list_distinct(t) END) AS shingle
    FROM toks
),
h AS (
    SELECT id, shingle,
           CAST(list_sum([(strpos('0123456789abcdef', md5(shingle)[i]) - 1)
                          * CAST(power(16, 12 - i) AS BIGINT)
                          for i in generate_series(1, 12)])
                % {dedup._P_PORT} AS BIGINT) AS x
    FROM sh
),
sig AS (
    SELECT id, COUNT(*) AS sz,
           {mins}
    FROM h GROUP BY id
),
banded AS (
    SELECT id, sz, band_idx,
           CASE band_idx
             {bands}
           END AS band_key
    FROM sig CROSS JOIN (SELECT unnest([{", ".join(str(b) for b in range(n_bands))}]) AS band_idx)
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cand c
    JOIN sh s1 ON s1.id = c.id_a
    JOIN sh s2 ON s2.id = c.id_b AND s2.shingle = s1.shingle
    GROUP BY c.id_a, c.id_b
)
SELECT c.id_a, c.id_b,
       round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
             / (c.sz_a + c.sz_b - coalesce(i.n_inter, 0)), 6) AS jaccard
FROM cand c LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
WHERE round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
            / (c.sz_a + c.sz_b - coalesce(i.n_inter, 0)), 6) >= 0.4
"""


@query("x1_minhash_portable", oracle=_minhash_portable_oracle())
def x1_minhash_portable(spark, sf_dir):
    """X1 MinHash+LSH with the PORTABLE hash family
    (operators/dedup.minhash_lsh_pairs_portable): md5-prefix base hash +
    mod-p universal permutations, so the DuckDB oracle replays the entire
    pipeline — signatures, band collisions, candidate join, exact-Jaccard
    verification — and the driver value-hash checks it end-to-end.  This is
    the oracle-verified witness for the MinHash pipeline SHAPE; the
    xxhash64 fast path (x1_minhash_near_dup) keeps the production hash and
    a rows-only check."""
    docs = _with_synthetic_near_dups(_t(spark, sf_dir, "documents"))
    return dedup.minhash_lsh_pairs_portable(
        docs, n=2, num_hashes=16, n_bands=4, threshold=0.4
    )


@query("x1_simhash_near_pairs")  # xxhash64-based -> rows-only driver check
def x1_simhash_near_pairs(spark, sf_dir):
    """X1 SimHash near-dup pairs at hamming<=6 via 4-block pigeonhole
    equality joins (finds hamming<=3 exhaustively; 4-6 opportunistically)."""
    docs = _with_synthetic_near_dups(_t(spark, sf_dir, "documents"))
    return dedup.simhash_near_pairs(docs, max_hamming=6)


def _simhash_portable_oracle() -> str:
    """DuckDB replay of the portable SimHash pipeline — generated from the
    same n_bits/blocks as operators/dedup.simhash_near_pairs_portable."""
    votes = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(32)
    )
    packing = " + ".join(
        f"CASE WHEN v_{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(32)
    )
    return rf"""
WITH docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s+', '')
    FROM documents WHERE doc_id < {N_SYNTHETIC_NEAR_DUPS}
),
tok AS (
    SELECT doc_id AS id,
           unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS t
    FROM docs
),
h AS (
    SELECT id,
           CAST(list_sum([(strpos('0123456789abcdef', md5(t)[j]) - 1)
                          * CAST(power(16, 12 - j) AS BIGINT)
                          for j in generate_series(1, 12)]) AS BIGINT) AS h
    FROM tok
),
v AS (
    SELECT id,
           {votes}
    FROM h GROUP BY id
),
fp AS (
    SELECT id, CAST({packing} AS BIGINT) AS simhash FROM v
),
blocks AS (
    SELECT id, simhash, b AS block_idx, (simhash >> (8 * b)) & 255 AS block_val
    FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM blocks a JOIN blocks b
  ON a.block_idx = b.block_idx AND a.block_val = b.block_val AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@query("x1_simhash_portable", oracle=_simhash_portable_oracle())
def x1_simhash_portable(spark, sf_dir):
    """X1 SimHash with the PORTABLE md5-prefix hash family
    (operators/dedup.simhash_near_pairs_portable): 32-bit fingerprint,
    8-bit pigeonhole blocks, hamming<=3 — the DuckDB oracle replays votes,
    packing, block join, and popcount verification exactly, so the SimHash
    pipeline gets a full value-hash driver check beside the 63-bit
    xxhash64 fast path's rows-only entry."""
    docs = _with_synthetic_near_dups(_t(spark, sf_dir, "documents"))
    return dedup.simhash_near_pairs_portable(docs, max_hamming=3)


@query(
    "x1_embedding_near_dup",
    oracle="""
WITH base AS (
    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS norm
    FROM embeddings WHERE vec_id < 200
)
SELECT id_a, id_b, cosine FROM (
    SELECT a.id AS id_a, b.id AS id_b,
           round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS cosine
    FROM base a JOIN base b ON a.id < b.id
) t WHERE cosine >= 0.3
""",
)
def x1_embedding_near_dup(spark, sf_dir):
    """X1 embedding-cosine near-dup pairs (exact, bounded id range)."""
    return dedup.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, max_id=200
    )




def _portable_sig_ctes(
    src_cte: str,
    p: str,
    num_hashes: int = 16,
    n_bands: int = 4,
    include_sz: bool = False,
) -> str:
    """toks → shingles → hash → signature → band CTE chain for ONE side of
    the incremental near-dup probe, built from the same portable-family
    constants as operators/dedup.minhash_signature_store so the two cannot
    drift (the x1_minhash_portable oracle's pipeline, parameterized by
    source CTE).  Slots-per-band come from the SAME division the Spark
    side validates (dedup._bands_divide, ADVICE r12) — not a hardcoded 4."""
    r = dedup._bands_divide(num_hashes, n_bands)
    mins = ",\n           ".join(
        f"MIN(({dedup._PORT_A[i]} * x + {dedup._PORT_B[i]}) % {dedup._P_PORT}) AS m_{i}"
        for i in range(num_hashes)
    )
    bands = "\n             ".join(
        "WHEN {b} THEN array_to_string([{slots}], ',')".format(
            b=b, slots=", ".join(f"m_{b * r + j}" for j in range(r))
        )
        for b in range(n_bands)
    )
    return rf"""
{p}_toks AS (
    SELECT doc_id AS id,
           regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS t
    FROM {src_cte}
),
{p}_sh AS (
    SELECT id,
           unnest(CASE WHEN len(t) >= 2
                       THEN list_distinct([t[i] || ' ' || t[i+1]
                                           for i in generate_series(1, len(t) - 1)])
                       ELSE list_distinct(t) END) AS shingle
    FROM {p}_toks
),
{p}_h AS (
    SELECT id, shingle,
           CAST(list_sum([(strpos('0123456789abcdef', md5(shingle)[i]) - 1)
                          * CAST(power(16, 12 - i) AS BIGINT)
                          for i in generate_series(1, 12)])
                % {dedup._P_PORT} AS BIGINT) AS x
    FROM {p}_sh
),
{p}_sig AS (
    SELECT id, {"COUNT(*) AS sz, " if include_sz else ""}{mins}
    FROM {p}_h GROUP BY id
),
{p}_banded AS (
    SELECT id, band_idx,
           CASE band_idx
             {bands}
           END AS band_key
    FROM {p}_sig CROSS JOIN (SELECT unnest([{", ".join(str(b) for b in range(n_bands))}]) AS band_idx)
)"""


def _incremental_minhash_oracle() -> str:
    """DuckDB replay of the incremental near-dup gate: history store +
    batch signed with the identical portable pipeline, band equi-join,
    signature-agreement estimate, per-new-doc best match."""
    est = " + ".join(
        f"(CASE WHEN n.m_{i} = h.m_{i} THEN 1 ELSE 0 END)" for i in range(16)
    )
    return rf"""
WITH hist_docs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 < 4
),
batch_docs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
    UNION ALL
    SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s+', '')
    FROM documents WHERE doc_id < {N_SYNTHETIC_NEAR_DUPS}
),
{_portable_sig_ctes("hist_docs", "hist")[1:]},
{_portable_sig_ctes("batch_docs", "new")[1:]},
cand AS (
    SELECT DISTINCT nb.id AS new_id, hb.id AS hist_id
    FROM new_banded nb
    JOIN hist_banded hb
      ON nb.band_idx = hb.band_idx AND nb.band_key = hb.band_key
),
scored AS (
    SELECT c.new_id, c.hist_id,
           round(({est}) / 16.0, 6) AS est_jaccard
    FROM cand c
    JOIN new_sig n ON n.id = c.new_id
    JOIN hist_sig h ON h.id = c.hist_id
)
SELECT new_id, hist_id, est_jaccard FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY new_id ORDER BY est_jaccard DESC, hist_id ASC) AS rn
    FROM scored WHERE est_jaccard >= 0.5
) WHERE rn = 1
"""


@query("x1_incremental_minhash", oracle=_incremental_minhash_oracle())
def x1_incremental_minhash(spark, sf_dir):
    """X1 incremental NEAR-dup gate (operators/dedup.minhash_signature_store
    + incremental_minhash_matches): the day's batch (docs with
    doc_id % 5 == 4, plus mutated copies of the first N_SYNTHETIC_NEAR_DUPS
    docs so true cross-boundary near-dups exist at any scale factor) probed
    against the TEXT-FREE signature store of the historical corpus
    (doc_id % 5 < 4).  Per batch doc: its best historical near-duplicate by
    MinHash-estimated Jaccard >= 0.5 — no corpus re-dedup, no historical
    text touched.  The portable hash family makes the store build, banding,
    candidate join, estimation, and the best-match pick fully
    DuckDB-replayable."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 5 < 4).select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") < N_SYNTHETIC_NEAR_DUPS).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+\s+", "").alias("text"),
    )
    batch = (
        docs.filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", "text")
        .unionByName(mutated)
    )
    store = dedup.minhash_signature_store(hist)
    return dedup.incremental_minhash_matches(batch, store, threshold=0.5)


#: gear polynomial over code points, window 8 — the operators/dedup
#: duplicated_spans boundary family (same as the CDC chunker's; DuckDB
#: ``unicode`` == Spark ``ascii``, full code point).
_SPAN_POLY = " + ".join(
    f"CAST(unicode(norm[CAST(p + {j} AS INT)]) AS BIGINT) * {31 ** j}"
    for j in range(8)
)


@query(
    "x1_duplicated_spans",
    oracle=rf"""
WITH n AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
    FROM documents
),
ph AS (
    SELECT doc_id,
           unnest([p for p in generate_series(1, greatest(length(norm) - 7, 0))]) AS pos,
           unnest([({_SPAN_POLY}) % 2147483647
                   for p in generate_series(1, greatest(length(norm) - 7, 0))]) AS h
    FROM n
),
dup_h AS (
    SELECT h FROM ph GROUP BY h HAVING COUNT(*) > 1
),
dpos AS (
    SELECT ph.doc_id, ph.pos FROM ph JOIN dup_h ON dup_h.h = ph.h
),
steps AS (
    SELECT doc_id, pos,
           CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 1
                THEN 0 ELSE 1 END AS step
    FROM dpos
),
isl AS (
    SELECT doc_id, pos,
           SUM(step) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
    FROM steps
)
SELECT doc_id AS id, CAST(MIN(pos) AS INT) AS span_start,
       CAST(MAX(pos) - MIN(pos) + 8 AS INT) AS span_len,
       COUNT(*) AS n_grams
FROM isl GROUP BY doc_id, g
HAVING MAX(pos) - MIN(pos) + 8 >= 30
""",
)
def x1_duplicated_spans(spark, sf_dir):
    """X1 duplicated-substring spans (operators/dedup.duplicated_spans —
    Lee et al. 2022's substring-level dedup signal): maximal character
    spans whose every rolling 8-gram occurs elsewhere in the corpus,
    reported per doc as (span_start, span_len, n_grams) for spans ≥ 30
    chars.  Catches boilerplate/licenses/quotes embedded in otherwise
    unique documents — the duplication doc-level dedup misses.  Slim
    (id, pos, hash) rows end to end: one gram-hash aggregation, one hash
    equi-join, one per-doc gaps-and-islands window; the gear polynomial
    replays in DuckDB so positions, islands, and span arithmetic are
    value-hash-checked."""
    return dedup.duplicated_spans(
        _t(spark, sf_dir, "documents"), "doc_id", "text", window=8, min_span=30
    )
