"""round-13 additions: the apply half of substring dedup (span scrub +
curation v4), signature-store maintenance, and BPE encode — the three
operators VERDICT r12 named as the natural closures of the round-12
surface (items #4/#5/#6).

Registration order is load-bearing (the __spark_entry__ witness rotation
samples in registration order) — append, don't reorder.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, text
from ..registry import query
from ._shared import (
    N_SYNTHETIC_NEAR_DUPS,
    _STOP_LIST,
    _t,
    _with_synthetic_exact_dups,
)
from .q01_dedup import _SPAN_POLY, _portable_sig_ctes

#: scrub threshold for the REGISTERED span-removal queries.  The span
#: FINDER (x1_duplicated_spans) keeps the low min_span=30 bar — right for
#: a reporting signal — but applying removal at 30 chars on this
#: synthetic corpus (whose 8-gram space is deliberately dense) deletes
#: ~96% of every document and the downstream showcase degenerates to
#: empty strings.  150 chars (~27 words) is the Lee-et-al-faithful
#: "long verbatim block" bar at this corpus's ~55-word doc length: 224 of
#: 500 sf0.01 docs get surgery, remainders keep real content.
SCRUB_MIN_SPAN = 150


def _span_scrub_ctes(src: str = "documents", min_span: int = SCRUB_MIN_SPAN) -> str:
    """The x1_duplicated_spans oracle chain extended through interval
    merge and substring surgery — shared by x1_span_scrub and the
    curation-v4 oracle so the two cannot drift.  ``src`` is any
    relation/CTE providing (doc_id, text).  Ends at CTE ``scrub``: one
    row per document with (id, clean_text, chars_removed,
    n_spans_removed), the exact output of
    operators/dedup.scrub_duplicated_spans at the same min_span."""
    return rf"""
n AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
    FROM {src}
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
),
spans AS (
    SELECT doc_id AS id, MIN(pos) AS s, MAX(pos) + 8 AS e
    FROM isl GROUP BY doc_id, g
    HAVING MAX(pos) - MIN(pos) + 8 >= {min_span}
),
mg AS (
    SELECT id, s, e,
           SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
    FROM (SELECT id, s, e,
                 MAX(e) OVER (PARTITION BY id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
          FROM spans)
),
m2 AS (
    SELECT id, g, MIN(s) AS s, MAX(e) AS e FROM mg GROUP BY id, g
),
segs AS (
    SELECT id, coalesce(LAG(e) OVER (PARTITION BY id ORDER BY s), 1) AS ss, s AS se
    FROM m2
    UNION ALL
    SELECT id, MAX(e) AS ss, NULL AS se FROM m2 GROUP BY id
),
pieces AS (
    SELECT s.id, s.ss,
           CASE WHEN s.se IS NULL THEN substring(n.norm, CAST(s.ss AS INT))
                ELSE substring(n.norm, CAST(s.ss AS INT), CAST(s.se - s.ss AS INT))
           END AS seg
    FROM segs s JOIN n ON n.doc_id = s.id
),
joined_clean AS (
    SELECT id, string_agg(seg, '' ORDER BY ss) AS clean FROM pieces GROUP BY id
),
scrub AS (
    SELECT n.doc_id AS id,
           coalesce(jc.clean, n.norm) AS clean_text,
           CAST(length(n.norm) - length(coalesce(jc.clean, n.norm)) AS INT)
               AS chars_removed,
           CAST(coalesce(ns.k, 0) AS INT) AS n_spans_removed
    FROM n
    LEFT JOIN joined_clean jc ON jc.id = n.doc_id
    LEFT JOIN (SELECT id, COUNT(*) AS k FROM m2 GROUP BY id) ns
           ON ns.id = n.doc_id
)"""


@query(
    "x1_span_scrub",
    oracle=f"""
WITH {_span_scrub_ctes()[1:]}
SELECT id, clean_text, chars_removed, n_spans_removed FROM scrub
""",
)
def x1_span_scrub(spark, sf_dir):
    """X1 span REMOVAL (operators/dedup.scrub_duplicated_spans) — the
    apply half of Lee et al. 2022 substring dedup: every duplicated span
    of at least SCRUB_MIN_SPAN chars (the "long verbatim block" bar — see
    the constant's rationale) is cut out of the normalized text, with
    overlapping span char-ranges merged into disjoint intervals first so
    removal never double-counts.  Per doc: the scrubbed text plus
    chars_removed / n_spans_removed accounting.  Surgery is one
    ``aggregate`` fold over each doc's sorted interval array emitting
    kept ``substring`` segments — built-ins only, the corpus text moves
    through one projection and one id-keyed join.  Pure integer substring
    arithmetic, so the oracle replays the cut text bit-for-bit."""
    return dedup.scrub_duplicated_spans(
        _t(spark, sf_dir, "documents"), min_span=SCRUB_MIN_SPAN
    )


def _curation_v4_oracle() -> str:
    """DuckDB replay of the v4 pipeline: exact-dedup survivorship ->
    span scrub over the deduped corpus -> Gopher gate on the SCRUBBED
    text — each stage the same CTE chain its standalone oracle uses."""
    return f"""
WITH base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000, text FROM documents
    WHERE doc_id < {N_SYNTHETIC_NEAR_DUPS}
),
fp AS (
    SELECT doc_id, text,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
    FROM base
),
grp AS (
    SELECT f, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM fp GROUP BY f
),
surv AS (
    SELECT fp.doc_id, fp.text
    FROM fp JOIN grp ON grp.f = fp.f AND grp.keep_id = fp.doc_id
),
{_span_scrub_ctes(src="surv")[1:]},
gsig AS (
    SELECT id, clean_text, chars_removed, n_spans_removed,
           regexp_split_to_array(trim(clean_text), '\\s+') AS toks,
           length(regexp_replace(clean_text, '\\s', '', 'g')) AS n_nonws
    FROM scrub
),
kept AS (
    SELECT id, chars_removed, n_spans_removed
    FROM gsig
    WHERE len(toks) >= 50 AND len(toks) <= 100000
      AND n_nonws::DOUBLE / len(toks)::DOUBLE >= 3.0
      AND n_nonws::DOUBLE / len(toks)::DOUBLE <= 10.0
      AND len(regexp_extract_all(clean_text, '(#|\\.\\.\\.)'))::DOUBLE
          / len(toks)::DOUBLE <= 0.1
      AND len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
          / len(toks)::DOUBLE >= 0.8
      AND len(list_filter(toks, x -> list_contains({_STOP_LIST}, x))) >= 2
)
SELECT k.id AS doc_id, g2.n_copies, k.chars_removed, k.n_spans_removed
FROM kept k
JOIN (SELECT keep_id, n_copies FROM grp) g2 ON g2.keep_id = k.id
"""


@query("x9_curation_v4", oracle=_curation_v4_oracle())
def x9_curation_v4(spark, sf_dir):
    """X9 curation pipeline v4 — substring-level dedup composed INTO the
    curation chain in the canonical Lee et al. order (the interaction
    VERDICT r12 asked to value-check): EXACT doc dedup first (verbatim
    copies — injected, since the fixture has none — collapse to a min-id
    survivor BEFORE their grams can pollute the corpus-wide duplicate
    counts and mark both copies as one giant span), then span scrub over
    the deduped corpus, then the Gopher quality gate judging the SCRUBBED
    text (a doc that was mostly boilerplate fails the word-count floor
    only after scrubbing — the ordering is the point).  Survivors carry
    their duplicate multiplicity and scrub accounting.

    Plan shape (r13 optimization pass — the original composition read
    5.6 s at sf0.1 with 28 parquet scans / 4 Arrow kernel runs / 48
    exchanges from plan-subtree duplication; this shape reads ~3.8 s
    with 6 scans / 2 kernel runs — the residual triple-``surv`` is the
    duplicated-spans recompute-over-barrier choice, argued there; same
    output, row for row):

    - the survivorship DECISION is the guide-§8 small-rows pattern: the
      fingerprint aggregation's ``(keep_id, n_copies)`` relation (ids +
      counts, no text — the bounded shape the barrier contract pins)
      sits behind an extraction barrier and re-attaches survivors to the
      corpus by one id semi-join, instead of re-running the md5
      aggregation + fingerprint join in every consumer of ``surv``
      (keep-barrier vs lazy-keep A/B'd at sf0.1: 3.7/3.9 s vs 4.1/4.3 s
      medians across alternating fresh sessions);
    - the Gopher gate is an inline row-local ``filter``
      (``gopher_keep_expr`` — same verdict expressions as
      ``gopher_rules``) on the scrub output, not a semi-join of the scrub
      relation against a second copy of itself — the semi-join form
      evaluated the ENTIRE span-scrub subtree (two more Arrow kernel
      passes) a second time just to re-derive row-local booleans;
    - the scrub relation is NOT barriered, on measurement: predicate
      pushdown does inline the interval-surgery fold into the pushed
      Gopher predicate (12 fold occurrences in the optimized plan), but
      the fold re-evaluations are row-local CPU over already-shrunk rows
      and A/B'd cheaper than a corpus-sized ``localCheckpoint`` (scrub
      barrier 5.5-6.6 s vs 3.7-4.3 s without, and the checkpointed text
      blocks accumulate across a long benching session — the barrier
      contract exists for SMALL decision relations, not the corpus).  A
      production deployment materializes the scrubbed corpus as the
      curation parquet artifact (Lee et al. 2022 §4) and gates on the
      read-back, which evaluates the fold exactly once;
    - ``n_copies`` re-attaches from the barriered decision relation, not
      from the corpus-sized ``surv`` subtree."""
    from ..operators.barrier import extraction_barrier

    base = _with_synthetic_exact_dups(_t(spark, sf_dir, "documents"))
    fp = base.withColumn(
        "f", F.md5(text.normalize_text("text"))
    )
    grp = fp.groupBy("f").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )
    keep = extraction_barrier(grp.select("keep_id", "n_copies"))
    surv = base.join(
        keep.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    ).select("doc_id", "text")
    scrub = dedup.scrub_duplicated_spans(surv, min_span=SCRUB_MIN_SPAN)
    kept = scrub.filter(text.gopher_keep_expr("clean_text"))
    return kept.join(
        keep.select(F.col("keep_id").alias("id"), "n_copies"), "id"
    ).select(
        F.col("id").alias("doc_id"),
        "n_copies",
        "chars_removed",
        "n_spans_removed",
    )


def _store_update_oracle() -> str:
    """DuckDB replay of the store upsert: both sides signed with the
    portable pipeline (sz included — the store schema), first-writer-wins
    id anti-join, min-id-per-signature compaction."""
    sig_cols = ", ".join(f"m_{i}" for i in range(16))
    return rf"""
WITH hist_docs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 < 4
),
batch_docs AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
),
{_portable_sig_ctes("hist_docs", "hist", include_sz=True)[1:]},
{_portable_sig_ctes("batch_docs", "new", include_sz=True)[1:]},
new_rows AS (
    SELECT * FROM new_sig WHERE id NOT IN (SELECT id FROM hist_sig)
),
unioned AS (
    SELECT * FROM hist_sig UNION ALL SELECT * FROM new_rows
)
SELECT id, sz, {sig_cols} FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY {sig_cols} ORDER BY id) AS rn
    FROM unioned
) WHERE rn = 1
"""


@query("x1_minhash_store_update", oracle=_store_update_oracle())
def x1_minhash_store_update(spark, sf_dir):
    """X1 signature-store maintenance (operators/dedup.minhash_store_update)
    — the upsert/compaction path that makes the incremental near-dup gate
    (x1_incremental_minhash) a closed loop: the day's batch signatures
    append to the historical store with first-writer-wins per id, and
    compaction keeps only the min id per full signature vector — provably
    match-preserving for the gate (identical signatures produce identical
    candidates and estimates, and the best-match tie-break already picks
    the lowest historical id).  The parquet-served next-batch parity is
    pinned in tests/test_ext_operators.py."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 5 < 4).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 5 == 4).select("doc_id", "text")
    store = dedup.minhash_signature_store(hist)
    return dedup.minhash_store_update(store, batch)


def _bpe_replace_chain() -> str:
    """The DuckDB twin of operators/text.bpe_encode_expr's plan: the
    self-delimited symbol expansion of column ``w`` run through one
    ``replace`` per pinned merge — shared by the encode and the
    budget-pack oracles so the chain cannot drift between them."""
    expr = r"regexp_replace(w, '(.)', ' \1 ', 'g')"
    for a, b in text.BPE_MERGES:
        expr = f"replace({expr}, ' {a}  {b} ', ' {a}{b} ')"
    return expr


def _bpe_encode_oracle() -> str:
    """DuckDB replay of the greedy BPE apply — the chained ``replace``
    calls generated from the SAME pinned merges table as
    operators/text.bpe_encode_expr (same self-delimited symbol encoding,
    one pass per merge), so the two cannot drift."""
    expr = _bpe_replace_chain()
    return rf"""
WITH words AS (
    SELECT unnest(regexp_split_to_array(
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS w
    FROM documents
),
enc AS (
    SELECT {expr} AS sp FROM words WHERE length(w) >= 1
),
tok AS (
    SELECT unnest(regexp_split_to_array(trim(sp), ' +')) AS token FROM enc
),
counted AS (
    SELECT token, COUNT(*) AS n_tokens FROM tok GROUP BY token
)
SELECT token, n_tokens, rank FROM (
    SELECT token, n_tokens,
           CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, token ASC) AS INT) AS rank
    FROM counted
) WHERE rank <= 50
"""


@query("x3_bpe_encode", oracle=_bpe_encode_oracle())
def x3_bpe_encode(spark, sf_dir):
    """X3 BPE ENCODE (operators/text.bpe_encode_expr) — the apply half of
    tokenization that a training pipeline runs per document (the training
    half's argmax relation is x3_bpe_pair_counts): every word greedily
    merged with the pinned BPE_MERGES table, corpus token frequencies out
    (top 50 by count).  The merges table is bounded and compiled INTO the
    plan as chained leftmost-non-overlapping ``replace`` calls over a
    self-delimited symbol string — whole-stage codegen, no UDF, no
    regex lookarounds (DuckDB's RE2 has none, so the oracle replays the
    identical chain).  Shuffle is the token-count aggregation, bounded
    by the merged vocabulary; the top-50 is a TakeOrderedAndProject."""
    from pyspark.sql.window import Window

    toks = text.bpe_encode_tokens(_t(spark, sf_dir, "documents"))
    counted = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        counted.orderBy(F.desc("n_tokens"), F.asc("token"))
        .limit(50)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("n_tokens"), F.asc("token")))
            .cast("int"),
        )
    )


def _bpe_budget_pack_oracle() -> str:
    """DuckDB replay of the composed pipeline: per-doc BPE token counts
    (same replace chain as the encode oracle) fed into the declarative
    statement of the distributed exclusive-prefix-sum shard packing."""
    return rf"""
WITH words AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS w
    FROM documents
),
enc AS (
    SELECT doc_id, {_bpe_replace_chain()} AS sp
    FROM words WHERE length(w) >= 1
),
sized AS (
    SELECT doc_id,
           CAST(SUM(len(regexp_split_to_array(trim(sp), ' +'))) AS INT)
               AS n_bpe_tokens
    FROM enc GROUP BY doc_id
)
SELECT doc_id, n_bpe_tokens,
       CAST(FLOOR((SUM(n_bpe_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   - n_bpe_tokens) / 500.0) AS INT) AS shard_id
FROM sized ORDER BY doc_id
"""


@query("x6_bpe_budget_pack", oracle=_bpe_budget_pack_oracle())
def x6_bpe_budget_pack(spark, sf_dir):
    """X6 BPE-aware training-shard packing — the composed step a training
    pipeline actually runs between tokenization and the dataloader: each
    doc's REAL token cost under the pinned BPE merges (x3_bpe_encode's
    per-word chain, one corpus scan + one per-doc count aggregation)
    drives the distributed two-phase exclusive-prefix-sum packing
    (operators/sampling.pack_shards — per-bucket windows + a tiny
    bucket-offset window, never a single-partition global cumsum).
    Whitespace token counts (x6_pack_shards) over-budget shards exactly
    where BPE inflates rare words; this chain budgets on what the model
    will see.  The oracle replays BPE counts and the prefix-sum
    arithmetic as one declarative cumsum."""
    from ..operators import sampling

    toks = text.bpe_encode_tokens(_t(spark, sf_dir, "documents"))
    sized = (
        toks.groupBy("id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_bpe_tokens"))
        .select(F.col("id").alias("doc_id"), "n_bpe_tokens")
    )
    return sampling.pack_shards(
        sized, id_col="doc_id", size_col="n_bpe_tokens",
        budget=500, ids_per_bucket=100,
    ).orderBy("doc_id")
