"""X3 text analysis — split from the single-module registry_ext (round 6).

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
    _marker_list,
    _rt_tmpdir,
    _t,
    _with_synthetic_near_dups,
)

# ===========================================================================
# X3 — text analysis
# ===========================================================================


@query(
    "x3_token_counts",
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens
FROM documents
""",
)
def x3_token_counts(spark, sf_dir):
    """X3 token counting: whitespace + BPE-ish pre-tokenizer regex."""
    return text.token_counts(_t(spark, sf_dir, "documents"))




@query(
    "x3_text_quality",
    oracle=rf"""
WITH t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS toks,
           len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
           length(text) AS n_chars
    FROM documents
),
r AS (
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           len(list_filter(toks, x -> list_contains({_STOP_LIST}, x)))::DOUBLE
               / len(toks)::DOUBLE AS sr,
           n_punct::DOUBLE / n_chars::DOUBLE AS pr,
           least(n_chars::DOUBLE / 500.0, 1.0) AS ln
    FROM t
)
SELECT doc_id, n_tokens,
       round(sr, 6) AS stopword_ratio,
       round(pr, 6) AS punct_ratio,
       round(0.4 * sr + 0.3 * (1.0 - pr) + 0.3 * ln, 6) AS quality_score
FROM r
""",
)
def x3_text_quality(spark, sf_dir):
    """X3 quality scoring: stopword/punctuation/length ratios composed into
    a [0,1] score — the C4/Gopher-style cheap quality filter shape."""
    return text.quality_score(_t(spark, sf_dir, "documents"))






@query(
    "x3_lang_id",
    oracle=rf"""
WITH t AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\s+') AS toks
    FROM documents
),
s AS (
    SELECT doc_id,
           {_LANG_SCORE_SQL}
    FROM t
)
SELECT doc_id,
       {", ".join(f"CAST(s_{l} AS INT) AS score_{l}" for l in text.LANG_MARKERS)},
       {_LANG_CASE} AS pred_lang
FROM s
""",
)
def x3_lang_id(spark, sf_dir):
    """X3 language-ID heuristic: marker-vocabulary hit argmax with fixed
    tie order, 'und' when no hits."""
    return text.lang_id(_t(spark, sf_dir, "documents"))


@query(
    "x3_fingerprint",
    oracle=r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
)
def x3_fingerprint(spark, sf_dir):
    """X3 document fingerprint: md5 over normalized text (NB DuckDB
    regexp_replace needs the 'g' flag to match Spark's replace-all)."""
    return text.fingerprint_md5(_t(spark, sf_dir, "documents"))


@query("x3_fingerprint_rolling")  # xxhash64 -> rows-only driver check
def x3_fingerprint_rolling(spark, sf_dir):
    """X3 winnowing-style rolling-hash fingerprint (min xxhash64 over
    char 8-grams); invariance under whitespace-only edits tested in
    tests/test_ext_operators.py."""
    return text.fingerprint_rolling(_t(spark, sf_dir, "documents"))


@query(
    "x3_fingerprint_portable",
    oracle=r"""
WITH n AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
    FROM documents
)
SELECT doc_id,
       list_min([CAST(list_sum([(strpos('0123456789abcdef',
                                        md5(substr(norm, i, 8))[j]) - 1)
                                * CAST(power(16, 12 - j) AS BIGINT)
                                for j in generate_series(1, 12)])
                      % 2147483647 AS BIGINT)
                 for i in generate_series(1, greatest(length(norm) - 7, 1))])
           AS rolling_fp,
       md5(norm) AS exact_fp
FROM n
""",
)
def x3_fingerprint_portable(spark, sf_dir):
    """X3 rolling fingerprint with the portable md5-prefix hash family
    (operators/text.fingerprint_rolling_portable): the DuckDB oracle
    replays the min-over-8-grams winnowing exactly, giving the rolling
    fingerprint a full value-hash driver check; x3_fingerprint_rolling
    keeps the xxhash64 fast path with a rows-only check."""
    return text.fingerprint_rolling_portable(_t(spark, sf_dir, "documents"))


@query(
    "x3_vocab_topk",
    oracle=r"""
SELECT token, n_occurrences FROM (
    SELECT token, COUNT(*) AS n_occurrences
    FROM (
        SELECT unnest(regexp_split_to_array(
            trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
        FROM documents
    ) t
    WHERE token != ''
    GROUP BY token
) g
ORDER BY n_occurrences DESC, token ASC
LIMIT 100
""",
)
def x3_vocab_topk(spark, sf_dir):
    """X3 vocabulary building: top-100 tokens by corpus frequency over
    normalized text (explode -> count with map-side combine -> top-k)."""
    return text.vocab_topk(_t(spark, sf_dir, "documents"), k=100)


@query(
    "x3_length_histogram",
    oracle="""
SELECT CAST(length(text) // 100 AS BIGINT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(MIN(length(text)) AS INT) AS min_chars,
       CAST(MAX(length(text)) AS INT) AS max_chars
FROM documents
GROUP BY 1
""",
)
def x3_length_histogram(spark, sf_dir):
    """X3 document-length histogram (100-char buckets) — the before/after
    distribution profile of a curation pipeline."""
    return text.length_histogram(_t(spark, sf_dir, "documents"), bucket_width=100)


@query(
    "x1_training_data_prep",
    oracle=rf"""
WITH t AS (
    SELECT doc_id, text,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
           regexp_split_to_array(trim(text), '\s+') AS toks,
           regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
           len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
           length(text) AS n_chars
    FROM documents
),
scored AS (
    SELECT doc_id, norm,
           CAST(len(toks) AS INT) AS n_tokens,
           round(0.4 * (len(list_filter(toks, x -> list_contains({_STOP_LIST}, x)))::DOUBLE
                        / len(toks)::DOUBLE)
                 + 0.3 * (1.0 - n_punct::DOUBLE / n_chars::DOUBLE)
                 + 0.3 * least(n_chars::DOUBLE / 500.0, 1.0), 6) AS quality_score,
           {_LANG_SCORE_SQL.replace("toks", "ltoks")}
    FROM t
),
filtered AS (
    SELECT * FROM scored
    WHERE quality_score >= 0.5
      AND {_LANG_CASE} = 'en'
)
SELECT MIN(doc_id) AS doc_id,
       arg_min(n_tokens, doc_id) AS n_tokens,
       arg_min(quality_score, doc_id) AS quality_score,
       COUNT(*) AS n_copies
FROM filtered
GROUP BY norm
""",
)
def x1_training_data_prep(spark, sf_dir):
    """X1+X3 composed training-data prep: quality filter + language filter +
    exact dedup (min-id survivorship) in one narrow projection + one
    shuffle — the end-to-end curation pipeline over documents."""
    return text.training_data_prep(
        _t(spark, sf_dir, "documents"), min_quality=0.5, lang="en"
    )


