"""Helpers shared across registry_ext block modules.

Everything here is used by two or more blocks (the single-block helpers
stayed with their block): the table loader, the synthetic near-dup
fixture builder, the stopword / language-marker SQL fragments, the SCD2
full-recompute oracle, and the per-(query, fixture) round-trip scratch
dirs.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

from ..catalog import load_table, load_table_rebalanced
from ..operators import text  # noqa: F401

def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _tp(spark, sf_dir, name):
    """Rebalanced loader for MAP-heavy consumers (guide §2.5): identical to
    ``_t`` whenever the file layout already feeds ``defaultParallelism``
    scan tasks; otherwise one deterministic PK-hash repartition so the
    expansion/kernel stage is not serialized on a single row group.  Reach
    for it only where the scan feeds heavy per-row work (shingling, rolling
    hashes, trigram explosion, Arrow kernels) — never ahead of a broadcast
    side or a tiny relation, where the extra exchange is pure overhead."""
    return load_table_rebalanced(spark, sf_dir, name)


#: (sf_dir, n) -> [(vec_id, [float, ...]), ...] — see _embedding_head
_EMB_HEAD_MEMO: dict = {}


def _embedding_head(spark, sf_dir, n):
    """First ``n`` embedding vectors (``vec_id < n``, ascending) as plain
    ``(vec_id, [float, ...])`` pairs — the driver-side seed/centroid/query
    state the clustering and PQ showcase queries pin their literals from.

    Memoized per (fixture dir, n): the fixture parquet is immutable, so
    repeated plan BUILDS of the same query in one process (bench warm-up +
    3 timed runs, plan lint, verify) pay the bounded head-scan job once
    instead of once per construction — the same policy as x2_knn_join's
    corpus-count memo, and the honest deployment shape: centroids and
    codebooks are index-time artifacts reused across every query."""
    key = (sf_dir, n)
    got = _EMB_HEAD_MEMO.get(key)
    if got is None:
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
            .filter(F.col("vec_id") < n)
            .orderBy("vec_id")
            .collect()
        )
        got = [(int(r.vec_id), [float(x) for x in r.v]) for r in rows]
        _EMB_HEAD_MEMO[key] = got
    return got


#: how many mutated copies _with_synthetic_near_dups injects — callers that
#: pre-compute corpus row counts (e.g. the SHJ-bounding corpus_count pins in
#: q01_dedup) must add exactly this many rows to the base-table count.
N_SYNTHETIC_NEAR_DUPS = 20


def _with_synthetic_near_dups(docs):
    """Append mutated copies of the first N_SYNTHETIC_NEAR_DUPS docs (drop
    first word, id+1_000_000) — guarantees true near-duplicates exist at any
    scale factor so LSH recall checks are non-vacuous."""
    mutated = (
        docs.filter(F.col("doc_id") < N_SYNTHETIC_NEAR_DUPS)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.regexp_replace(F.col("text"), r"^\S+\s+", "").alias("text"),
        )
    )
    return docs.select("doc_id", "text").unionByName(mutated)


def _with_synthetic_exact_dups(docs):
    """Append VERBATIM copies of the first N_SYNTHETIC_NEAR_DUPS docs
    (same text, id+2_000_000) — the fixture corpus contains no exact text
    duplicates at any scale factor, so an exact-dedup pipeline stage is
    vacuous without injection (round-13 curation v4)."""
    copies = docs.filter(F.col("doc_id") < N_SYNTHETIC_NEAR_DUPS).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionByName(copies)


_STOP_LIST = "['" + "','".join(text.STOPWORDS) + "']"


def _marker_list(lang: str) -> str:
    return "['" + "','".join(text.LANG_MARKERS[lang]) + "']"


_LANG_SCORE_SQL = ",\n           ".join(
    f"len(list_filter(toks, x -> list_contains({_marker_list(lang)}, x))) AS s_{lang}"
    for lang in text.LANG_MARKERS
)


_LANG_GREATEST = "greatest(" + ", ".join(f"s_{l}" for l in text.LANG_MARKERS) + ")"


_LANG_CASE = (
    f"CASE WHEN {_LANG_GREATEST} = 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{lang} = {_LANG_GREATEST} THEN '{lang}'" for lang in text.LANG_MARKERS
    )
    + " END"
)


#: full-recompute SCD2 oracle over the whole event log — shared by the
#: derivation entry (x7) and the incremental-apply entry (x10_scd2_apply),
#: whose whole point is that applying a later batch incrementally must equal
#: this full recompute bit-for-bit.
_SCD2_FULL_RECOMPUTE_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _prev,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _rn
    FROM events
),
changes AS (
    -- null-safe change detection mirroring scd2_intervals: IS DISTINCT
    -- FROM keeps transitions into/out of NULL attr values and the _rn = 1
    -- arm keeps a NULL-attr first row (NULL IS DISTINCT FROM NULL = false)
    SELECT user_id, ts, event_id, event_type
    FROM ordered WHERE _rn = 1 OR event_type IS DISTINCT FROM _prev
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            THEN 1 ELSE 0 END AS is_current
FROM changes
"""


#: one stable temp dir per (round-trip query prefix, fixture dir) pair
_RT_DIRS: dict = {}


def _rt_tmpdir(prefix: str, sf_dir: str) -> str:
    """Per-(query, fixture) round-trip scratch dir, removed only at
    interpreter exit.

    Results are LAZY: a caller may build several round-trip plans
    (s19/s20/s21/s22/s23/s24/x2_index_persist) before evaluating the first,
    so deleting another query's dir at build time would yank files out from
    under a not-yet-evaluated scan (the round-4 ADVICE finding).  The key
    includes ``sf_dir`` (the round-5 ADVICE finding): re-building the SAME
    query at a different scale factor gets its own dir, so the first
    build's not-yet-evaluated plan keeps its files, and s23's loose
    ``open()``-written per-doc files (which ``mode=overwrite`` does not
    govern) can never be stale leftovers from a different fixture.
    Re-building the same (query, fixture) reuses its dir — the Spark
    writes are mode=overwrite and s23 rewrites the identical file set —
    so repeated bench/test runs don't accumulate disk; the atexit hook
    cleans everything up at process exit."""
    import atexit
    import shutil
    import tempfile

    key = (prefix, sf_dir)
    if key not in _RT_DIRS:
        out = tempfile.mkdtemp(prefix=prefix)
        _RT_DIRS[key] = out
        atexit.register(shutil.rmtree, out, ignore_errors=True)
    return _RT_DIRS[key]


#: the dirs of the last call of each query that replaces its temp dirs on
#: every call; never emptied once set, so the exit hook registers once
_REPLACED_DIRS: dict = {}


def _replace_tmpdirs(owner: str, *prefixes: str) -> list[str]:
    """Fresh temp dirs, one per prefix, for a query that writes and reads
    back its own files on every call: the dirs of ``owner``'s previous
    call are removed first, and the last call's at interpreter exit, as
    :func:`_rt_tmpdir`'s are."""
    import atexit
    import shutil
    import tempfile

    if not _REPLACED_DIRS:
        atexit.register(_remove_replaced_dirs)
    for d in _REPLACED_DIRS.pop(owner, ()):
        shutil.rmtree(d, ignore_errors=True)
    _REPLACED_DIRS[owner] = [tempfile.mkdtemp(prefix=p) for p in prefixes]
    return _REPLACED_DIRS[owner]


def _remove_replaced_dirs() -> None:
    import shutil

    for dirs in _REPLACED_DIRS.values():
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
