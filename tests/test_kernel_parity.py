"""Fold ≡ Arrow parity matrix for the kernel twins (``kernels.use_arrow``).

Each twin's fold plan is the reference.  For every twin and input, the
Arrow kernel must return the fold's rows and schema on a non-empty
result, and actually run its kernel.  Every twin is also checked on NULL
ids, an empty query side, string ids (``"auto"`` must pick the fold), and
a misspelled kernel name (must raise).
"""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from etl_for_ecol_fusion_database_spark.catalog import load_table
from etl_for_ecol_fusion_database_spark.operators import clustering, dedup, similarity

from .conftest import SF_CORRECT as SF

#: plan node each Arrow kernel adds (semantic_dedup's batched cluster
#: assignment is a MapInPandas on both paths, its pair kernel is not)
MARKER = {"semantic_dedup": "FlatMapGroupsInPandas"}


@functools.lru_cache(maxsize=None)
def _head(spark, n):
    """The first ``n`` fixture vectors as double lists (seeds, codebooks)."""
    emb = load_table(spark, SF, "embeddings")
    return [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < n).orderBy("vec_id").collect()
    ]


def _pq(spark, df, kernel):
    head = _head(spark, 4)
    books = [[head[c][j * 16 : (j + 1) * 16] for c in range(4)] for j in range(4)]
    df = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return clustering.pq_encode(df, "vec_id", "embedding", books, sub_dim=16, kernel=kernel)


def _semdedup(spark, df, kernel):
    df = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return dedup.semantic_dedup(
        df, _head(spark, 40), "vec_id", "embedding", threshold=0.3, pair_kernel=kernel
    )


#: twin -> (input table, run(spark, df, kernel))
TWINS = {
    "brute_force_topk": ("embeddings", lambda s, df, k: similarity.brute_force_topk(df, kernel=k)),
    "quantized_topk": ("embeddings", lambda s, df, k: similarity.quantized_topk(df, kernel=k)),
    "semantic_dedup": ("embeddings", _semdedup),
    "pq_encode": ("embeddings", _pq),
    "cdc_chunk_rows": ("documents", lambda s, df, k: dedup.cdc_chunk_rows(df, kernel=k)),
    "duplicated_spans": ("documents", lambda s, df, k: dedup.duplicated_spans(df, kernel=k)),
    "scrub_duplicated_spans": (
        "documents", lambda s, df, k: dedup.scrub_duplicated_spans(df, min_span=150, kernel=k)
    ),
}

EDGE_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog " * 30),
    (2, ""),
    (3, "short"),
    (4, None),
    (5, "ab\U00010348cdéf " * 50),  # astral chars: code-point indexing
    (6, "x" * 500),  # boundary-dense
    (7, "ab\U00010348cdéf " * 50),
    (None, "the quick brown fox jumps over the lazy dog " * 10),
    (None, None),
]


def _fixture(spark, twin, ids="bigint"):
    table = TWINS[twin][0]
    df = load_table(spark, SF, table)
    key = "vec_id" if table == "embeddings" else "doc_id"
    if ids == "null":
        return df.withColumn(key, F.when(F.col(key) % 37 != 5, F.col(key)))
    return df.withColumn(key, F.col(key).cast(ids))


def _raw_cosines(spark, df, kernel):
    return similarity._cosine_scores(
        df.limit(300), "vec_id", "embedding", 8, quantize=False, kernel=kernel
    )


ZERO_VECTORS = [(0, [0.0] * 4), (1, [1.0, 2.0, 3.0, 4.0]), (2, [2.0, 4.0, 6.0, 8.0]),
                (3, [-1.0, 0.5, 0.0, 2.0])]

#: case id -> (twin, make_input(spark, twin), run); run defaults to the twin's own
CASES = {
    "brute_force_topk": ("brute_force_topk", _fixture, None),
    "brute_force_topk-raw-doubles": ("brute_force_topk", _fixture, _raw_cosines),
    "brute_force_topk-snap6": ("brute_force_topk", _fixture, lambda s, df, k: similarity.brute_force_topk(
        df.limit(200), k=3, n_queries=5, snap6=True, kernel=k)),
    "brute_force_topk-int32": ("brute_force_topk", lambda s, t: _fixture(s, t, "int"), None),
    "quantized_topk": ("quantized_topk", _fixture, None),
    "quantized_topk-zero-vectors": ("quantized_topk", lambda s, t: s.createDataFrame(
        ZERO_VECTORS, "vec_id long, embedding array<float>"),
        lambda s, df, k: similarity.quantized_topk(df, k=3, n_queries=3, kernel=k)),
    "semantic_dedup": ("semantic_dedup", _fixture, None),
    "pq_encode": ("pq_encode", _fixture, None),
    "pq_encode-int32": ("pq_encode", lambda s, t: _fixture(s, t, "int"), None),
    "cdc_chunk_rows": ("cdc_chunk_rows", _fixture, None),
    "cdc_chunk_rows-edge-text": ("cdc_chunk_rows", lambda s, t: s.createDataFrame(
        EDGE_DOCS, "doc_id long, text string"), None),
    "duplicated_spans": ("duplicated_spans", _fixture, None),
    "duplicated_spans-edge-text": ("duplicated_spans", lambda s, t: s.createDataFrame(
        EDGE_DOCS, "doc_id long, text string"), None),
    "scrub_duplicated_spans": ("scrub_duplicated_spans", _fixture, None),
}


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _both(spark, twin, df, run=None, empty=False):
    """(fold rows, arrow rows) of one twin on ``df``, after checking the
    schemas match and (unless the plan is ``empty``) the kernel runs."""
    run = run or TWINS[twin][1]
    fold, arrow = run(spark, df, "fold"), run(spark, df, "arrow")
    shape = [(f.name, f.dataType) for f in fold.schema]
    assert [(f.name, f.dataType) for f in arrow.schema] == shape, (arrow.schema, fold.schema)
    assert empty or MARKER.get(twin, "MapInPandas") in _plan(arrow)

    def rows(d):
        return sorted(map(tuple, d.collect()), key=lambda t: [(v is None, v) for v in t])

    return rows(fold), rows(arrow)


@pytest.mark.parametrize("case", list(CASES))
def test_fold_arrow_parity(spark, case):
    twin, build, run = CASES[case]
    fold, arrow = _both(spark, twin, build(spark, twin), run)
    assert fold == arrow
    assert len(fold) > 3, "vacuous parity: the fold returned almost nothing"


#: twins whose fold keeps NULL-id rows (the rest drop them: the cosine
#: folds' q_id != cand_id and the CDC text re-attach join reject NULLs)
KEEPS_NULL_IDS = {"semantic_dedup", "pq_encode", "duplicated_spans", "scrub_duplicated_spans"}


@pytest.mark.parametrize("twin", list(TWINS))
def test_null_ids(spark, twin):
    df = _fixture(spark, twin, "null")
    run = TWINS[twin][1]
    if twin in ("brute_force_topk", "quantized_topk"):
        # every pair kept: NULL candidates would shift ranks, not just add rows
        fn = getattr(similarity, twin)
        run = lambda s, d, k: fn(d, k=10000, n_queries=20, kernel=k)  # noqa: E731
    fold, arrow = _both(spark, twin, df, run)
    assert fold == arrow and len(fold) > 3
    ids = [t[1] if twin.endswith("_topk") else t[0] for t in fold]
    assert (None in ids) == (twin in KEEPS_NULL_IDS)


@pytest.mark.parametrize("twin", list(TWINS))
def test_empty_query_side(spark, twin):
    df = _fixture(spark, twin)
    run = TWINS[twin][1]
    if twin in ("brute_force_topk", "quantized_topk"):
        fn = getattr(similarity, twin)
        run = lambda s, d, k: fn(d, n_queries=0, kernel=k)  # noqa: E731
    else:
        df = df.limit(0)
    fold, arrow = _both(spark, twin, df, run, empty=True)
    assert fold == arrow == []


@pytest.mark.parametrize("twin", list(TWINS))
def test_string_ids_auto_picks_fold(spark, twin):
    df = _fixture(spark, twin, "string")
    run = TWINS[twin][1]
    auto, fold = run(spark, df, "auto"), run(spark, df, "fold")
    assert MARKER.get(twin, "MapInPandas") not in _plan(auto)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, fold.collect()))


@pytest.mark.parametrize("twin", list(TWINS))
def test_unknown_kernel_raises(spark, twin):
    df = _fixture(spark, twin)
    with pytest.raises(ValueError, match="kernel"):
        TWINS[twin][1](spark, df, "arow")
