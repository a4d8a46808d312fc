"""X2 similarity search — split from the single-module registry_ext (round 6).

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
# X2 — similarity search
# ===========================================================================


@query(
    "x2_cosine_topk",
    oracle="""
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS norm
    FROM embeddings
),
scored AS (
    SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
           round(list_dot_product(q.v, c.v) / (q.norm * c.norm), 6) AS cosine
    FROM base q JOIN base c ON q.vec_id != c.vec_id
    WHERE q.vec_id < 20
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
def x2_cosine_topk(spark, sf_dir):
    """X2 brute-force cosine top-k (exact ANN baseline): 20 query vectors
    against the full corpus, double-precision dot product in the fold's
    order (Arrow kernel by default), per-query top-5 on (cosine DESC,
    cand_id)."""
    return similarity.brute_force_topk(
        _t(spark, sf_dir, "embeddings"), k=5, n_queries=20
    )


@query("x2_lsh_bucketed_ann")  # xxhash64-derived planes -> rows-only check
def x2_lsh_bucketed_ann(spark, sf_dir):
    """X2 LSH-bucketed ANN: 8-bit random-hyperplane signatures bucket the
    corpus; queries probe their bucket + all 1-2-bit flips and rank by exact
    cosine within candidates.  Recall vs x2_cosine_topk asserted in tests."""
    return similarity.lsh_bucketed_ann(
        _t(spark, sf_dir, "embeddings"), k=5, n_queries=20, n_bits=8
    )


@query("x2_ivf_ann")  # deterministic but assignment-argmax heavy -> rows-only
def x2_ivf_ann(spark, sf_dir):
    """X2 IVF-bucketed ANN: Voronoi cells around 16 deterministic centroids,
    4-probe search, exact cosine ranking within the probed cells.  Recall vs
    x2_cosine_topk asserted in tests/test_ext_operators.py."""
    return similarity.ivf_bucketed_ann(
        _t(spark, sf_dir, "embeddings"), k=5, n_queries=20, n_centroids=16, n_probe=4
    )


_COSINE_TOPK_ORACLE = """
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS norm
    FROM embeddings
),
scored AS (
    SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
           round(list_dot_product(q.v, c.v) / (q.norm * c.norm), 6) AS cosine
    FROM base q JOIN base c ON q.vec_id != c.vec_id
    WHERE q.vec_id < 20
),
ranked AS (
    SELECT q_id, cand_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
    FROM scored
)
SELECT q_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
"""


@query("x2_ivf_full_probe", oracle=_COSINE_TOPK_ORACLE)
def x2_ivf_full_probe(spark, sf_dir):
    """X2 IVF ANN in full-probe configuration (n_probe == n_centroids):
    provably identical to brute-force top-k (every cell is probed, so the
    candidate set is the whole corpus) — checked against the exact
    brute-force oracle, which also validates the IVF plumbing (cell
    assignment + probe join + in-cell ranking) end to end.  The 4-probe
    flavor above is the scale configuration (rows-only + recall tests)."""
    return similarity.ivf_bucketed_ann(
        _t(spark, sf_dir, "embeddings"), k=5, n_queries=20, n_centroids=16, n_probe=16
    )


@query(
    "x2_embedding_norms",
    oracle="""
SELECT vec_id,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 6) AS l2_norm,
       CAST(len(embedding) AS INT) AS dim
FROM embeddings
""",
)
def x2_embedding_norms(spark, sf_dir):
    """X2 embedding hygiene: per-vector L2 norm + dimensionality — the
    normalization/validation pass an ANN index build runs first (catches
    zero vectors and ragged dims before they poison cosine scores)."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(F.sqrt(similarity.norm_sq_expr("embedding")), 6).alias("l2_norm"),
        F.size("embedding").cast("int").alias("dim"),
    )


