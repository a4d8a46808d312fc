"""Arrow-vectorized pandas_udf surface (SURVEY.md §2.10).

The reference needs zero UDFs and so does this engine's core — every §2
operator is built-in expressions.  This module is the *documented extension
point* for computations that genuinely cannot be expressed with built-ins:
Arrow-batched ``pandas_udf``s (10-100x faster than row-at-a-time Python
UDFs; SNIPPETS.md patterns [1]-[3]).

``cosine_scores_pandas`` intentionally duplicates the JVM fold in
operators/similarity.py so tests can assert the two paths agree — the
pattern to copy when adding a real numpy/torch-backed scorer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


_UDF_CACHE: dict[str, object] = {}


def _dot_pandas():
    """Arrow-batched dot product UDF (built lazily — pandas_udf needs an
    active SparkSession to resolve its return type)."""
    if "dot" not in _UDF_CACHE:

        @pandas_udf("double")
        def dot(a: pd.Series, b: pd.Series) -> pd.Series:
            av = np.stack(a.to_numpy()).astype(np.float64)
            bv = np.stack(b.to_numpy()).astype(np.float64)
            return pd.Series(np.einsum("ij,ij->i", av, bv))

        _UDF_CACHE["dot"] = dot
    return _UDF_CACHE["dot"]


def _norm_pandas():
    if "norm" not in _UDF_CACHE:

        @pandas_udf("double")
        def norm(v: pd.Series) -> pd.Series:
            av = np.stack(v.to_numpy()).astype(np.float64)
            return pd.Series(np.sqrt(np.einsum("ij,ij->i", av, av)))

        _UDF_CACHE["norm"] = norm
    return _UDF_CACHE["norm"]


def cosine_scores_pandas(
    pairs: DataFrame, a_col: str = "qv", b_col: str = "cv"
) -> DataFrame:
    """Score (query, candidate) vector pairs with the Arrow path.

    numpy's pairwise-summation dot differs from a sequential fold only in
    float round-off (~1e-15 relative); consumers should round before
    ranking, as the JVM path does."""
    dot, norm = _dot_pandas(), _norm_pandas()
    return pairs.withColumn(
        "cosine_pandas",
        F.round(
            dot(F.col(a_col), F.col(b_col))
            / (norm(F.col(a_col)) * norm(F.col(b_col))),
            6,
        ),
    )


def sentence_split_udtf():
    """Python UDTF (SURVEY.md §2.10 — the table-function corner of the UDF
    surface): lazily builds and returns a ``udtf``-decorated class that
    explodes a document into ``(sentence_idx, sentence)`` rows.

    Deliberately mirrors the built-in fast path
    ``posexplode(split(text, sentence_regex))`` — tests assert the two
    agree, which is the pattern for validating any future UDTF whose logic
    CAN'T be expressed with built-ins.  Like every row-at-a-time Python
    path, this is the slow lane: use it for API parity and genuinely
    imperative logic, never in the 100 TB hot path.
    """
    if "sentence_udtf" not in _UDF_CACHE:
        from pyspark.sql.functions import udtf

        @udtf(returnType="sentence_idx: int, sentence: string")
        class SentenceSplit:
            def eval(self, text: str):  # noqa: D102 — UDTF contract
                if text is None:
                    return
                import re

                for i, s in enumerate(re.split(r"(?<=[.!?])\s+", text)):
                    if s:
                        yield i, s

        _UDF_CACHE["sentence_udtf"] = SentenceSplit
    return _UDF_CACHE["sentence_udtf"]


def sentences_builtin(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The JVM twin of ``sentence_split_udtf``: posexplode over a regexp
    split — whole-stage codegen, zero Python."""
    parts = F.split(F.col(text_col), r"(?<=[.!?])\s+")
    return (
        df.select("doc_id", F.posexplode(parts).alias("sentence_idx", "sentence"))
        .filter(F.col("sentence") != "")
    )
