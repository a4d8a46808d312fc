"""The one contract for operators that pair a pure-JVM "fold" plan with an
Arrow ``mapInPandas``/``applyInPandas`` kernel.

The twins are ``similarity.brute_force_topk``, ``similarity.quantized_topk``,
``dedup.semantic_dedup`` (its within-cluster pairs), ``dedup.cdc_chunk_rows``,
``dedup.duplicated_spans`` (and ``scrub_duplicated_spans`` on top of it) and
``clustering.pq_encode``.  Each takes ``kernel`` (``pair_kernel`` for
SemDeDup) and resolves it through :func:`use_arrow`:

- ``"fold"`` is the relational form and the reference: built-in
  expressions only, replayable in ANSI SQL, and the anchor every Arrow
  kernel is held to row for row and schema for schema
  (tests/test_kernel_parity.py);
- ``"arrow"`` runs the numpy kernel.  It folds floats in the fold's order
  (scalar-sequential across the dim index) or uses integer arithmetic, so
  its values are bit-identical; rounding and decisions stay Spark-side;
- ``"auto"`` (every twin's default) is ``"arrow"`` when the id column, if
  the twin carries one, is integral — the kernels round-trip ids through
  numpy, which is lossless and order-preserving only for integers.
  Anything else raises.

Kernel-side rules the parity tests pin: an Arrow plan declares the id
column's own type, so ``"auto"`` never changes an output schema; a NULL
id is treated as the fold treats it (each twin says how), and id columns
are cast through :func:`checked_id_series`; an empty query side or an
empty batch yields an empty relation, never a numpy error.

numpy, pandas and pyarrow are required dependencies, so neither branch is
a fallback for their absence: the fold stays because it is the parity
reference and the route for non-integral ids.
"""

from __future__ import annotations

from pyspark.sql import types as T

KERNELS = ("auto", "arrow", "fold")

_NULLABLE_INT_DTYPE = {
    T.ByteType: "Int8",
    T.ShortType: "Int16",
    T.IntegerType: "Int32",
    T.LongType: "Int64",
}

#: largest magnitude float64 represents exactly for every integer
_FLOAT64_EXACT_MAX = 2 ** 53


def use_arrow(kernel: str, id_type: T.DataType | None = None) -> bool:
    """Resolve a twin's ``kernel`` argument: True runs the Arrow kernel.

    Raises on any name outside :data:`KERNELS` (a typo must not silently
    take the slow fold path).  ``"auto"`` requires ``id_type``, when
    given, to be integral."""
    if kernel not in KERNELS:
        raise ValueError(f"kernel must be one of {KERNELS}, got {kernel!r}")
    if kernel != "auto":
        return kernel == "arrow"
    return id_type is None or type(id_type) in _NULLABLE_INT_DTYPE


def nullable_int_dtype(spark_type: T.DataType) -> str | None:
    """Pandas masked extension dtype for a Spark integral type, else None.

    The Arrow → pandas exchange materializes an integer column holding
    ANY null as float64 (NaN) or object, so a kernel that round-trips ids
    via ``.to_numpy()`` either fails the cast back to the declared type or
    diverges from the fold plan.  Casting to this dtype (Int8..Int64)
    keeps null ids null end to end."""
    return _NULLABLE_INT_DTYPE.get(type(spark_type))


def checked_id_series(raw, dtype: str | None):
    """Cast an Arrow-exchanged id column to its masked extension ``dtype``,
    refusing silent float64 precision loss.

    A batch that mixes NULL ids with ids of magnitude ≥ 2^53 arrives as
    float64, so those ids lost precision before the kernel ran, and
    ``astype('Int64')`` would launder them back into exact-looking
    integers.  The guard only scans columns that actually transited float
    (a batch without nulls arrives as int64) and points to the fold plan,
    which handles such ids natively."""
    if dtype is None:
        return raw
    if raw.dtype.kind == "f":
        import numpy as np

        vals = raw.to_numpy()
        finite = np.isfinite(vals)
        if finite.any() and np.abs(vals[finite]).max() >= _FLOAT64_EXACT_MAX:
            raise ValueError(
                "id column transited float64 (batch mixes nulls with ids of "
                "magnitude >= 2^53): non-null ids may have lost precision "
                "before the kernel ran — use kernel='fold' for this data"
            )
    return raw.astype(dtype)
