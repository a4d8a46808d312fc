"""Embedding clustering: distributed Lloyd's k-means over an
``array<float>`` column.

Why hand-rolled rather than ``pyspark.ml.clustering.KMeans``: the MLlib
estimator pulls in the RDD-based legacy path and nondeterministic
k-means|| init; this implementation is pure DataFrame ops with
DETERMINISTIC seeding (the k lowest-id vectors), so results are
reproducible across runs/cluster sizes and testable against a NumPy
reference (tests/test_curation_ops.py).

Per iteration:
- assignment: broadcast the k centroids as an array-of-structs literal and
  pick argmin squared-distance with one ``aggregate`` fold per centroid —
  flat column expressions, no Python in the loop;
- update: posexplode vectors to (cluster, pos, x) rows and take
  AVG per (cluster, pos) — ONE hash aggregation with map-side partial
  sums; the k×dim result is collected to the driver (tiny) to seed the
  next round's literal.

Driver-side state is k×dim floats per round — the same communication
pattern as MLlib's own treeAggregate loop.  Iterations are fixed-count
(training-data clustering runs a known small budget) rather than
convergence-tested, keeping every run exactly reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import checked_id_series, nullable_int_dtype, use_arrow


def _sq_dist(vec_col: str, centroid: list[float]):
    """Squared L2 distance between an array column and a Python-side
    centroid, as a single fold: sum((v[i] - c[i])^2).  The centroid enters
    the plan as a literal array (broadcast with the task binary)."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(F.col(vec_col), c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Add ``cluster`` = argmin_k squared-distance(vec, centroid_k).
    Ties resolve to the lowest cluster index.

    Expression-size note: the argmin is ``least(d_0..d_k)`` plus one
    equality ``when`` chain — every distance fold is referenced a CONSTANT
    number of times.  The earlier running-min ``when`` chain doubled the
    inlined fold expressions per centroid once Catalyst collapsed the
    projection (2^k blowup: k=16 ran 9x slower than k=4 despite 4x fewer
    downstream pairs).  The equality compare is exact because ``least``
    returns one of its inputs bit-for-bit, and matching the FIRST equal
    distance reproduces the lowest-index tie rule."""
    dists = [_sq_dist(vec_col, c).alias(f"_d{i}") for i, c in enumerate(centroids)]
    with_d = df.select("*", *dists)
    if len(centroids) == 1:
        return with_d.select(*df.columns, F.lit(0).cast("int").alias("cluster"))
    best_d = F.least(*[F.col(f"_d{i}") for i in range(len(centroids))])
    best = F.when(F.col("_d0") == best_d, F.lit(0))
    for i in range(1, len(centroids)):
        best = best.when(F.col(f"_d{i}") == best_d, F.lit(i))
    return with_d.select(*df.columns, best.cast("int").alias("cluster"))


def assign_clusters_batched(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """``assign_clusters`` semantics at large ``k`` via Arrow-batched
    numpy (``mapInPandas``) — BIT-IDENTICAL to the JVM fold, ~50x
    faster per row than interpreted higher-order-function evaluation.

    Why Python here when the rule is "UDFs are the slow path": the
    distance matrix is a dense (batch x k x dim) numeric kernel — exactly
    the shape Arrow-vectorized numpy exists for.  The JVM expression
    paths evaluate one ``aggregate(zip_with(...))`` fold per (row,
    centroid) with per-element interpreter overhead; at k=160/dim=64
    that measured ~40 s for 20k rows where this kernel runs in well under
    a second.  No semantics move into Python that the fold didn't have.

    Bit-exactness contract (what makes this substitutable for
    ``assign_clusters`` under the DuckDB-oracle hash gate): the WINNING
    cluster id per row is exactly the one the fold picks — the fold's
    scalar-sequential float64 accumulation (``acc += (v_i - c_i)^2``
    across the dim index in order) decides every comparison the outcome
    could hinge on, with first-minimum (lowest-index) ties.  Verified
    equal to the JVM fold in tests/test_curation_ops.py; adversarial
    duplicate-centroid / near-tie cases pinned in
    tests/test_round10_kernels.py.

    HOW (round 10 — the dim-sequential full (n x k) loop was 160 s at
    sf10's N=200k/k=1600, memory-bound on 3 temps of n x k doubles per
    dim index): squared-L2 distance is computed ONCE per (row, centroid)
    via the BLAS identity ``|v|^2 - 2 v.C^T + |c|^2`` (one matmul), then
    rows keep every centroid within a conservative epsilon of their
    approximate minimum and ONLY those candidates get the exact fold-
    order recompute; the winner is the candidates' fold-d2 first-min.
    The epsilon (``1e-9 * (1 + |v|^2 + max|c|^2)``) exceeds the matmul
    route's worst-case float64 error (~``3e-14 * (|v|^2 + |c|^2)``) by
    >10^4, so the true fold argmin can never be pruned; any centroid
    BEYOND epsilon is farther under both computations and can never win.
    Bitwise-duplicate centroids are collapsed to their lowest index
    before pruning (first-min can never pick the higher copy), keeping
    the multi-candidate recompute loop bounded by genuine near-ties.

    Scale shape: centroids ride the closure (k x dim doubles, broadcast
    with the task binary); each Arrow batch does one (n x dim) @
    (dim x k) matmul + an O(candidates) recompute; output is one row per
    input row — no shuffle at all (the downstream consumer decides its
    own partitioning)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    cent = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    cols = [f.name for f in df.schema.fields]
    out_schema = StructType(
        list(df.schema.fields) + [StructField("cluster", IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )  # (n, dim)
            best, _ = _fold_argmin_d2(v, cent)
            pdf = pdf[cols].copy()
            pdf["cluster"] = best.astype("int32")
            yield pdf

    return df.mapInPandas(assign, schema=out_schema)


def _fold_argmin_d2(v, cent):
    """Exact fold-semantics nearest centroid via matmul pruning: returns
    ``(winner_idx (n,), winner_exact_d2 (n,))`` where the winner per row
    is the first minimum (lowest index) of the scalar-sequential fold
    squared-L2 — the JVM ``assign_clusters`` contract — and the returned
    d2 is that winner's EXACT fold value (so callers may compare winners
    across calls, as the hierarchical kernel's cross-cell merge does).

    See :func:`assign_clusters_batched` for the epsilon proof.  Bitwise-
    duplicate centroid rows are collapsed to their lowest index first
    (first-min can never pick the higher copy), which keeps the
    multi-candidate exact-recompute loop bounded by GENUINE near-ties
    instead of degenerating on dup-heavy seed sets."""
    import numpy as np

    _, uniq_pos = np.unique(cent, axis=0, return_index=True)
    uniq_pos = np.sort(uniq_pos)
    c = cent[uniq_pos]
    n = v.shape[0]
    vnorm2 = (v * v).sum(axis=1)
    cnorm2 = (c * c).sum(axis=1)
    approx = vnorm2[:, None] - 2.0 * (v @ c.T) + cnorm2[None, :]
    amin = approx.min(axis=1)
    eps = 1e-9 * (1.0 + vnorm2 + (float(cnorm2.max()) if cnorm2.size else 0.0))
    cand_mask = approx <= (amin + eps)[:, None]
    best = approx.argmin(axis=1)  # correct wherever exactly 1 candidate
    d2 = np.zeros(n, dtype=np.float64)
    multi = (cand_mask.sum(axis=1) > 1).nonzero()[0]
    for r in multi:
        cands = cand_mask[r].nonzero()[0]  # ascending index order
        acc = np.zeros(cands.size, dtype=np.float64)
        vr = v[r]
        cc = c[cands]
        for i in range(cc.shape[1]):
            d = vr[i] - cc[:, i]
            acc += d * d
        loc = acc.argmin()
        best[r] = cands[loc]
        d2[r] = acc[loc]
    # exact fold d2 for the single-candidate winners (vectorized gather,
    # one fused subtract/square/add per dim index — the fold's order)
    sing_mask = np.ones(n, dtype=bool)
    sing_mask[multi] = False
    single = sing_mask.nonzero()[0]
    if single.size:
        cw = c[best[single]]
        vs = v[single]
        acc = np.zeros(single.size, dtype=np.float64)
        for i in range(cw.shape[1]):
            d = vs[:, i] - cw[:, i]
            acc += d * d
        d2[single] = acc
    return uniq_pos[best], d2


def assign_clusters_auto(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    *,
    row_count_hint: int | None = None,
) -> DataFrame:
    """Dispatch between the bit-identical assignment engines: the
    matmul-pruned Arrow kernel (:func:`assign_clusters_batched`) when the
    work justifies an Arrow pass, else the inlined-fold JVM path
    (:func:`assign_clusters`).

    Why not always Arrow (round-10 bench data): Catalyst never codegens
    higher-order functions, so a k=8 inline assignment pays 2 interpreted
    lambda evaluations per (row, centroid, dim index) — at sf10's 200k
    rows that made x8_kmeans_clusters' 4 assignment passes a 49 s head
    (14 s on the kernel).  But at SMALL N the Arrow pass itself (python
    worker spin-up + Arrow serialization per pass) costs more than the
    interpreted folds — kmeans_elbow's many tiny passes regressed 26% at
    sf0.1 under always-Arrow.  Dispatch: Arrow when k > 32 (the r09
    policy — k inlined expressions stop fitting one projection) OR when
    ``row_count_hint`` puts N x k x dim above ~1e6 interpreted steps
    (parquet-footer row counts at the call sites — zero Spark jobs).
    The ~1e6-step breakeven came from the round-10 constants: one Arrow
    pass cost ~0.2-0.4 s (python worker round-trip + serialization) and
    one interpreted fold step ~0.3-0.5 us, so kmeans_elbow's many tiny
    passes (<=0.8e6 steps each) stay inline while the IVF coarse argmin
    at 10x data (2e8 steps) takes the kernel.  Most of that pass cost was
    the workers re-parsing ``pyspark.zip`` before every task, which the
    ``pyspark_ecol_worker`` entry of ``session.get_spark`` removes.
    Re-measured on 4 vCPUs (64 cached sf0.1 embeddings, k=8, dim 64,
    median of 9 noop writes, minus the bare scan): one Arrow pass
    0.23 s without that entry, 0.055-0.062 s with it.  The threshold is
    not re-derived here (ROADMAP item 7).  The kernel's winners are
    pinned bit-identical to the folds (including duplicate-centroid and
    exact-tie cases, tests/test_round10_kernels.py), so every
    DuckDB-oracle replay is unaffected by which engine runs."""
    k = len(centroids)
    if k > 1:
        dim = len(centroids[0]) or 1
        big = k > 32 or (
            row_count_hint is not None and row_count_hint * k * dim > 1_000_000
        )
        if big:
            return assign_clusters_batched(df, vec_col, centroids)
    return assign_clusters(df, vec_col, centroids)


def _coarse_quantize_centroids(
    cent, n_coarse: int, n_iter: int = 5
):
    """Driver-side numpy Lloyd's over the FINE CENTROID SET (k x dim —
    bounded, never the corpus): returns (coarse (n_coarse x dim) array,
    members list mapping each coarse cell -> sorted fine-centroid
    indices).  Deterministic: strided seeds, first-min assignment, empty
    cells keep their previous centroid — same rules as ``kmeans_fit``."""
    import numpy as np

    k = cent.shape[0]
    stride = max(1, k // n_coarse)
    coarse = cent[::stride][:n_coarse].copy()
    n_coarse = coarse.shape[0]
    for _ in range(n_iter):
        d2 = ((cent[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=2)
        owner = d2.argmin(axis=1)
        for c in range(n_coarse):
            mask = owner == c
            if mask.any():
                coarse[c] = cent[mask].mean(axis=0)
    d2 = ((cent[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=2)
    owner = d2.argmin(axis=1)
    members = [
        sorted(int(i) for i in (owner == c).nonzero()[0])
        for c in range(n_coarse)
    ]
    return coarse, members


def assign_clusters_hierarchical(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    *,
    probes: int | None = None,
    n_coarse: int | None = None,
) -> DataFrame:
    """``assign_clusters`` shape for VERY large ``k`` via two-level
    (IVF-style) assignment: quantize the k fine centroids into
    ~sqrt(k) coarse cells (driver-side numpy over the k x dim centroid
    set — bounded, never the corpus), then per row (1) rank the coarse
    cells, (2) take the fine centroids owned by the ``probes`` nearest
    cells as candidates, (3) exact argmin squared-L2 over the candidates
    with the same lowest-index tie rule and the same scalar-sequential
    float64 accumulation order as the flat kernels.

    WHY this exists (the latent super-linear term the flat paths hide):
    SemDeDup wants constant cluster SIZE, so k grows with the corpus
    (k ~ N/125 here) — which makes flat assignment N x k x dim, i.e.
    ~N^2 * dim / 125.  Two measured decades (docs/SCALING_SF10.md) don't
    expose it because the constant is tiny at 64 dims, but at another
    2-3 decades the assignment would dominate everything.  Two-level
    assignment is N x (sqrt(k) + probes * k / sqrt(k)) x dim — the same
    rewrite IVF applies to serving, applied to index construction.

    Contract: APPROXIMATE for probes < n_coarse (a row whose true
    nearest fine centroid lives outside its probed cells gets its best
    candidate instead — the standard IVF trade; SemDeDup itself is an
    approximation, and a rare misassignment can only make it miss a
    near-dup pair, never invent one).  For probes >= n_coarse the
    candidate set is every fine centroid and the output is BIT-IDENTICAL
    to ``assign_clusters_batched`` (pinned in tests/test_curation_ops.py
    along with a >=98%-agreement bound at probes=8)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    cent = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    k = cent.shape[0]
    if n_coarse is None:
        n_coarse = max(1, int(np.ceil(np.sqrt(k))))
    if probes is None:
        probes = 8
    coarse, members = _coarse_quantize_centroids(cent, n_coarse)
    n_coarse = coarse.shape[0]
    probes = min(probes, n_coarse)
    member_arrs = [np.asarray(m, dtype=np.int64) for m in members]
    cols = [f.name for f in df.schema.fields]
    out_schema = StructType(
        list(df.schema.fields) + [StructField("cluster", IntegerType())]
    )

    def _coarse_d2(v):
        """(n x dim) -> (n x n_coarse) squared-L2 for coarse RANKING only
        (matmul route — the probe ORDER may differ from the fold's in
        eps-near-ties, which the approximate contract absorbs; at
        probes >= n_coarse every cell is probed so order cannot matter
        and the bit-identity pin holds through the exact per-cell
        winners below)."""
        vn2 = (v * v).sum(axis=1)
        return vn2[:, None] - 2.0 * (v @ coarse.T) + (coarse * coarse).sum(axis=1)[None, :]

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )  # (n, dim)
            n = v.shape[0]
            cd = _coarse_d2(v)  # (n, n_coarse)
            # stable top-p cells: full argsort is fine at sqrt(k) cells
            probe_cells = np.argsort(cd, axis=1, kind="stable")[:, :probes]
            best_d = np.full(n, np.inf)
            best_i = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
            for j in range(probes):
                cells_j = probe_cells[:, j]
                for c in np.unique(cells_j):
                    m = member_arrs[c]
                    if m.size == 0:
                        continue
                    rows = (cells_j == c).nonzero()[0]
                    # exact fold-contract winner + its exact fold d2
                    # within this cell (matmul-pruned inside the helper),
                    # so the cross-cell merge below compares the same
                    # doubles the flat kernels would
                    loc, dloc = _fold_argmin_d2(v[rows], cent[m])
                    iloc = m[loc]
                    upd = (dloc < best_d[rows]) | (
                        (dloc == best_d[rows]) & (iloc < best_i[rows])
                    )
                    r = rows[upd]
                    best_d[r] = dloc[upd]
                    best_i[r] = iloc[upd]
            # Lloyd's can leave a coarse cell with zero fine members, so a
            # row whose probed cells are ALL empty would still hold the
            # int64-max sentinel here — and astype('int32') would wrap it
            # to a garbage cluster id.  Resolve such rows by exact argmin
            # over every fine centroid (same tie rule / accumulation
            # order); bounded, since it only runs for the pathological
            # all-probed-cells-empty rows.
            unresolved = (best_i == np.iinfo(np.int64).max).nonzero()[0]
            if unresolved.size:
                best_i[unresolved], _ = _fold_argmin_d2(v[unresolved], cent)
            pdf = pdf[cols].copy()
            pdf["cluster"] = best_i.astype("int32")
            yield pdf

    return df.mapInPandas(assign, schema=out_schema)


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 8,
    n_iter: int = 5,
    round_dp: int | None = None,
    row_count_hint: int | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's k-means: returns (centroids, assignments DataFrame with
    (id, cluster)).  Init = the vectors of the ``k`` smallest ids
    (deterministic, partition-independent).

    An empty cluster keeps its previous centroid (no reseeding), so the
    iteration count fully determines the result.

    ``round_dp`` snaps each updated centroid component to that many
    decimals before the next assignment round.  A float mean is the one
    order-sensitive reduction in the loop (partial-sum order differs
    across partitionings and engines); snapping collapses the ~1-ulp
    ambiguity to a canonical value, making the WHOLE fixed-iteration loop
    replayable bit-for-bit by an ANSI-SQL oracle and stable across
    cluster layouts.  The snap is ``similarity.snap_expr`` (engine-
    portable ``floor(x * 10^dp + 0.5) / 10^dp``) rather than
    ``round(x, dp)`` — see its docstring: engine round semantics diverge
    at shortest-repr half-ties, and in an iterative loop one divergent
    component re-assigns vectors and cascades.  None keeps raw means.
    """
    from .similarity import snap_expr

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    seed_rows = base.orderBy("id").limit(k).collect()
    centroids = [[float(x) for x in r.v] for r in seed_rows]
    if round_dp is None:
        mean_expr = F.avg("x")
    else:
        mean_expr = snap_expr(F.avg("x"), round_dp)
    for _ in range(n_iter):
        assigned = assign_clusters_auto(
            base, "v", centroids, row_count_hint=row_count_hint
        )
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(mean_expr.alias("m"))
            .collect()
        )
        new_c = [list(c) for c in centroids]
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r.cluster, {})[r.pos] = r.m
        for ci, dims in by_cluster.items():
            new_c[ci] = [dims[p] for p in sorted(dims)]
        centroids = new_c
    return centroids, assign_clusters_auto(
        base, "v", centroids, row_count_hint=row_count_hint
    ).select(
        F.col("id"), F.col("cluster")
    )


def cluster_sizes(assignments: DataFrame) -> DataFrame:
    """(cluster, n_members, min_id) rollup — one small shuffle."""
    return assignments.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"), F.min("id").alias("min_id")
    )


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    *,
    sub_dim: int,
    kernel: str = "auto",
) -> DataFrame:
    """Product-quantization encoding: split each vector into
    ``len(codebooks)`` contiguous ``sub_dim``-wide subvectors and assign
    each to its nearest codeword (argmin squared-L2, ties to the lowest
    code) — the compression step that lets a 100-TB embedding corpus live
    in memory as m bytes/vector for IVF-PQ-style ANN serving.

    ``codebooks[j]`` is the list of codewords for subspace ``j``.  Output
    is long-form ``(id, subspace, code)``.

    ``kernel`` follows the fold/Arrow contract of ``kernels.use_arrow``.
    The fold plan is a UNION of one narrow ``assign_clusters`` projection
    per subspace: codewords enter as broadcast literals, vectors never
    shuffle, and the union is plan-level only (no exchange), so encoding
    costs one scan of the corpus — of interpreted per-codeword folds,
    which is why ``"auto"`` takes :func:`_pq_encode_arrow`."""
    if use_arrow(kernel, df.schema[id_col].dataType):
        return _pq_encode_arrow(df, id_col, vec_col, codebooks, sub_dim)
    parts = []
    for j, codebook in enumerate(codebooks):
        sub = df.select(
            F.col(id_col).alias("id"),
            F.slice(F.col(vec_col), j * sub_dim + 1, sub_dim).alias("v"),
        )
        parts.append(
            assign_clusters(sub, "v", codebook).select(
                "id",
                F.lit(j).cast("int").alias("subspace"),
                F.col("cluster").alias("code"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pq_encode_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    sub_dim: int,
) -> DataFrame:
    """Single-pass Arrow PQ encoder: one ``mapInPandas`` over the corpus,
    one :func:`_fold_argmin_d2` per subspace slice per batch — winners
    carry the folds' exact first-min semantics, so output codes are
    bit-identical to the JVM union plan; NULL ids pass through with their
    codes, as the union projects them."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    books = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(books)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    id_type = df.schema[id_col].dataType
    id_dtype = nullable_int_dtype(id_type)
    out_schema = StructType(
        [
            StructField("id", id_type),
            StructField("subspace", IntegerType()),
            StructField("code", IntegerType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["_v"]])
            ids = checked_id_series(pdf["id"], id_dtype)
            n = v.shape[0]
            codes = np.empty((m, n), dtype=np.int32)
            for j in range(m):
                sub = v[:, j * sub_dim : (j + 1) * sub_dim]
                codes[j], _ = _fold_argmin_d2(sub, books[j])
            yield pd.DataFrame(
                {
                    "id": ids.take(np.tile(np.arange(n), m)).reset_index(
                        drop=True
                    ),
                    "subspace": np.repeat(
                        np.arange(m, dtype=np.int32), n
                    ),
                    "code": codes.reshape(-1),
                }
            )

    return base.mapInPandas(encode, schema=out_schema)
