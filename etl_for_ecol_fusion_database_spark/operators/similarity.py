"""X2 similarity search over embedding columns (array<float>).

Two paths, as the north star mandates:

- **Brute-force cosine top-k** — exact baseline.  Queries are a small
  bounded set, broadcast against the candidate corpus; the dot product is a
  JVM-side ``aggregate(zip_with(...))`` fold (no UDF, no Python).  At 100 TB
  the corpus side stays partition-parallel and nothing shuffles except the
  final per-query top-k (tiny).
- **LSH-bucketed ANN** — random-hyperplane signatures (deterministic,
  seed-derived via xxhash64 — no stored plane matrix) bucket the corpus;
  probing joins queries to their bucket (+ optional multi-probe on 1-bit
  flips) and ranks within the bucket only.  The candidate set per query is
  ~corpus/2^bits, which is what makes 100 TB tractable.

Float discipline: embeddings are float32; every element is cast to double
*before* multiply, and the fold accumulates left-to-right — bit-identical to
DuckDB's ``list_dot_product`` on ``DOUBLE[]``, which the oracle uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..kernels import use_arrow


def dot_expr(a: str | Column, b: str | Column) -> Column:
    """Sequential-fold dot product with per-element double casts.

    NOTE (round 10, measured twice before settling here): do NOT try to
    "fix" the fold by unrolling it into flat per-index arithmetic.  A
    64-term unrolled dot measured SLOWER in both join shapes that score
    pairs — under a BroadcastNestedLoopJoin the stage is not
    whole-stage-codegen'd at all (everything is interpreted either way),
    and inside a codegen'd ShuffledHashJoin stage the giant expression
    trips janino method limits (knn_join sf10: 5.6 s fold vs 19.3 s
    unrolled; a 20-query literal expansion dies outright with "Code
    grows beyond 64 KB").  Where the fold IS the bottleneck at corpus
    scale the answer is structural, not expression-level: constant
    planes -> posexplode + flat SUM aggregates
    (portable_hyperplane_signatures_df), bounded query set -> the Arrow
    kernel (:func:`_cosine_scores_arrow`)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def snap_expr(c: Column, dp: int = 6) -> Column:
    """Engine-portable decimal snap: ``floor(x * 10^dp + 0.5) / 10^dp`` —
    pure IEEE multiply/add/floor/divide, bit-identical in every engine
    where engine ``round`` on doubles diverges at shortest-repr half-ties
    (Spark's Round goes through ``BigDecimal.valueOf`` — the SHORTEST
    decimal repr — with HALF_UP; DuckDB rounds the scaled binary value;
    np.round and Python round are half-even).  Use it wherever a snapped
    double FEEDS further exact comparisons an ANSI-SQL oracle replays
    (k-means centroid updates, MMR's greedy argmax): there one divergent
    tie cascades, while plain output-column rounding only risks a single
    printed digit.

    NaN / NULL / ±inf pass through untouched: Spark's ``floor`` on DOUBLE
    returns LONG, which would silently collapse NaN to 0 and saturate
    infinities, whereas DuckDB's ``floor`` preserves them — the oracle
    side (plain ``floor(x*1e6 + 0.5)/1e6`` SQL) is transparent natively,
    so the Spark side must be too."""
    scale = float(10**dp)
    snapped = F.floor(c * F.lit(scale) + F.lit(0.5)) / F.lit(scale)
    return F.when(
        F.isnan(c) | (F.abs(c) == F.lit(float("inf"))), c
    ).otherwise(snapped)


def norm_sq_expr(v: str | Column) -> Column:
    """Sum of squares (double fold)."""
    cv = F.col(v) if isinstance(v, str) else v
    return F.aggregate(
        F.transform(cv, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str) -> DataFrame:
    """Precompute the L2 norm once per vector (never per pair)."""
    return df.withColumn("norm", F.sqrt(norm_sq_expr(vec_col)))


def cosine_expr(a: str, b: str, norm_a: str, norm_b: str) -> Column:
    return dot_expr(a, b) / (F.col(norm_a) * F.col(norm_b))


def brute_force_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    n_queries: int = 20,
    snap6: bool = False,
    kernel: str = "auto",
) -> DataFrame:
    """Exact cosine top-k: the first ``n_queries`` ids probe the full corpus.

    The query side is bounded and tiny; the corpus never shuffles until
    the per-query top-k, which ranks on (rounded cosine DESC, id ASC)
    for determinism.  ``kernel`` follows the fold/Arrow contract of
    ``kernels.use_arrow``; the scorers are :func:`_cosine_scores` (fold)
    and :func:`_cosine_scores_arrow`.

    ``snap6=True`` replaces ``round(cosine, 6)`` with :func:`snap_expr`
    (the engine-portable floor snap — see its docstring for the engine
    round-semantics rationale).  Use it when the cosine FEEDS further
    exact comparisons (mmr_rerank's greedy argmax replays the value
    downstream, so one divergent tie would cascade through the whole
    selection trace); the default keeps the established round(…, 6)
    output the cosine-top-k oracles pin.
    """
    raw = F.col("_raw_cosine")
    sim = snap_expr(raw, 6) if snap6 else F.round(raw, 6)
    scored = _cosine_scores(df, id_col, vec_col, n_queries, quantize=False, kernel=kernel)
    return _top_k(scored.select("q_id", "cand_id", sim.alias("cosine")), "cosine", k)


def _top_k(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """Per-query ``rank`` on (score DESC, cand_id ASC), kept to ``k``."""
    w = Window.partitionBy("q_id").orderBy(F.desc(score_col), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def _cosine_scores(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_queries: int,
    *,
    quantize: bool,
    kernel: str,
) -> DataFrame:
    """(q_id, cand_id, _raw_cosine) for every pair of a query (id below
    ``n_queries``) and a different corpus vector, unrounded; ``quantize``
    scores the int8 codes of :func:`quantize_vec`.

    Fold plan: broadcast join + per-pair higher-order fold.  The non-equi
    ``q_id != cand_id`` condition plans as BroadcastNestedLoopJoin, which
    Spark does NOT whole-stage-codegen, so every fold in that stage runs
    interpreted (~40 s on a 200k x 20 sweep; an unrolled 20 x 64-term
    literal projection also breaks janino's 64 KB method cap) — the
    reason ``"auto"`` takes :func:`_cosine_scores_arrow`."""
    if use_arrow(kernel, df.schema[id_col].dataType):
        return _cosine_scores_arrow(df, id_col, vec_col, n_queries, quantize)
    vec = quantize_vec(vec_col) if quantize else F.col(vec_col)
    corpus = df.select(F.col(id_col).alias("cand_id"), vec.alias("cv"))
    queries = df.select(F.col(id_col).alias("q_id"), vec.alias("qv")).filter(
        F.col("q_id") < n_queries
    )
    corpus = corpus.withColumn("cnorm", F.sqrt(norm_sq_expr("cv")))
    queries = queries.withColumn("qnorm", F.sqrt(norm_sq_expr("qv")))
    raw = dot_expr("qv", "cv") / (F.col("qnorm") * F.col("cnorm"))
    return (
        F.broadcast(queries)
        .join(corpus, F.col("q_id") != F.col("cand_id"))
        .select("q_id", "cand_id", raw.alias("_raw_cosine"))
    )


def _cosine_scores_arrow(
    df: DataFrame, id_col: str, vec_col: str, n_queries: int, quantize: bool
) -> DataFrame:
    """Arrow twin of :func:`_cosine_scores`: ``mapInPandas`` over corpus
    batches with the (bounded, collected) query matrix in the closure.

    Bit-exactness: dots and norms fold scalar-sequentially across the dim
    index in float64 (``acc += V[:, i] * q[i]``) and the cosine is
    ``dot / (qnorm * cnorm)`` with the fold's operand order, so every
    double matches the fold and DuckDB's ``list_dot_product``.  With
    ``quantize`` the codes come from the same three IEEE-double operations
    :func:`quantize_vec` evaluates (``m = max|x|``, ``s = 127/m`` or 0,
    ``floor(x*s + 0.5)``), and integer dots are exact in any order.
    A zero vector's 0/0 is NaN here, which the pandas → Arrow exchange
    turns into the NULL the fold's division returns.  NULL
    candidate ids are dropped Spark-side, as the fold's ``q_id != cand_id``
    drops them; the query filter ``q_id < n_queries`` drops NULL queries."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    def as_scored(v: "np.ndarray") -> "np.ndarray":
        if not quantize:
            return v
        m = np.abs(v).max(axis=1)
        scale = np.zeros_like(m)
        nz = m > 0
        scale[nz] = 127.0 / m[nz]
        return np.floor(v * scale[:, None] + 0.5)

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("q_id", id_type),
            StructField("cand_id", id_type),
            StructField("_raw_cosine", DoubleType()),
        ]
    )
    # sorted on the driver: a Spark orderBy costs a range-sampling job and
    # a shuffle for at most n_queries rows
    qrows = sorted(
        df.select(F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("qv"))
        .filter(F.col("q_id") < n_queries)
        .collect(),
        key=lambda r: r.q_id,
    )
    if not qrows:
        # no ids below n_queries: an empty relation, as from the fold
        ids = [F.col(id_col).alias("q_id"), F.col(id_col).alias("cand_id")]
        return df.select(*ids, F.lit(None).cast("double").alias("_raw_cosine")).limit(0)
    q_ids = np.array([r.q_id for r in qrows], dtype=np.int64)
    qm = as_scored(np.stack([np.asarray(r.qv, dtype=np.float64) for r in qrows]))
    d = qm.shape[1]
    qnorm = np.zeros(qm.shape[0])
    for i in range(d):
        qnorm += qm[:, i] * qm[:, i]
    qnorm = np.sqrt(qnorm)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = as_scored(np.stack([np.asarray(x, dtype=np.float64) for x in pdf["_v"]]))
            n = v.shape[0]
            dots = np.zeros((n, qm.shape[0]))
            cnorm = np.zeros(n)
            for i in range(d):
                dots += v[:, i, None] * qm[None, :, i]
                cnorm += v[:, i] * v[:, i]
            cnorm = np.sqrt(cnorm)
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = dots / (qnorm[None, :] * cnorm[:, None])
            yield pd.DataFrame(
                {
                    "q_id": np.tile(q_ids, n),
                    "cand_id": np.repeat(pdf["cand_id"].to_numpy(), qm.shape[0]),
                    "_raw_cosine": cos.reshape(-1),
                }
            )

    base = df.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_v"))
    return (
        base.filter(F.col("cand_id").isNotNull())
        .mapInPandas(score, schema=out_schema)
        .filter(F.col("q_id") != F.col("cand_id"))
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------


def _plane_component(bit: int, dim_idx: Column, seed: int) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, ~1]: derived
    from xxhash64(bit, dim, seed) — the plane matrix is never materialized
    or shipped; every executor recomputes components on the fly.

    ``pmod``, not ``%``: xxhash64 is SIGNED, and Spark's ``%`` keeps the
    sign, so the raw remainder spans (-2000002, 2000002) and the mapped
    component would span (-3, 1) with mean ≈ -1 — every plane biased the
    same way, so for non-negative corpora (ReLU features, counts, TF-IDF)
    v·p ≈ -sum(v) < 0 for EVERY bit and the whole corpus collapses into
    one bucket: the O(n²) self-join the signatures exist to prevent.
    pmod maps to [0, 2000002] → components uniform in [-1, ~1], planes
    unbiased and mutually independent."""
    h = F.xxhash64(F.lit(bit), dim_idx, F.lit(seed))
    return F.pmod(h, F.lit(2000003)).cast("double") / F.lit(1000001.5) - F.lit(1.0)


def hyperplane_signatures_df(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "v",
    *,
    n_bits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """n_bits-bit random-hyperplane signatures, one (id, bucket) row per
    vector: bit i = sign(v · p_i).

    Scalable formulation (same reshape as ``minhash_signatures_df`` /
    ``simhash_fingerprints``): posexplode the vector to (id, pos, x) rows,
    then one SUM aggregate per bit of ``x * plane(bit, pos)`` — flat
    expressions + a single hash aggregation, so whole-stage codegen applies
    and map-side partial sums collapse each vector before the shuffle.  The
    previous per-bit interpreted ``aggregate(zip_with(...))`` fold re-scanned
    every vector n_bits times outside codegen (~50x slower at corpus scale).
    """
    comps = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    aggs = [
        F.sum(
            F.col("x").cast("double") * _plane_component(bit, F.col("pos"), seed)
        ).alias(f"p_{bit}")
        for bit in range(n_bits)
    ]
    agg = comps.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for bit in range(n_bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"p_{bit}") > 0, F.lit(1 << bit).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select("id", sig.alias("bucket"))


def portable_hyperplane_signatures_df(
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "v",
    *,
    n_bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """``hyperplane_signatures_df`` with integer-valued plane components
    p(bit, i) = ((x*x % P + x*48271) % P) % 7 - 3 with
    x = (bit*1000003 + i*8191 + 17 + seed) % P, P = 2147483647 —
    integer planes so a DuckDB oracle can replay bucket assignment
    exactly (same trick as the oracle-checked k-means assignment).

    Round 10: same posexplode + flat-expression SUM structure as the
    production path above, NOT a per-bit ``aggregate(transform(...))``
    fold — higher-order lambdas are interpreted (outside whole-stage
    codegen) and re-scan the vector once per bit, which the sf10 panel
    measured as the DOMINANT term of the knn_join head (the 13
    interpreted per-bit folds ran twice, once per self-join side).
    Accumulation stays bit-identical to the sequential fold and to
    DuckDB's ``list_sum``: posexplode emits one vector's elements
    contiguously inside one task, so the map-side partial sum
    accumulates in position order and the final merge sees a single
    partial per id.

    The QUADRATIC mix (x*x term) is load-bearing (round 10): any affine
    family ``(bit*A + i*B + c) % M % 7`` makes consecutive planes differ
    by a CONSTANT per-dim pattern, i.e. strongly correlated sign bits —
    invisible at 6 bits, but at the derived 13 bits of a 200k corpus the
    correlated-bit bucket skew measured 694 max occupancy / 149
    candidate pairs per vector where ~24/32 was budgeted (sf10 decade
    ratio 13.8x on the structure-preserving fixture).  Squaring mod a
    prime breaks the lattice: same corpus measures 141 max / 34.7
    pairs-per-vector, flat across sf0.1 -> sf1 -> sf10 (34.0 / 24.5 /
    34.7) — and the earlier round-6 lesson still holds, the family must
    have full period in ``bit`` (24 distinct balanced planes verified
    for bits 0..23; the pre-round-6 ``(bit*37 + i*101 + c) % 7`` form
    had period 7, capping effective buckets at 2^7).  All intermediates
    stay under 2^63 (x < 2^31 so x*x < 2^62): safe under ANSI BIGINT in
    both engines."""
    p = F.lit(2147483647)
    comps = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )

    def coef(bit: int) -> Column:
        xq = (
            F.col("pos").cast("long") * F.lit(8191)
            + F.lit(bit * 1000003 + 17 + seed)
        ) % p
        h = ((xq * xq) % p + xq * F.lit(48271)) % p
        return (h % F.lit(7) - F.lit(3)).cast("double")

    aggs = [
        F.sum(F.col("x") * coef(bit)).alias(f"p_{bit}") for bit in range(n_bits)
    ]
    agg = comps.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(n_bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"p_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select("id", sig.alias("bucket"))


def lsh_bucketed_ann(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    n_queries: int = 20,
    n_bits: int = 8,
    seed: int = 42,
    multiprobe: int = 2,
    signature_fn=hyperplane_signatures_df,
) -> DataFrame:
    """Approximate top-k: probe only the query's hyperplane bucket (plus all
    buckets within hamming distance ``multiprobe`` of it) and rank by exact
    cosine within the candidates.  Bucket join shuffles on the signature —
    per-query work is a controlled fraction of the corpus instead of all of
    it.  On near-uniform random vectors recall is inherently modest (the
    neighbor/non-neighbor cosine gap is small); multiprobe radius trades
    candidates for recall.

    Probe volume: radius ``r`` probes ``sum_{j<=r} C(n_bits, j)`` buckets
    per query — the flip masks are enumerated driver-side (cheap: it's a
    count over ``n_bits`` choose ``j``) and fan out via one ``explode``,
    so raising the radius changes the candidate fraction, not the plan
    shape.  At radius == n_bits every bucket is probed (exact scan)."""
    sigs = signature_fn(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        n_bits=n_bits,
        seed=seed,
    )
    corpus = (
        with_norm(
            df.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")), "cv"
        )
        .withColumnRenamed("norm", "cnorm")
        .join(sigs.select(F.col("id").alias("cand_id"), "bucket"), "cand_id")
    )
    queries = (
        with_norm(
            df.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
            .filter(F.col("q_id") < n_queries),
            "qv",
        )
        .withColumnRenamed("norm", "qnorm")
        .join(
            F.broadcast(
                sigs.select(F.col("id").alias("q_id"), F.col("bucket").alias("qsig"))
                .filter(F.col("q_id") < n_queries)
            ),
            "q_id",
        )
    )
    from itertools import combinations

    flips: list[int] = [0]
    for r in range(1, min(multiprobe, n_bits) + 1):
        flips += [
            sum(1 << b for b in bits) for bits in combinations(range(n_bits), r)
        ]
    queries = queries.withColumn(
        "bucket",
        F.explode(
            F.array(*[F.col("qsig").bitwiseXOR(F.lit(m).cast("long")) for m in flips])
        ),
    )
    sim = F.round(dot_expr("qv", "cv") / (F.col("qnorm") * F.col("cnorm")), 6)
    scored = (
        queries.join(corpus, on="bucket")
        .filter(F.col("q_id") != F.col("cand_id"))
        .select("q_id", "cand_id", sim.alias("cosine"))
        .dropDuplicates(["q_id", "cand_id"])
    )
    return _top_k(scored, "cosine", k)


def derive_n_bits(
    n_rows: int,
    *,
    target_bucket_rows: int = 32,
    min_bits: int = 4,
    max_bits: int = 24,
) -> int:
    """Signature width that keeps the bucketed self-join LINEAR in corpus
    size: with ``bits = ceil(log2(N / target))`` the expected bucket holds
    ~``target`` rows, so candidate-pair volume is ~``N * target`` instead of
    the ``N^2 / 2^bits``-at-fixed-bits quadratic (the round-4 verdict's one
    scale-killer: fixed 4 bits measured 5.0x wall on 10x data).  ``target``
    is the per-vector candidate budget (recall dial); ``max_bits`` caps the
    signature cost.  Mirrored in ANSI SQL as
    ``GREATEST(min, LEAST(max, CAST(ceil(log2(COUNT(*) / target)) AS INT)))``
    so oracles replay the derivation from the same corpus count."""
    import math

    if n_rows <= target_bucket_rows:
        return min_bits
    return max(min_bits, min(max_bits, math.ceil(math.log2(n_rows / target_bucket_rows))))


def knn_join(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 3,
    n_bits: int | None = None,
    corpus_count: int | None = None,
    seed: int = 42,
    target_bucket_rows: int = 32,
    signature_fn=portable_hyperplane_signatures_df,
) -> DataFrame:
    """Bucketed k-nearest-neighbor SELF-join: EVERY vector gets its top-k
    neighbors from within its own hyperplane bucket — the batch analogue
    of the per-query ANN probe, and the primitive behind corpus-wide
    near-duplicate graphs, contrastive-pair mining, and kNN-classifier
    label propagation.

    Unlike ``lsh_bucketed_ann`` (20 broadcast queries probing the corpus),
    here both sides are the full relation, so the pair space must be
    bounded STRUCTURALLY: the self-join is an equi-join on the bucket id.
    ``n_bits=None`` (the default) derives the signature width from the
    corpus count via ``derive_n_bits`` — expected bucket occupancy pinned
    at ``target_bucket_rows``, so candidate-pair volume grows ~N *
    target_bucket_rows, LINEAR in the corpus, at any scale (a fixed bit
    width leaves the pair space N²/2^bits — still quadratic — which the
    round-4 scaling audit measured at 5.0x wall on 10x data).  Pass
    ``corpus_count`` (from catalog stats or parquet footer metadata —
    ``catalog.table_row_count``) or an explicit ``n_bits`` to keep plan
    construction free of Spark jobs; only when neither is given does the
    derivation fall back to a column-pruned count() job.  One shuffle keyed
    on the bucket (both sides co-partitioned), then the per-id top-k
    window costs the second (and last) exchange; the rank filter plans as
    WindowGroupLimit (bounded per-key state).

    Default signatures are the portable integer-plane family so an
    ANSI-SQL oracle replays bucketing + ranking end to end; pass
    ``signature_fn=hyperplane_signatures_df`` for the xxhash64 production
    planes.  Vectors in singleton buckets emit no rows (no neighbor is an
    honest answer for "nothing collided"; widen with fewer bits if every
    vector must be covered).
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if n_bits is None:
        if corpus_count is None:
            corpus_count = base.select("id").count()
        n_bits = derive_n_bits(corpus_count, target_bucket_rows=target_bucket_rows)
    # shuffle_hash on both corpus-sized equi-joins (here and the bucket
    # self-join below): SortMergeJoin would sort 64-dim-wide rows twice
    # per join, and every matched group is small (one row per id here;
    # ~target_bucket_rows per bucket below) — the same sort-free rewrite
    # measured 3.7x on the MinHash band join at the sf10 decade.  Build
    # sides are the narrow (id, bucket) signature relation and one
    # bucket-partition of the corpus — both per-partition-bounded.
    sigs = signature_fn(base, n_bits=n_bits, seed=seed).hint("shuffle_hash")
    sided = with_norm(base, "v").join(sigs, "id")
    a = sided.select(
        F.col("id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "bucket",
    )
    b = sided.select(
        F.col("id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "bucket",
    )
    sim = F.round(dot_expr("qv", "cv") / (F.col("qnorm") * F.col("cnorm")), 6)
    scored = (
        a.join(b.hint("shuffle_hash"), on="bucket")
        .filter(F.col("q_id") != F.col("cand_id"))
        .select("q_id", "cand_id", sim.alias("cosine"))
    )
    return _top_k(scored, "cosine", k)


# ---------------------------------------------------------------------------
# IVF-bucketed ANN (the second scale path the north star names)
# ---------------------------------------------------------------------------


def ivf_bucketed_ann(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    n_queries: int = 20,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into Voronoi cells
    around ``n_centroids`` centroids; queries probe their ``n_probe``
    nearest cells and rank by exact cosine within those candidates.

    Centroids are the first ``n_centroids`` vectors (deterministic; a
    k-means refinement would slot in unchanged).  The centroid set is tiny
    and broadcast; cell assignment is a flat argmin over broadcast-joined
    scores — corpus rows shuffle once on cell id.  Per-query work is
    ~n_probe/n_centroids of the corpus: the linear-scan killer at 100 TB.
    """
    base = with_norm(
        df.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")), "cv"
    ).withColumnRenamed("norm", "cnorm")
    cents = (
        with_norm(
            df.filter(F.col(id_col) < n_centroids).select(
                F.col(id_col).alias("cent_id"), F.col(vec_col).alias("centv")
            ),
            "centv",
        ).withColumnRenamed("norm", "centnorm")
    )
    # cell assignment: per (vector, centroid) cosine, keep argmax — the
    # cross join is |corpus| x n_centroids with a broadcast build side
    sim_to_cent = F.round(dot_expr("cv", "centv") / (F.col("cnorm") * F.col("centnorm")), 6)
    assigned = (
        base.join(F.broadcast(cents), how="cross")
        .select("cand_id", "cv", "cnorm", "cent_id", sim_to_cent.alias("csim"))
        .groupBy("cand_id")
        .agg(
            F.max_by(F.struct("cent_id"), F.struct("csim", (-F.col("cent_id")).alias("tb"))).alias("m"),
            F.first("cv").alias("cv"),
            F.first("cnorm").alias("cnorm"),
        )
        .select("cand_id", "cv", "cnorm", F.col("m.cent_id").alias("cell"))
    )
    queries = with_norm(
        df.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
        ),
        "qv",
    ).withColumnRenamed("norm", "qnorm")
    q_sim = F.round(dot_expr("qv", "centv") / (F.col("qnorm") * F.col("centnorm")), 6)
    wq = Window.partitionBy("q_id").orderBy(F.desc("qcsim"), F.asc("cent_id"))
    probes = (
        queries.join(F.broadcast(cents), how="cross")
        .select("q_id", "qv", "qnorm", "cent_id", q_sim.alias("qcsim"))
        .withColumn("prank", F.row_number().over(wq))
        .filter(F.col("prank") <= n_probe)
        .select("q_id", "qv", "qnorm", F.col("cent_id").alias("cell"))
    )
    sim = F.round(dot_expr("qv", "cv") / (F.col("qnorm") * F.col("cnorm")), 6)
    scored = (
        probes.join(assigned, on="cell")
        .filter(F.col("q_id") != F.col("cand_id"))
        .select("q_id", "cand_id", sim.alias("cosine"))
    )
    return _top_k(scored, "cosine", k)


# ---------------------------------------------------------------------------
# int8 scalar quantization (memory-reduction path)
# ---------------------------------------------------------------------------


def quantize_vec(vec_col: str | Column) -> Column:
    """Per-vector symmetric int8 quantization: scale by 127/max|x| and round
    half-up via ``floor(x*s + 0.5)`` (bit-identical across engines, unlike
    banker's/HALF_UP round variants).  Values are small integers carried as
    doubles, so downstream integer dot products are EXACT in IEEE double —
    no float-summation-order sensitivity.

    At 100 TB this is the storage play: int8 codes are 4× smaller than
    float32, so 4× more corpus fits in executor memory / broadcast range."""
    cv = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    dv = F.transform(cv, lambda x: x.cast("double"))
    mx = F.array_max(F.transform(dv, lambda x: F.abs(x)))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    return F.transform(dv, lambda x: F.floor(x * scale + F.lit(0.5)).cast("double"))


def quantized_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    n_queries: int = 20,
    kernel: str = "auto",
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors — same contract as
    ``brute_force_topk`` (bounded query side probes the corpus, per-query
    row_number, ``kernel`` per ``kernels.use_arrow``) but every dot product
    runs on exact small-integer doubles.

    Quantized cosine is deterministic and engine-portable (integers sum
    exactly), so unlike raw-float ANN variants this one carries a full
    DuckDB oracle."""
    scored = _cosine_scores(df, id_col, vec_col, n_queries, quantize=True, kernel=kernel)
    sim = F.round(F.col("_raw_cosine"), 6).alias("q_cosine")
    return _top_k(scored.select("q_id", "cand_id", sim), "q_cosine", k)


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    out_dim: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: reduce each vector to
    ``out_dim`` components y_j = sum_i v_i * p(j, i), with sparse integer
    plane components p in {-3..3} derived arithmetically from (j, i, seed)
    — the deterministic-plane trick of the portable LSH signatures, so NO
    projection matrix is materialized, stored, or shipped; every executor
    recomputes components inline.  Unlike the signature family's small-
    modulus lattice (``(37j + 101i) % 7`` has only 7 distinct plane
    patterns — fine for sign bits, rank-deficient for a projection), the
    components mix through a large prime first
    (``((j*2654435761 + i*40503 + seed) % 1000003) % 7 - 3``), so all
    ``out_dim`` planes are genuinely distinct.

    This is the cheap pre-ANN dimensionality reduction: at 100 TB,
    projecting 1024-dim float32 to 64 dims cuts index memory and every
    downstream pairwise cost ~16x while JL preserves pairwise distances to
    (1±eps).  ZERO shuffles — a pure per-row projection.

    Components accumulate as SEQUENTIAL double folds (the portable-
    signature convention) so every projected double is bit-identical to
    an ANSI-SQL left-to-right replay; the throughput-first alternative is
    the ``hyperplane_signatures_df`` reshape (posexplode + per-dim SUM
    aggregates, codegen + map-side combine) whose float accumulation
    order is partial-aggregation-dependent and therefore rows-only
    checkable.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    ys = []
    for j in range(out_dim):
        # fused multiply-accumulate fold (no intermediate transform()
        # array): one HOF pass per component, same left-to-right order
        ys.append(
            F.expr(
                f"aggregate(sequence(0, size(_v) - 1), CAST(0.0 AS DOUBLE),"
                f" (acc, i) -> acc + _v[i]"
                f" * CAST((({j}L * 2654435761 + i * 40503 + {seed})"
                f" % 1000003) % 7 - 3 AS DOUBLE))"
            )
        )
    return base.select(F.col("id").alias(id_col), F.array(*ys).alias("proj"))


def random_projection_fast(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    in_dim: int,
    out_dim: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Codegen fast path for :func:`random_projection`: posexplode the
    vector to ``(id, i, x)`` rows, fan out the ``out_dim`` components per
    element, and take per-``(id, j)`` SUMs — generate + project + hash
    aggregate, ALL inside whole-stage codegen (the HOF fold is evaluated
    by the interpreted lambda evaluator; a flat precomputed multiply-add
    chain was tried and blows Janino's 64KB method limit at 16x64 terms,
    falling back to interpreted too).  The plane component is inline
    integer arithmetic of ``(j, i, seed)`` — still no materialized or
    shipped projection matrix.  Partial aggregation completes each sum
    map-side (every exploded row of a vector stays in its source row's
    partition), so the shuffle carries exactly the output rows — N x
    out_dim partial sums, nothing more.

    Bit-parity: the hash aggregate updates each ``(id, j)`` group's
    accumulator in exploded row order — ``i`` ascending, from the one
    partial aggregate its single source row produces — the same
    left-to-right order as the sequential fold, so results are
    bit-identical to ``random_projection`` and the SAME ANSI-SQL oracle
    replays them (hash-checked, not rows-only).

    Output is long-form ``(id, dim_idx, y)`` — the shape downstream
    consumers (and the per-group aggregate) want; use
    :func:`random_projection` where the array-typed column is needed.
    ``in_dim`` is unused (the explode adapts to the stored length); it is
    kept in the signature so callers that validated against the corpus
    schema can pass it for documentation.
    """
    j_col = F.explode(F.sequence(F.lit(0), F.lit(out_dim - 1))).alias("j")
    expl = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
        )
        .select("id", "i", "x", j_col)
    )
    plane = (
        (F.col("j").cast("long") * F.lit(2654435761) + F.col("i") * F.lit(40503)
         + F.lit(seed)) % F.lit(1000003) % F.lit(7) - F.lit(3)
    ).cast("double")
    return (
        expl.select("id", "j", (F.col("x") * plane).alias("t"))
        .groupBy("id", "j")
        .agg(F.sum("t").alias("y"))
        .select(
            F.col("id").alias(id_col),
            F.col("j").cast("int").alias("dim_idx"),
            # Signed-zero parity with the fold holds without adjustment:
            # Spark's SUM seeds its accumulator with +0.0 (coalesce(sum,
            # 0.0) + value), exactly like the fold's +0.0 init, so even an
            # all-negative-zero term list yields +0.0 from both paths
            # (pinned by the zero-vector test in tests/test_round6_ops.py)
            "y",
        )
    )


def mmr_rerank(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_queries: int = 10,
    n_candidates: int = 20,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: from each query's top
    ``n_candidates`` (exact cosine), greedily select ``k`` results that
    trade relevance against redundancy —
    score = lam * rel(c) − (1−lam) * max_{s∈selected} sim(c, s) —
    the diversified-retrieval step RAG stacks put after ANN so five
    near-identical passages don't fill the context window.

    Greedy selection is inherently sequential, but only WITHIN one
    query's bounded candidate set — so the scalable shape is
    ``applyInPandas`` per query group: candidate generation stays the
    distributed exact/ANN top-k, and the O(k·n_candidates) greedy loop
    runs vectorized (NumPy) on ≤ n_candidates rows per group.  No stage
    ever materializes more than a query's candidates; ties break to the
    lowest candidate id for determinism.
    """
    import math

    import numpy as np
    import pandas as pd

    cands = brute_force_topk(
        df, id_col, vec_col, k=n_candidates, n_queries=n_queries, snap6=True
    ).select("q_id", "cand_id", "cosine")
    vecs = df.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    joined = cands.join(vecs, "cand_id")

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cand_id").reset_index(drop=True)
        ids = pdf["cand_id"].to_numpy()
        rel = pdf["cosine"].to_numpy(dtype=np.float64)
        M = np.stack(pdf["cv"].to_numpy())
        norms = np.linalg.norm(M, axis=1)
        # Snap pairwise sims to 6dp: BLAS sum order differs from a
        # sequential SQL fold in the last ulp, and the greedy argmax
        # compares scores built from these sims — snapping makes the
        # whole selection trace replayable by an ANSI-SQL oracle.  The
        # snap is the EXPLICIT floor(x*1e6 + 0.5)/1e6 formula, not an
        # engine round(): np.round is half-even, DuckDB round is
        # half-away, Python round is correctly-rounded-half-even — they
        # disagree near ties, while this exact IEEE sequence (multiply,
        # add, floor, divide) is bit-identical everywhere.
        sims = np.floor((M @ M.T) / np.outer(norms, norms) * 1e6 + 0.5) / 1e6
        selected: list[int] = []
        out_rows = []
        remaining = list(range(len(ids)))
        for rank in range(1, min(k, len(ids)) + 1):
            if selected:
                penalty = sims[np.ix_(remaining, selected)].max(axis=1)
            else:
                penalty = np.zeros(len(remaining))
            scores = lam * rel[remaining] - (1.0 - lam) * penalty
            # argmax with lowest-id tie break: ids are sorted ascending, and
            # np.argmax returns the FIRST max — exactly the lowest id
            j = int(np.argmax(scores))
            pick = remaining[j]
            out_rows.append(
                {
                    "q_id": int(pdf["q_id"].iloc[0]),
                    "cand_id": int(ids[pick]),
                    "mmr_rank": rank,
                    # same explicit 6dp snap as the sims (see above)
                    "mmr_score": math.floor(float(scores[j]) * 1e6 + 0.5) / 1e6,
                }
            )
            selected.append(pick)
            remaining.pop(j)
        return pd.DataFrame(out_rows)

    return joined.groupBy("q_id").applyInPandas(
        _mmr, schema="q_id long, cand_id long, mmr_rank int, mmr_score double"
    )
