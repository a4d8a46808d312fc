"""X1 deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (SURVEY.md §2.11; north-star training-data ops).

Scale design notes (the 100 TB posture):

- *Exact* dedup is one hash-partitioned groupBy on the dedup key — the
  map-side partial aggregation collapses duplicates before the shuffle.
- *MinHash LSH* avoids the O(n²) pair space: signatures are computed per-row
  (narrow), banding explodes each doc into ``n_bands`` rows, and candidate
  generation is a self-equi-join on (band, band_hash) — shuffle keyed on the
  band hash, so only colliding docs ever meet.  Verification re-checks exact
  Jaccard on the (small) candidate set.
- *SimHash* reduces each doc to 64 bits; near-pairs at hamming<=3 are found
  with the standard 4-block pigeonhole trick (equality join per block).
- All-pairs variants (``ngram_jaccard_pairs``) are for oracle checking at
  test scale and bound their left side explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..kernels import checked_id_series, nullable_int_dtype, use_arrow
from .text import normalize_text

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Deterministic exact dedup: one row per duplicate group with the
    surviving (minimum) id and the group size.  ``dropDuplicates`` keeps an
    *arbitrary* row — min-id survivorship makes results reproducible across
    runs/partitionings."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Return the deduplicated rows themselves (min-id survivor per key)."""
    keep = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=key_cols + [id_col], how="left_semi")


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def word_shingles(text_col: str, n: int = 2) -> Column:
    """Distinct word n-gram shingles of normalized text as ONE array
    expression.

    NOTE: higher-order array functions evaluate interpreted, and each
    ``element_at`` re-evaluates the tokenization subexpression — fine for
    bounded/one-off use (the oracle-checked all-pairs query), but bulk
    pipelines should use ``shingle_rows`` (codegen row form, ~50x faster at
    corpus scale)."""
    toks = F.split(normalize_text(text_col), r"\s+")
    if n == 1:
        return F.array_distinct(toks)
    gram = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, gram).otherwise(F.array_distinct(toks))
    )


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Distinct word n-gram shingles as (id, shingle) ROWS — the scalable
    form: a ZERO-shuffle narrow projection.

    The token array is bound to a named column first, so the n-gram
    higher-order function evaluates over the already-materialized array
    (O(tokens) per row — the pathological cost in ``word_shingles`` is
    re-running normalize+split per element, not the HOF itself), and
    ``array_distinct`` dedupes shingles locally per doc, replacing the
    global ``.distinct()`` shuffle.  Earlier window-``lead`` form cost two
    exchanges (id-window + distinct) per consumer — and the MinHash
    pipeline consumes this relation three times (signature build + both
    sides of candidate verification), so the narrow form removes up to six
    shuffles from the dedup DAG.

    Docs with fewer than n tokens fall back to unigram shingles, matching
    ``word_shingles``.  Multi-megabyte documents materialize their gram
    array per row — chunk upstream if documents are unbounded.
    """
    t = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(text_col), r"\s+").alias("_t"),
    )
    if n == 1:
        arr = F.array_distinct(F.col("_t"))
    else:
        gram = F.transform(
            F.sequence(F.lit(0), F.size("_t") - n),
            lambda i: F.concat_ws(" ", *[F.element_at("_t", i + j + 1) for j in range(n)]),
        )
        arr = F.when(F.size("_t") >= n, F.array_distinct(gram)).otherwise(
            F.array_distinct(F.col("_t"))
        )
    return t.select("id", F.explode(arr).alias("shingle"))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (oracle-checkable candidate-pair scoring)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.1,
    max_id: int | None = 200,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity above ``threshold``.

    The oracle-checkable ground truth that the LSH path approximates
    (``max_id`` bounds the id range).  jaccard = |A∩B| / |A∪B| over
    *distinct* shingle sets, rounded to 6dp.

    Round 13 (guide §3.2 — pre-filter the pair space): candidate pairs
    come from an inverted-index equi-join on the shingle
    (:func:`shingle_rows`, codegen row form — the same relation
    ``x1_dup_explain`` builds), never the earlier quadratic
    ``array_intersect``/``array_union`` comparison of every id pair
    under a BroadcastNestedLoopJoin (interpreted, no codegen).  |A∩B|
    is the per-pair match count over distinct shingles, |A∪B| = |A| +
    |B| - |A∩B|; both are exact integers, so the rounded double is
    bit-identical to the array form (same ints, same double division —
    oracle hashes unchanged).  A pair sharing zero shingles has
    jaccard 0 and cannot reach a positive threshold, so the equi-join
    loses nothing; for ``threshold <= 0`` (disjoint pairs must appear
    in the output too) the original quadratic form below is the only
    correct shape and is kept as the fallback.  Worst case is still
    O(n_docs²) pair rows (a shingle shared by every doc) — this stays
    the bounded ground-truth operator; MinHash/LSH is the scale path.
    """
    if threshold <= 0:
        base = df.select(
            F.col(id_col).alias("id"), word_shingles(text_col, n).alias("sh")
        )
        if max_id is not None:
            base = base.filter(F.col("id") < max_id)
        a = base.alias("a")
        b = base.alias("b")
        inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
        union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
        jac = F.round(inter.cast("double") / union.cast("double"), 6)
        return (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                jac.alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    src = df if max_id is None else df.filter(F.col(id_col) < max_id)
    sh = shingle_rows(src, id_col, text_col, n=n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("_sz"))
    pairs = (
        sh.select(F.col("id").alias("id_a"), "shingle")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jac = F.round(
        F.col("_inter").cast("double")
        / (F.col("_sz_a") + F.col("_sz_b") - F.col("_inter")).cast("double"),
        6,
    )
    return (
        pairs.join(sizes.select(F.col("id").alias("id_a"), F.col("_sz").alias("_sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("_sz").alias("_sz_b")), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


#: 64-bit odd multipliers/offsets for the universal-hash MinHash family
#: h_i(x) = a_i * xxhash64(x) + b_i  (mod 2^64, Java long wraparound)
def _bands_divide(num_hashes: int, n_bands: int) -> int:
    """Rows-per-band for LSH banding.  Raises when ``n_bands`` does not
    divide ``num_hashes``: flooring would silently drop the trailing
    ``num_hashes % n_bands`` signature slots from every band key and
    weaken banding recall with no error (ADVICE r12) — and the DuckDB
    oracle twins derive their slots-per-band from this same division, so
    a silent floor here would also desynchronize them."""
    if n_bands <= 0 or num_hashes % n_bands != 0:
        raise ValueError(
            "n_bands must evenly divide num_hashes; got "
            f"num_hashes={num_hashes}, n_bands={n_bands} "
            f"(remainder {num_hashes % n_bands if n_bands > 0 else num_hashes})"
        )
    return num_hashes // n_bands


_GOLDEN = 0x9E3779B97F4A7C15


def _to_i64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def _mh_mult(i: int) -> int:
    return _to_i64(_GOLDEN * (2 * i + 1))


def _mh_off(i: int) -> int:
    return _to_i64(0xC2B2AE3D27D4EB4F * (i + 1))


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature as a single array expression, same hash family as
    ``minhash_signatures_df``.  NOTE: higher-order functions evaluate
    interpreted (outside whole-stage codegen) and projection collapse can
    duplicate the whole signature per consuming expression — use
    ``minhash_signatures_df`` for bulk work; this form is for one-off
    per-row use."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                shingles,
                lambda s: F.xxhash64(s)
                * F.element_at(F.array(*[F.lit(_mh_mult(j)) for j in range(num_hashes)]), i + 1)
                + F.element_at(F.array(*[F.lit(_mh_off(j)) for j in range(num_hashes)]), i + 1),
            )
        ),
    )


def minhash_signatures_df(sh_rows: DataFrame, *, num_hashes: int = 32) -> DataFrame:
    """MinHash signatures from (id, shingle) rows via num_hashes MIN
    aggregates — the scalable formulation.

    One ``xxhash64`` per (doc, shingle), then each signature slot i is
    ``MIN(a_i * h + b_i)`` (universal-hash family, 64-bit wraparound).  The
    whole pipeline is flat expressions + a hash aggregation: whole-stage
    codegen applies, map-side partial MIN collapses each doc's shingles
    before the shuffle, and nothing is recomputed per band.  (The nested-HOF
    array form evaluates interpreted and is re-evaluated per consuming
    expression — ~50ms/row at 300 shingles vs ~1ms/row for this form.)

    Output: (id, mh_0 .. mh_{n-1}).  Docs with empty shingle sets drop out
    (they cannot be near-dups of anything).
    """
    pairs = sh_rows.withColumn("h", F.xxhash64("shingle"))
    aggs = [
        F.min(F.col("h") * F.lit(_mh_mult(i)) + F.lit(_mh_off(i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return pairs.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 2,
    num_hashes: int = 32,
    n_bands: int = 8,
    threshold: float = 0.1,
    max_bucket_size: int | None = 256,
    corpus_count: int | None = None,
    shingles_per_doc_est: int = 64,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding, verified with
    exact Jaccard on the candidates only.

    ``corpus_count`` (doc count; parquet-footer row count at the call
    sites — zero Spark jobs; callers must count the corpus ACTUALLY
    deduped, including any injected rows) scales the forced-shuffle_hash
    partition counts with the corpus.  ``shingles_per_doc_est`` sizes the
    verify-join pins (default 64 ≈ the fixture corpus's measured ~53
    2-gram shingles/doc, ceiled); corpora with longer documents should
    pass their own estimate — over-estimating costs only extra (cheap)
    partitions, under-estimating re-grows the un-spillable build.  A shuffle_hash build CANNOT spill, so its
    per-task build rows are corpus_rows / P — a fixed P makes the build
    grow linearly with the corpus and eventually throw
    SparkOutOfMemoryError ("not enough memory to build hash map"; the
    round-10 THIRD-decade panel hit exactly this at 5M docs / 265M
    shingle rows / P=32 on an 8g heap).  With corpus_count, BOTH sides of
    the band self-join and of the shingle verify join are explicitly
    repartitioned to hold ~256k build rows per task — bounded per-task
    memory at ANY corpus size.  Both sides, not just the build: with only
    one side user-width, EnsureRequirements co-partitions the join by
    rewriting the user exchange back down to the session width
    (measured), silently restoring the corpus-linear build.  The pins
    replace exchanges the plan needed anyway (the band width rides the
    bucket-cap window's exchange; the verify width replaces the
    ENSURE_REQUIREMENTS shuffle on the same keys), so they cost no extra
    shuffle, and REPARTITION_BY_NUM is never AQE-coalesced.  None keeps
    the session default (fine at oracle/test scales).

    rows_per_band = num_hashes / n_bands; two docs collide if any band of
    their signatures is identical.  The band join shuffles on
    (band_idx, band_hash) — duplicate-heavy keys stay together, everything
    else never meets (the property that makes this run at 100 TB where the
    O(n²) exact join cannot).

    ``max_bucket_size`` is production-MinHash hygiene: a band bucket with k
    members yields k² candidate pairs, so one boilerplate-heavy bucket
    (identical headers/footers across millions of docs) would go quadratic.
    Buckets larger than the cap are dropped from candidate generation — the
    docs inside them are exact/near-exact duplicates of *many* others and
    still pair up through their other (n_bands - 1) bands unless the whole
    signature is degenerate.  Pass ``None`` to disable (test/ground-truth
    use).  Use ``lsh_dropped_buckets`` to audit what the cap excluded.
    """
    r = _bands_divide(num_hashes, n_bands)
    sh = shingle_rows(df, id_col, text_col, n)  # (id, shingle) rows, codegen
    # ONE per-doc aggregation produces the signature AND the shingle-set
    # size (sh is already distinct) — instead of separate signature and size
    # pipelines each re-running the shingle DAG
    pairs = sh.withColumn("h", F.xxhash64("shingle"))
    per_doc = pairs.groupBy("id").agg(
        F.count(F.lit(1)).alias("sz"),
        *[
            F.min(F.col("h") * F.lit(_mh_mult(i)) + F.lit(_mh_off(i))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ],
    )
    # slim banding relation: (id, sz, band_idx, band_hash) — the set size
    # rides along (8 bytes/doc) so candidate pairs carry both sizes out of
    # the self-join and the two per-side size joins disappear; shingle data
    # must NOT ride through the self-join shuffle (row width dominates)
    banded = per_doc.select(
        "id",
        "sz",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col(f"mh_{b * r + j}") for j in range(r)])
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    p_band = p_verify = None
    if corpus_count:
        # non-numeric on some vendor runtimes (e.g. "auto") — treat as 0 so
        # the sizing pins always apply rather than failing the query
        try:
            default_p = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            default_p = 0
        # shingles_per_doc_est defaults to 64 (~53 measured 2-gram
        # shingles/doc on the fixture corpus, ceiled) — a parameter so
        # long-document corpora can provision honestly.  Target ~256k
        # build rows/task (~16 MB of
        # UnsafeHashedRelation): with C concurrent tasks the memory
        # manager only GUARANTEES a task execution_mem / 2C — ~45-90 MB
        # on an 8g local[32] heap — and an un-spillable build that
        # outgrows its share throws rather than spills, so the target
        # must fit the guaranteed share, not the heap.
        shingle_rows_est = corpus_count * shingles_per_doc_est
        p_verify = min(8192, -(-shingle_rows_est // 262_144))
        p_band = min(8192, -(-corpus_count * n_bands // 262_144))
        # only pin when it WIDENS the join: at small corpora the derived
        # width is at or under the session default and the explicit
        # exchange would be pure overhead
        p_verify = p_verify if p_verify > default_p else None
        p_band = p_band if p_band > default_p else None
    if p_band:
        # user-width exchange BELOW the bucket-size window: the window
        # needs a (band_idx, band_hash) hash exchange anyway, and both
        # self-join sides read this same subtree (exchange reuse), so the
        # width pin costs ZERO extra shuffles.  Pinning both sides matters:
        # with only one side user-width, EnsureRequirements co-partitions
        # the join by rewriting the user exchange back to the session
        # width — measured, and it silently restores the un-spillable SHJ
        # build sizes this exists to bound (sf100 OOM).
        banded = banded.repartition(p_band, "band_idx", "band_hash")
    if max_bucket_size is not None:
        # window count reuses the (band_idx, band_hash) hash partitioning the
        # self-join needs anyway — no extra shuffle, no collect
        wb = Window.partitionBy("band_idx", "band_hash")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    # shuffle_hash on the self-join and on both verify joins below: every
    # one is an equi-join whose matched groups are small (band buckets are
    # capped; candidate pairs are output-linear) but whose INPUTS are
    # corpus-sized — exactly where SortMergeJoin's two O(n log n) sorts
    # are pure overhead.  Hash build sides are per-partition-bounded: the
    # banding relation is 4 slim columns, and the verify joins below pin
    # their own build sides explicitly (see the comment there).  Measured
    # at the sf10 decade: the sort-free plan turns the one borderline
    # 1->10 ratio (~11x, n log n on 10x rows) linear.
    a = banded.alias("a")
    b = banded.hint("shuffle_hash").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact-Jaccard verification for the (few) candidates, set ops as joins:
    # |A∩B| = count of shared shingle rows per pair, |A∪B| = szA + szB - ∩
    # — every step codegen joins/aggregations, no array materialization.
    # The set elements travel as their 64-bit xxhash (8-byte join keys)
    # rather than the n-gram strings: the intersection shuffle shrinks by
    # the mean gram length and the equality compare is one long — identical
    # jaccard modulo 2^-64-probability hash collisions (the all-pairs
    # string-keyed ground truth lives in ngram_jaccard_pairs).
    hs = pairs.select("id", "h")
    hs_a = hs.select(F.col("id").alias("id_a"), "h")
    hs_b = hs.select(F.col("id").alias("id_b"), "h")
    if p_verify:
        # bound the un-spillable SHJ build: ~256k (id_b, h) rows per task
        # regardless of corpus size (see corpus_count in the docstring)
        hs_b = hs_b.repartition(p_verify, "id_b", "h")
    # Build sides made explicit per join (a hint marks ITS OWN relation as
    # the preferred hash build side; a hint after a join would mark the
    # joined subtree, i.e. the pairs-exploded-by-shingles relation — an
    # output-dependent size that can spike under banding skew):
    #   join 1: build = the slim candidate-id relation (2 long columns,
    #           output-linear rows), probe = corpus shingles;
    #   join 2: build = hs_b, whose per-partition size after the
    #           (id_b, h) shuffle is corpus_shingles / P — the standard
    #           SHJ bound, and skew-free because h is ~unique per doc so
    #           the composite key has no hot values.
    probe1 = hs_a.join(cand.select("id_a", "id_b").hint("shuffle_hash"), "id_a")
    if p_verify:
        # pin the PROBE side to the same user width as hs_b: with only
        # one side user-width, EnsureRequirements co-partitions the join
        # by rewriting the user exchange back to the session width —
        # measured, and it restores the corpus-linear build this bounds.
        # This exchange replaces (same keys) the one the join needed
        # anyway, so the pin costs no extra shuffle.
        probe1 = probe1.repartition(p_verify, "id_b", "h")
    inter = (
        probe1.join(hs_b.hint("shuffle_hash"), ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.round(
        F.col("n_inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
        6,
    )
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .fillna({"n_inter": 0})
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_dropped_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 2,
    num_hashes: int = 32,
    n_bands: int = 8,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Audit companion to ``minhash_lsh_pairs``: the band buckets the cap
    excluded, with member counts — run (and log) this beside the dedup job so
    'what was dropped' is observable, not silent."""
    r = _bands_divide(num_hashes, n_bands)
    sh = shingle_rows(df, id_col, text_col, n)
    sigs = minhash_signatures_df(sh, num_hashes=num_hashes)
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col(f"mh_{b * r + j}") for j in range(r)])
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    return (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > max_bucket_size)
    )


#: portable universal-hash family over the Mersenne prime 2^31-1: the base
#: hash is the first 12 hex chars of md5 (48 bits), reduced mod p, then
#: h_i(x) = (a_i*x + b_i) mod p with a_i*x < 2^62 (no int64 overflow) — every
#: step is ANSI-SQL-expressible, so a DuckDB oracle can replay the EXACT
#: pipeline (xxhash64, used by the fast path above, exists only in Spark).
_P_PORT = 2_147_483_647
_PORT_A = [(2_654_435_761 * (2 * i + 1)) % _P_PORT for i in range(64)]
_PORT_B = [(40_503 * 65_537 * (i + 1)) % _P_PORT for i in range(64)]


def portable_hash_expr(col: str | Column) -> Column:
    """48-bit md5-prefix hash reduced mod 2^31-1 — byte-identical between
    Spark (``conv(substring(md5(x),1,12),16,10)``) and DuckDB (hex-digit
    polynomial list comprehension).  JVM-side (md5+conv are codegen
    builtins), ~2x the cost of xxhash64 — the price of SQL portability;
    production dedup should keep xxhash64."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long") % F.lit(
        _P_PORT
    )


def minhash_lsh_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 2,
    num_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """``minhash_lsh_pairs`` with the portable hash family: identical
    pipeline shape (shingle -> per-doc MIN aggregates -> band self-join ->
    exact-Jaccard verification on candidates only), but every hash is
    replayable in ANSI SQL, so the whole MinHash+LSH pipeline — banding
    collisions included — gets a full value-hash driver oracle
    (registry_ext.x1_minhash_portable) instead of a rows-only check.

    Differences from the fast path, all forced by portability: md5-prefix
    base hash (vs xxhash64), mod-p universal family (vs 64-bit wraparound),
    band keys as joined strings (vs xxhash64 of the band slots), and
    string-keyed intersection counting (vs 8-byte hash keys).  Same
    shuffle structure, so the scale posture is unchanged."""
    r = _bands_divide(num_hashes, n_bands)
    sh = shingle_rows(df, id_col, text_col, n)
    pairs = sh.withColumn("x", portable_hash_expr("shingle"))
    per_doc = pairs.groupBy("id").agg(
        F.count(F.lit(1)).alias("sz"),
        *[
            F.min((F.col("x") * F.lit(_PORT_A[i]) + F.lit(_PORT_B[i])) % F.lit(_P_PORT)).alias(
                f"m_{i}"
            )
            for i in range(num_hashes)
        ],
    )
    banded = per_doc.select(
        "id",
        "sz",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",", *[F.col(f"m_{b * r + j}").cast("string") for j in range(r)]
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sh.select(F.col("id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.select("id_a", "id_b")
        .join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.round(
        F.col("n_inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
        6,
    )
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .fillna({"n_inter": 0})
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document via explode + 63 signed-vote SUM
    aggregates (sign bit left clear for stable positive longs).

    Flat expressions + one hash aggregation: whole-stage codegen applies and
    map-side partial sums collapse each doc's tokens before the shuffle —
    the same scalability reformulation as ``minhash_signatures_df`` (an
    array-expression SimHash re-scans the token hashes once per bit,
    interpreted)."""
    toks = F.split(normalize_text(text_col), r"\s+")
    pairs = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("t")).withColumn(
        "h", F.xxhash64("t")
    )
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << i).cast("long")) != 0, 1).otherwise(-1)
        ).alias(f"v_{i}")
        for i in range(63)
    ]
    agg = pairs.groupBy("id").agg(*votes)
    fp = F.lit(0).cast("long")
    for i in range(63):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v_{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select("id", fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs at hamming distance <= ``max_hamming`` via the 4-block
    pigeonhole: any pair within hamming 3 agrees exactly on at least one of
    four 16-bit blocks, so four equality joins (shuffle on block value)
    replace the O(n²) comparison."""
    fps = simhash_fingerprints(df, id_col, text_col)
    blocks = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF).cast("long"))
                        .alias("block_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("blk"),
    ).select("id", "simhash", "blk.block_idx", "blk.block_val")
    a = blocks.alias("a")
    # shuffle_hash: 16-bit block buckets hold ~n/65536 rows each (small
    # matched groups) while the inputs are corpus-sized — SortMergeJoin
    # would sort the 4n-row block relation twice for nothing (the same
    # sort-free rewrite measured 3.7x on the MinHash band join at sf10)
    b = blocks.hint("shuffle_hash").alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_near_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """``simhash_near_pairs`` with the portable md5-prefix token hash and a
    32-bit fingerprint in 8-bit pigeonhole blocks — every step (votes,
    fingerprint packing, block join, popcount verify) is ANSI-SQL-
    replayable, so the SimHash pipeline gets a full value-hash driver
    oracle (registry_ext.x1_simhash_portable).  hamming<=3 over 4 blocks
    keeps the pigeonhole guarantee: any qualifying pair agrees exactly on
    at least one block.  Same aggregation/join shape as the 63-bit
    xxhash64 fast path, which stays the production configuration."""
    # the 4x8-bit pigeonhole block math below is specific to these values:
    # >3 differing bits could avoid every block (silently dropping pairs),
    # and a non-32-bit fingerprint breaks the block extraction
    if n_bits != 32:
        raise ValueError(f"portable SimHash requires n_bits=32, got {n_bits}")
    if max_hamming > 3:
        raise ValueError(
            "4-block pigeonhole only guarantees completeness for "
            f"max_hamming<=3, got {max_hamming}"
        )
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), r"\s+")
    pairs = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("t")).withColumn(
        "h", F.conv(F.substring(F.md5("t"), 1, 12), 16, 10).cast("long")
    )
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << i).cast("long")) != 0, 1).otherwise(-1)
        ).alias(f"v_{i}")
        for i in range(n_bits)
    ]
    agg = pairs.groupBy("id").agg(*votes)
    fp = F.lit(0).cast("long")
    for i in range(n_bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v_{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    fps = agg.select("id", fp.alias("simhash"))
    blocks = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftrightunsigned("simhash", 8 * i)
                        .bitwiseAND(F.lit(0xFF).cast("long"))
                        .alias("block_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("blk"),
    ).select("id", "simhash", "blk.block_idx", "blk.block_val")
    a = blocks.alias("a")
    b = blocks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_id: int | None = 200,
) -> DataFrame:
    """Near-duplicate vectors by cosine >= threshold over a bounded id range
    (oracle-checkable exact form; the LSH-bucketed scale path lives in
    operators/similarity.py)."""
    from .similarity import cosine_expr, with_norm

    base = with_norm(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "v"
    )
    if max_id is not None:
        base = base.filter(F.col("id") < max_id)
    a = base.alias("a")
    b = base.alias("b")
    sim = cosine_expr("a.v", "b.v", "a.norm", "b.norm")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(sim, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# cross-corpus decontamination (train/test n-gram overlap)
# ---------------------------------------------------------------------------


def contamination_report(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: for each TRAIN document sharing at least
    one word ``n``-gram with any TEST document, report
    (doc_id, n_shared_grams, n_test_docs) — the evidence row a curation
    pipeline uses to drop (or flag) contaminated training data.

    Both sides reduce to distinct (id, shingle) rows via the zero-shuffle
    ``shingle_rows`` projection; the overlap is ONE equi-join on the
    shingle string followed by one aggregation on the train id.  The join
    key is the n-gram text itself, so stop-gram skew (a ubiquitous phrase
    bucket) is the scale hazard — mitigate by raising ``n`` or hashing
    grams and filtering the top-frequency tail before the join
    (AQE skew-join handles moderate cases).
    """
    tr = shingle_rows(train, id_col, text_col, n=n)
    te = shingle_rows(test, id_col, text_col, n=n).select(
        F.col("id").alias("test_id"), F.col("shingle").alias("t_sh")
    )
    return (
        tr.join(te, tr.shingle == te.t_sh)
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.countDistinct("shingle").alias("n_shared_grams"),
            F.countDistinct("test_id").alias("n_test_docs"),
        )
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Drop contaminated train docs: LEFT ANTI join against the distinct
    contaminated-id set from ``contamination_report`` (projected to the id
    column only, so the anti-join build side is slim)."""
    bad = contamination_report(train, test, id_col, text_col, n=n).select(id_col)
    return train.join(bad, on=id_col, how="left_anti")


def bloom_decontaminate_report(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the MEMORY-BOUNDED scale
    path next to ``contamination_report``'s exact gram join.

    The benchmark side is reduced to its set of Bloom bit positions:
    every distinct benchmark ``n``-gram sets ``k`` positions in an
    ``m_bits``-wide filter (positions = k independent universal hashes of
    the portable md5-prefix gram hash).  A train gram "hits" iff ALL k of
    its positions are set — the classic Bloom membership test, with the
    classic one-sided error: false positives at rate ~(1-e^{-kn/m})^k,
    never false negatives, which is the right direction for
    decontamination (over-flagging is safe, under-flagging is not).

    Why this beats the exact join at 100 TB: the filter is ≤ m_bits bits
    (128 KiB/2^20 here) REGARDLESS of benchmark size, so it broadcasts to
    every executor and the train side is tested with three broadcast-hash
    probes per gram — no shuffle of benchmark grams, no skew on ubiquitous
    phrases, and the train side stays a narrow scan until the final per-doc
    aggregation (the only exchange in the plan).  Relationally the filter
    is the distinct-position table; a production deployment packs it into
    an actual bitset broadcast variable — same semantics, same hashes.

    Output: one row per train doc —
    ``(doc_id, n_grams, n_flagged_grams, contaminated)``.  All arithmetic
    is portable integer math, so an ANSI-SQL oracle replays the filter
    bit-for-bit (Bloom false positives are deterministic given the hash
    family).
    """
    if k > len(_PORT_A):
        raise ValueError(f"k={k} exceeds available hash family size")
    filt = (
        shingle_rows(bench, id_col, text_col, n=n)
        .select(portable_hash_expr("shingle").alias("x"))
        .select(
            F.explode(
                F.array(
                    *[
                        ((F.col("x") * _PORT_A[h] + _PORT_B[h]) % _P_PORT)
                        % F.lit(m_bits)
                        for h in range(k)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
    )
    tr = shingle_rows(train, id_col, text_col, n=n).select(
        "id", portable_hash_expr("shingle").alias("x")
    )
    probed = tr
    all_set = None
    for h in range(k):
        pos_h = ((F.col("x") * _PORT_A[h] + _PORT_B[h]) % _P_PORT) % F.lit(m_bits)
        fh = F.broadcast(filt.select(F.col("pos").alias(f"_p{h}"), F.lit(1).alias(f"_m{h}")))
        probed = probed.join(fh, pos_h == F.col(f"_p{h}"), "left")
        hit = F.col(f"_m{h}").isNotNull()
        all_set = hit if all_set is None else (all_set & hit)
    return (
        probed.select("id", all_set.alias("_hit"))
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_hit"), 1).otherwise(0)).alias("n_flagged_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "n_flagged_grams",
            (F.col("n_flagged_grams") > 0).alias("contaminated"),
        )
    )


def dedup_survivors(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    *,
    prefer_col: str | None = None,
) -> DataFrame:
    """Exact-dedup survivor selection with a pluggable survivorship
    policy: one row per duplicate group carrying the KEPT id.

    ``prefer_col=None`` keeps the minimum id (reproducible default);
    ``prefer_col="n_chars"`` (or any orderable column) keeps the row with
    the LARGEST value, min-id on ties — the "keep the longest document"
    policy production dedup usually wants, because trafficked near-copies
    are truncations of the fullest original.

    Numeric ids take one hash-partitioned aggregation (``max_by`` over a
    struct with an arithmetic-negation tiebreak — lexical struct comparison
    gives min-id-on-ties for free); non-numeric ids (negation would raise)
    take a two-level aggregate: pre-collapse to one min-id row per
    (group, prefer-value) — which absorbs all tie handling — then one
    ``max_by`` per group.  Both shapes are window-free with map-side
    partial aggregation, so a pathological 10M-copy group costs its
    reducer one row per upstream partition."""
    from pyspark.sql.types import NumericType

    if prefer_col is None:
        return df.groupBy(*key_cols).agg(
            F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
        )
    if isinstance(df.schema[id_col].dataType, NumericType):
        return df.groupBy(*key_cols).agg(
            F.max_by(
                id_col, F.struct(F.col(prefer_col), (-F.col(id_col)).alias("_tie"))
            ).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.max(prefer_col).alias(f"max_{prefer_col}"),
        )
    lvl1 = df.groupBy(*key_cols, prefer_col).agg(
        F.min(id_col).alias("_min_id"), F.count(F.lit(1)).alias("_c")
    )
    return lvl1.groupBy(*key_cols).agg(
        F.max_by("_min_id", F.col(prefer_col)).alias("keep_id"),
        F.sum("_c").cast("long").alias("n_copies"),
        F.max(prefer_col).alias(f"max_{prefer_col}"),
    )


#: fine-centroid count past which ``semantic_dedup`` switches from flat
#: N x k x dim assignment to the two-level IVF-style kernel.  1024 keeps
#: every ORACLE-CHECKED scale on the bit-exact flat path (k =
#: clamp(N/125, 16, N): sf0.01 -> 16, sf0.1 -> 16, sf1 -> 160) and moves
#: the sf10 scaling fixture (k = 1600 at 200k embeddings) and beyond
#: onto the N x sqrt(k)-shaped scale path — the round-9 posture, re-tuned
#: after the round-10 structure-preserving fixture shrank sf10's k below
#: the old 2048 line.
_HIERARCHICAL_K = 1024


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "v",
    *,
    threshold: float = 0.95,
    pair_kernel: str = "auto",
    row_count_hint: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    cluster every vector to its nearest centroid, compute exact pairwise
    cosine ONLY within each cluster, and discard the higher-id member of
    every pair above ``threshold`` (the greedy keep-lowest-id rule).
    Returns surviving ``(id, cluster)`` rows.

    This is the Abbas et al. SemDeDup recipe: the clustering bounds the
    quadratic pair generation to sum(|cluster|^2) — with k ~ sqrt(N)
    centroids the join is tractable at corpus scale where all-pairs cosine
    is not.  The pair join is a plain equi-join on the cluster id (ids
    ordered to halve the pairs); norms are computed once per vector, never
    per pair; the discard set joins back LEFT ANTI on the id.

    ``pair_kernel`` picks the within-cluster scoring engine per the
    fold/Arrow contract of ``kernels.use_arrow``: the fold is a self-join
    on the cluster id + a per-pair higher-order fold, which Catalyst never
    codegens (at the sf10 decade THIS stage was ~75% of the query's wall
    time); the Arrow twin is :func:`_semdedup_pairs_arrow`.  Both keep
    the decision Spark-side as the identical ``round(raw, 6) >=
    threshold``."""
    from . import clustering
    from . import similarity

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # flat assignment: ``assign_clusters_auto`` picks the inlined literal
    # folds (one codegen projection; k <= 32 at small N) or the
    # bit-identical Arrow-batched numpy kernel — the shape that holds when
    # k scales with the corpus (SemDeDup wants constant cluster size, so
    # k ~ N/size: thousands of centroids and a dense distance kernel, not
    # k inlined expressions).
    if len(centroids) > _HIERARCHICAL_K:
        # flat assignment is N x k x dim and SemDeDup's k grows with the
        # corpus (constant cluster size), so past this point the
        # assignment term is the pipeline's one latent super-linear cost —
        # switch to the two-level IVF-style kernel: N x (sqrt(k) + probes
        # * sqrt(k)) x dim.  Approximate in the standard IVF sense (a rare
        # misassignment can only MISS a near-dup pair); the flat kernel
        # stays the bit-exact oracle-checked path at every fixture scale
        # below the threshold.
        assigned = clustering.assign_clusters_hierarchical(base, "v", centroids)
    else:
        assigned = clustering.assign_clusters_auto(
            base, "v", centroids, row_count_hint=row_count_hint
        )
    # Materialize (id, cluster, nrm, v) once: the relation feeds BOTH join
    # sides plus the final anti-join, and without the barrier each consumer
    # re-evaluates the k x dim assignment expression (measured 5.5x on the
    # join stage alone).  This is the SemDeDup recipe's own shape — the
    # cluster assignment is a materialized artifact, sized id+cluster+norm+
    # vector per row, partition-parallel at corpus scale.
    withn = (
        assigned.withColumn("nrm", F.sqrt(similarity.norm_sq_expr("v")))
        .localCheckpoint(eager=False)
    )
    if use_arrow(pair_kernel, withn.schema["id"].dataType):
        # Raw candidate cosines from the per-cluster numpy kernel; the
        # decision itself is the SAME Spark round(raw, 6) >= threshold
        # the fold path applies, on bit-identical raw doubles.
        dup_b = (
            _semdedup_pairs_arrow(withn, threshold)
            .filter(F.round(F.col("_raw_cosine"), 6) >= F.lit(threshold))
            .select("id")
            .distinct()
        )
    else:
        a = withn.alias("a")
        b = withn.alias("b")
        # dot_expr casts each element to double BEFORE multiplying — a raw
        # float32 x*y would round in single precision and diverge from a
        # DOUBLE[]-based oracle replay near the dedup threshold
        cos = F.round(
            similarity.dot_expr(F.col("a.v"), F.col("b.v"))
            / (F.col("a.nrm") * F.col("b.nrm")),
            6,
        )
        dup_b = (
            a.join(
                b,
                (F.col("a.cluster") == F.col("b.cluster"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .filter(cos >= F.lit(threshold))
            .select(F.col("b.id").alias("id"))
            .distinct()
        )
    return withn.join(dup_b, on="id", how="left_anti").select("id", "cluster")


def _semdedup_pairs_arrow(withn: DataFrame, threshold: float) -> DataFrame:
    """(id, _raw_cosine) candidate near-dup rows — the higher-id member of
    every within-cluster pair whose RAW cosine clears ``threshold - 1e-6``
    — via ``groupBy(cluster).applyInPandas``, the Arrow twin of
    :func:`semantic_dedup`'s pair join.

    Accumulation contract (the one ``similarity._cosine_scores_arrow`` keeps):
    dots fold scalar-sequentially across the dim index in float64
    (``dots += V[:, i, None] * V[None, :, i]``) and the cosine divides by
    ``a.nrm * b.nrm`` — the Spark-computed norm column, passed through
    Arrow untouched — so raw doubles are bit-identical to the fold path's.
    The 1e-6 margin is conservative vs round-to-6dp (which moves a value
    by at most 5e-7): no pair the fold path would keep can be prefiltered
    away.  Pairs honor ``a.id < b.id`` via a strict upper triangle in id
    order; zero-norm rows produce NaN/Inf raw cosines exactly as the fold
    does, and the prefilter drops NaN pairs (``cos >= margin`` is False
    for NaN) — identically to the fold path, whose null-filtering
    decision also never keeps a NaN cosine.  Work per cluster
    is |c|^2 x dim (the SemDeDup recipe's own bound); the row blocking
    caps task memory at 2048 x |c| doubles under cluster skew."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id", withn.schema["id"].dataType),
            StructField("_raw_cosine", DoubleType()),
        ]
    )
    margin = float(threshold) - 1e-6

    def score(pdf):
        import pandas as pd

        # fold parity for NULL ids: the fold pair join's a.id < b.id is
        # NULL-false, so null-id rows pair with nothing — drop them before
        # the (possibly float64/object-materialized) id column round-trips
        # through numpy; survivors are non-null and convert losslessly
        pdf = pdf[pdf["id"].notna()]
        ids = pdf["id"].to_numpy(dtype=np.int64)  # non-null after the filter
        order = np.argsort(ids, kind="stable")
        ids, n = ids[order], len(ids)
        out_ids, out_cos = [ids[:0]], [np.empty(0, dtype=np.float64)]
        if n >= 2:
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)[order]
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["v"].to_numpy()[order]]
            )  # (n, d)
            cols = np.arange(n)[None, :]
            block = 2048
            with np.errstate(divide="ignore", invalid="ignore"):
                for s in range(0, n, block):
                    e = min(s + block, n)
                    dots = np.zeros((e - s, n), dtype=np.float64)
                    for i in range(v.shape[1]):
                        dots += v[s:e, i, None] * v[None, :, i]
                    cos = dots / (nrm[s:e, None] * nrm[None, :])
                    mask = (cols > np.arange(s, e)[:, None]) & (cos >= margin)
                    hit_a, hit_b = np.nonzero(mask)
                    out_ids.append(ids[hit_b])
                    out_cos.append(cos[hit_a, hit_b])
        return pd.DataFrame(
            {
                "id": np.concatenate(out_ids),
                "_raw_cosine": np.concatenate(out_cos),
            }
        )

    return (
        withn.select("id", "cluster", "nrm", "v")
        .groupBy("cluster")
        .applyInPandas(score, schema=out_schema)
    )


def _gear_hash_rows(normed: DataFrame, window: int) -> DataFrame:
    """(id, pos, h) rows of ``normed``'s (id, _n) documents: for every
    full ``window``-gram starting at 1-based ``pos``, the gear/Rabin-style
    polynomial ``h = (Σ_j code(c_{pos+j}) · 31^j) mod 2147483647`` over
    code points — pure int64 arithmetic, exactly replayable in ANSI SQL
    (Spark ``ascii`` and DuckDB ``unicode`` both return the full code
    point, verified over BMP and astral chars).  Max magnitude
    0x10FFFF · 31^7 · 8 ≈ 2.4e17, well inside int64.  The numpy twin is
    :func:`_gear_hashes`.

    Shape: the per-doc POSITION-HASH ARRAY is built in one expression —
    code points once (O(len)), each window folded with literal 31^j
    weights by random-access array indexing — then ``posexplode`` emits
    slim (position, hash) LONG rows.  Two measured traps, ~500-char docs,
    sf0.1: per-position ``substring(_n, p, 8)`` grams re-scan the string
    prefix per code-point index (quadratic in doc length), and exploding
    positions BEFORE hashing makes the Generate node copy the text or
    char array into every generated row (O(len²) memory traffic, 4-5x
    slower)."""
    poly = " + ".join(f"_codes[i + {j}] * {31 ** j}L" for j in range(window))
    return (
        normed.select(
            "id",
            F.expr(
                "transform(split(_n, ''), ch -> CAST(ascii(ch) AS BIGINT))"
            ).alias("_codes"),
        )
        .select(
            "id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, greatest(size(_codes) - {window}, 0)),"
                    f" i -> ({poly}) % 2147483647)"
                )
            ).alias("i", "h"),
        )
        # docs shorter than the window emit a single i=0 entry whose
        # out-of-bounds code-point lookups make the whole polynomial
        # NULL (ANSI off, pinned) — drop them, they have no full gram
        .filter(F.col("h").isNotNull())
        .select("id", (F.col("i") + 1).alias("pos"), "h")
    )


def _gear_hashes(texts, window: int):
    """Numpy twin of :func:`_gear_hash_rows` over one batch of texts (a
    pandas Series): ``(row, pos, h)`` arrays, one entry per full gram,
    ``row`` indexing ``texts`` in order and ``pos`` ascending within a row.

    ALL code points of the batch come from one ``utf-32-le`` decode of the
    concatenation (each char is exactly its code point, what ``ord``
    returns, and Python strings index code points as Spark does), ALL
    window hashes from one batch-wide int64 multiply-add with the 31^j
    weights (same wraparound-free arithmetic as the fold); windows that
    cross a document boundary are dropped by index arithmetic."""
    import numpy as np

    sel = np.fromiter(
        (s is not None and len(s) >= window for s in texts),
        dtype=bool,
        count=len(texts),
    )
    rows = np.nonzero(sel)[0]
    if rows.size == 0:
        return rows, rows, np.empty(0, dtype=np.int64)
    docs = texts.iloc[rows]
    lens = np.fromiter(map(len, docs), dtype=np.int64, count=len(docs))
    codes = np.frombuffer("".join(docs).encode("utf-32-le"), dtype="<u4").astype(
        np.int64
    )
    n_win = codes.shape[0] - window + 1
    acc = codes[:n_win].copy()
    for j in range(1, window):
        acc += codes[j : j + n_win] * np.int64(31**j)
    ks = lens - window + 1  # windows per doc
    doc_idx = np.repeat(np.arange(len(docs)), ks)
    within = np.arange(int(ks.sum()), dtype=np.int64) - np.repeat(np.cumsum(ks) - ks, ks)
    offsets = np.cumsum(lens) - lens  # doc starts in the concatenation
    h = acc[offsets[doc_idx] + within] % 2147483647
    return rows[doc_idx], within + 1, h


def cdc_chunk_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    window: int = 8,
    modulus: int = 64,
    kernel: str = "auto",
) -> DataFrame:
    """Content-defined chunking (Rabin/gear-style): cut each normalized
    document at positions where the rolling window hash satisfies
    ``hash % modulus == 0``, yielding ``(id, chunk_idx, start, chunk,
    chunk_hash)`` rows with expected chunk length ~``modulus`` chars.

    Why content-defined beats fixed-width chunking for dedup: an insertion
    near the front of a document SHIFTS every fixed-width boundary after
    it, so all downstream chunks change; CDC boundaries are a function of
    LOCAL content only, so edits perturb just the chunk they touch and
    shared regions keep producing identical chunks — which is what makes
    chunk-level dedup find large common spans between near-identical
    documents (the storage-dedup trick, applied to corpus curation).

    Boundary hash: the gear polynomial of :func:`_gear_hash_rows`.  Real
    CDC uses a cheap per-position hash by design; hashing every position
    with the md5-prefix family was measured 2-2.4x slower.

    ``kernel`` follows the fold/Arrow contract of ``kernels.use_arrow``.
    The fold plan (the ANSI/oracle-replayable witness) keeps only the cut
    rows (~1/modulus of positions) for the per-doc ``lead`` window that
    turns cut positions into (start, end) spans, so its one exchange
    shuffles cut rows, not character rows.  The Arrow twin
    (:func:`_cdc_chunk_rows_arrow`) is one ``mapInPandas`` pass — scan ->
    mapInPandas -> project(md5), zero shuffles.  NULL ids produce no
    chunks on either path: the fold re-attaches text through an
    equi-join on id, which rejects NULLs.
    """
    from .text import normalize_text

    normed = df.select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
    if use_arrow(kernel, normed.schema["id"].dataType):
        chunked = _cdc_chunk_rows_arrow(normed, window, modulus)
        return chunked.select(
            "id", "chunk_idx", "start", "chunk",
            F.md5("chunk").alias("chunk_hash"),
        )
    # candidate cuts are 1-based positions 2..len-window+1
    cand = (
        _gear_hash_rows(normed, window)
        .filter((F.col("pos") >= 2) & (F.col("h") % modulus == 0))
        .select("id", F.col("pos").alias("p"))
    )
    # spans are derived from SLIM (id, p) rows — the window must not carry
    # the document text, or shuffle bytes go quadratic in doc length
    # (each of the ~len/modulus cut rows would drag the full text along)
    sentinel = normed.select("id", F.lit(1).cast("int").alias("p"))
    cuts = sentinel.unionByName(cand.select("id", F.col("p").cast("int").alias("p")))
    w = Window.partitionBy("id").orderBy(F.col("p").asc())
    spans = cuts.select(
        "id",
        (F.row_number().over(w) - 1).cast("int").alias("chunk_idx"),
        F.col("p").alias("start"),
        (F.lead("p", 1).over(w) - 1).alias("_next"),
    )
    # one text shuffle total: each doc joins its span list once.  The
    # per-chunk substring's prefix scan makes extraction O(len²/modulus)
    # per doc — amortized ~modulus x cheaper than per-position work and
    # kept because the alternative (carrying a pre-split char array
    # through the join) multiplies the text's shuffle bytes ~8x.
    chunked = spans.join(normed, "id").select(
        "id",
        "chunk_idx",
        "start",
        F.expr("substring(_n, start, coalesce(_next, length(_n)) - start + 1)").alias(
            "chunk"
        ),
    )
    return chunked.select(
        "id", "chunk_idx", "start", "chunk", F.md5("chunk").alias("chunk_hash")
    )


def _cdc_chunk_rows_arrow(normed: DataFrame, window: int, modulus: int) -> DataFrame:
    """One-pass Arrow CDC chunker over (id, _n) rows: the batch's gram
    hashes from :func:`_gear_hashes`, filtered to the cuts, then chunks
    via row-local slices.  Cut positions and chunk text are bit-identical
    to the fold plan's (integer arithmetic only)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    id_type = normed.schema["id"].dataType
    id_dtype = nullable_int_dtype(id_type)
    out_schema = StructType(
        [
            StructField("id", id_type),
            StructField("chunk_idx", IntegerType()),
            StructField("start", IntegerType()),
            StructField("chunk", StringType()),
        ]
    )

    def chunker(batches):
        import pandas as pd

        for pdf in batches:
            row, pos, h = _gear_hashes(pdf["_n"], window)
            cut = (pos >= 2) & (h % modulus == 0)
            row, pos = row[cut], pos[cut].tolist()
            lo = np.searchsorted(row, np.arange(len(pdf)), side="left")
            hi = np.searchsorted(row, np.arange(len(pdf)), side="right")
            ids, idxs, starts, chunks = [], [], [], []
            in_ids = checked_id_series(pdf["id"], id_dtype)
            for r, (doc_id, s) in enumerate(zip(in_ids, pdf["_n"])):
                if doc_id is None or doc_id is pd.NA:
                    continue  # fold parity: the text re-attach join drops null ids
                if s is None:
                    # fold parity: the sentinel row always exists; its
                    # substring over a null doc is null
                    ids.append(doc_id); idxs.append(0)
                    starts.append(1); chunks.append(None)
                    continue
                cuts = [1] + pos[lo[r] : hi[r]]
                bounds = cuts + [len(s) + 1]
                for k, p in enumerate(cuts):
                    ids.append(doc_id); idxs.append(k)
                    starts.append(p); chunks.append(s[p - 1 : bounds[k + 1] - 1])
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype=id_dtype or pdf["id"].dtype),
                    "chunk_idx": pd.Series(idxs, dtype="int32"),
                    "start": pd.Series(starts, dtype="int32"),
                    "chunk": pd.Series(chunks, dtype="object"),
                }
            )

    return normed.mapInPandas(chunker, schema=out_schema)


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    window: int = 8,
    modulus: int = 64,
) -> DataFrame:
    """Chunk-level dedup over content-defined chunks: one row per distinct
    chunk content with its spread — ``(chunk_hash, chunk_len, n_copies,
    n_docs, keep_id)``.  One keyed aggregation (map-side combined) on the
    narrow ``cdc_chunk_rows`` projection."""
    rows = cdc_chunk_rows(df, id_col, text_col, window=window, modulus=modulus)
    return rows.groupBy("chunk_hash").agg(
        F.min(F.length("chunk")).cast("int").alias("chunk_len"),
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct("id").alias("n_docs"),
        F.min("id").alias("keep_id"),
    )


def minhash_estimate_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 2,
    num_hashes: int = 16,
    n_bands: int = 4,
    tol: float = 0.35,
) -> DataFrame:
    """MinHash ACCURACY audit (the x11_hll_accuracy pattern applied to the
    dedup sketch): for every banded candidate pair, the sketch-estimated
    Jaccard — matching signature coordinates / num_hashes, the unbiased
    MinHash estimator — next to the exact shingle-set Jaccard, with a
    tolerance boolean (std of the estimator is sqrt(J(1-J)/num_hashes);
    ``tol`` should sit a few sigma out).  Because the portable hash family
    is integer arithmetic end to end, estimate, exact value, AND the
    boolean all replay in ANSI SQL — the driver hash-checks that the
    sketch's error behaves, not just that the pipeline runs.

    Shape: same banded self-join as ``minhash_lsh_pairs_portable``;
    signatures re-attach to the (small) candidate set by id — two slim
    joins of num_hashes longs; exact Jaccard via the shared-shingle count
    join on candidates only.  (r13 optimization note: extraction-
    barriering the signature and candidate relations here was tried and
    REGRESSED 2.1 -> 3.8 s at sf0.1 — the multi-consumed subtrees are
    already deduplicated at runtime by exchange reuse, while
    localCheckpoint adds a hard materialization and erases the size
    statistics that let the slim sides broadcast.  Left unbarriered on
    that measurement.)

    (r14 note: the OTHER barrier shape — writing the per-doc signature
    relation to a parquet store inside the call and serving every
    consumer from the files, the x2_index_persist build/serve split
    VERDICT r13 suggested — was implemented and measured as a clear
    REGRESSION at both scales: x1_minhash_accuracy 1.98 -> 2.74 s at
    sf0.1 and 6.72 -> 11.31 s at sf1, x1_minhash_portable 1.47 -> 1.98 s
    at sf0.1 (alternating-fresh-session probes,
    docs/PROBE_R14_MHSTORE_*.json).  Reason is the same as the r13
    localCheckpoint result: the static plan's duplicated signature
    chains share their aggregation exchange at runtime, so the store
    saves almost no compute while its write+read+commit I/O scales WITH
    the corpus.  Do not re-try a materialization barrier here; the plan's
    scan count overstates the executed work.)
    """
    r = _bands_divide(num_hashes, n_bands)
    sh = shingle_rows(df, id_col, text_col, n)
    pairs = sh.withColumn("x", portable_hash_expr("shingle"))
    per_doc = pairs.groupBy("id").agg(
        F.count(F.lit(1)).alias("sz"),
        *[
            F.min(
                (F.col("x") * F.lit(_PORT_A[i]) + F.lit(_PORT_B[i])) % F.lit(_P_PORT)
            ).alias(f"m_{i}")
            for i in range(num_hashes)
        ],
    )
    banded = per_doc.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",", *[F.col(f"m_{b * r + j}").cast("string") for j in range(r)]
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = per_doc.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        *[F.col(f"m_{i}").alias(f"ma_{i}") for i in range(num_hashes)],
    )
    sig_b = per_doc.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        *[F.col(f"m_{i}").alias(f"mb_{i}") for i in range(num_hashes)],
    )
    matches = None
    for i in range(num_hashes):
        t = F.when(F.col(f"ma_{i}") == F.col(f"mb_{i}"), 1).otherwise(0)
        matches = t if matches is None else (matches + t)
    est = F.round(matches.cast("double") / F.lit(float(num_hashes)), 6)
    scored = cand.join(sig_a, "id_a").join(sig_b, "id_b").select(
        "id_a", "id_b", "sz_a", "sz_b", est.alias("est_jaccard")
    )
    sh_a = sh.select(F.col("id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    exact = F.round(
        F.col("n_inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
        6,
    )
    return (
        scored.join(inter, ["id_a", "id_b"], "left")
        .fillna({"n_inter": 0})
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            exact.alias("exact_jaccard"),
            (
                F.abs(F.col("est_jaccard") - exact) <= F.lit(tol)
            ).alias("within_tolerance"),
        )
    )


def minhash_signature_store(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 2,
    num_hashes: int = 16,
) -> DataFrame:
    """The persisted near-dup index for incremental corpus curation: one
    row per document — ``(id, sz, m_0..m_{num_hashes-1})`` — its portable
    MinHash signature plus shingle-set size.  TEXT-FREE: ~num_hashes longs
    per doc, which is what lets a 100-TB corpus's dedup state live as a
    small parquet artifact between daily batches (the near-dup analogue of
    the exact ``x1_incremental_dedup`` fingerprint store).

    Same portable family as :func:`minhash_lsh_pairs_portable` (md5-prefix
    base hash + mod-p universal permutations), so both the store build and
    every downstream probe replay in ANSI SQL.  One corpus scan, one
    map-side-combined ``groupBy(id)``; signatures never shuffle again."""
    sh = shingle_rows(df, id_col, text_col, n)
    pairs = sh.withColumn("x", portable_hash_expr("shingle"))
    return pairs.groupBy("id").agg(
        F.count(F.lit(1)).alias("sz"),
        *[
            F.min(
                (F.col("x") * F.lit(_PORT_A[i]) + F.lit(_PORT_B[i])) % F.lit(_P_PORT)
            ).alias(f"m_{i}")
            for i in range(num_hashes)
        ],
    )


def _portable_band_rows(sig: DataFrame, *, num_hashes: int, n_bands: int) -> DataFrame:
    """(id, band_idx, band_key) LSH band rows derived from a signature
    relation — a narrow zero-shuffle projection (the band key is the
    joined string of the band's signature slots, the same key
    :func:`minhash_lsh_pairs_portable` self-joins on)."""
    r = _bands_divide(num_hashes, n_bands)
    return sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",", *[F.col(f"m_{b * r + j}").cast("string") for j in range(r)]
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def incremental_minhash_matches(
    batch_df: DataFrame,
    store: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    barrier_store: bool = True,
) -> DataFrame:
    """Near-dup gate for a NEW batch against the historical signature
    ``store`` (built by :func:`minhash_signature_store`): per batch doc,
    its best historical near-duplicate — ``(new_id, hist_id,
    est_jaccard)`` — WITHOUT touching historical text and WITHOUT
    re-deduping the corpus.

    Pipeline: sign the batch with the same portable family (one batch
    scan), band BOTH signature relations (narrow projections), equi-join
    bands (the structural bound on the candidate space — never
    batch x corpus), estimate Jaccard as the fraction of agreeing
    signature coordinates (the unbiased MinHash estimator; the store
    carries no shingle sets, so estimation IS the production check —
    ``minhash_estimate_report`` pins the estimator's error bound against
    exact Jaccard), keep candidates with ``est >= threshold``, and pick
    each batch doc's best match (highest estimate, ties to the lowest
    historical id) with ONE ``max(struct)`` aggregation — no window.

    Scale posture: shuffles are the band equi-join and the per-new-doc
    aggregation, both keyed; signatures re-attach to the (small) candidate
    set by id.  A deployment bucketing the stored bands by
    ``(band_idx, band_key)`` makes the daily probe join shuffle-free on
    the corpus side — the ``x1_incremental_dedup`` story applied to
    near-dups.  Threshold granularity is 1/num_hashes; rounded to 6 dp so
    the decision replays exactly in the DuckDB oracle.  Ids must be
    numeric: the single-aggregation best-match pick negates ``hist_id``
    inside the ``max(struct)`` for the lowest-id tie-break."""
    from .barrier import extraction_barrier

    # the signature relations feed BOTH the band projection and the
    # candidate-scoring join; without a barrier Catalyst inlines the
    # corpus-sized shingle/hash extraction into each consumer (the
    # double-extraction defect the round-11 dsir/oov/count-min fixes
    # removed).  Both relations are bounded at docs x (1 + num_hashes)
    # longs — the definition of a barrier-sized intermediate.
    batch_sig = extraction_barrier(
        minhash_signature_store(
            batch_df, id_col, text_col, n=n, num_hashes=num_hashes
        )
    )
    if barrier_store:
        # right when the store is computed in-plan; pass False when it is
        # served from parquet — two column-pruned scans of the persisted
        # artifact are cheaper than materializing a checkpoint copy
        store = extraction_barrier(store)
    new_bands = _portable_band_rows(
        batch_sig, num_hashes=num_hashes, n_bands=n_bands
    ).select(F.col("id").alias("new_id"), "band_idx", "band_key")
    hist_bands = _portable_band_rows(
        store, num_hashes=num_hashes, n_bands=n_bands
    ).select(F.col("id").alias("hist_id"), "band_idx", "band_key")
    cand = (
        new_bands.join(hist_bands, ["band_idx", "band_key"])
        .select("new_id", "hist_id")
        .dropDuplicates(["new_id", "hist_id"])
    )
    sig_new = batch_sig.select(
        F.col("id").alias("new_id"),
        *[F.col(f"m_{i}").alias(f"mn_{i}") for i in range(num_hashes)],
    )
    sig_hist = store.select(
        F.col("id").alias("hist_id"),
        *[F.col(f"m_{i}").alias(f"mh_{i}") for i in range(num_hashes)],
    )
    matches = None
    for i in range(num_hashes):
        t = F.when(F.col(f"mn_{i}") == F.col(f"mh_{i}"), 1).otherwise(0)
        matches = t if matches is None else (matches + t)
    est = F.round(matches.cast("double") / F.lit(float(num_hashes)), 6)
    scored = (
        cand.join(sig_new, "new_id")
        .join(sig_hist, "hist_id")
        .select("new_id", "hist_id", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= F.lit(threshold))
    )
    best = scored.groupBy("new_id").agg(
        F.max(
            F.struct(
                F.col("est_jaccard").alias("e"),
                (-F.col("hist_id")).alias("nh"),
            )
        ).alias("_b")
    )
    return best.select(
        "new_id",
        (-F.col("_b.nh")).alias("hist_id"),
        F.col("_b.e").alias("est_jaccard"),
    )


def _gear_hash_rows_arrow(normed: DataFrame, window: int) -> DataFrame:
    """Arrow twin of :func:`_gear_hash_rows`: the (id, pos, h) rows of
    :func:`_gear_hashes` via one ``mapInPandas`` pass.  NULL-id docs are
    KEPT (fold parity: duplicated_spans never equi-joins on id)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    id_type = normed.schema["id"].dataType
    id_dtype = nullable_int_dtype(id_type)
    out_schema = StructType(
        [
            StructField("id", id_type),
            StructField("pos", IntegerType()),
            StructField("h", LongType()),
        ]
    )

    def hasher(batches):
        import pandas as pd

        for pdf in batches:
            row, pos, h = _gear_hashes(pdf["_n"], window)
            in_ids = checked_id_series(pdf["id"], id_dtype)
            yield pd.DataFrame(
                {
                    "id": in_ids.iloc[row].reset_index(drop=True),
                    "pos": pos.astype(np.int32),
                    "h": h,
                }
            )

    return normed.mapInPandas(hasher, schema=out_schema)


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    window: int = 8,
    min_span: int = 30,
    kernel: str = "auto",
) -> DataFrame:
    """Duplicated-substring spans (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): per document, the maximal
    character spans whose every ``window``-gram also occurs somewhere else
    in the corpus (another doc or another position of the same doc) —
    ``(id, span_start, span_len, n_grams)`` for spans of at least
    ``min_span`` chars.  This is the substring-level dedup signal that
    exact/near doc-level dedup misses: boilerplate headers, license
    blocks, and quoted passages embedded in otherwise-unique documents.

    Spark shape (the suffix-array recipe re-expressed in joins, exact up
    to hash collisions in the gear polynomial the CDC chunker uses):

    1. slim ``(id, pos, h)`` gram-hash rows: :func:`_gear_hash_rows` on
       the fold path, :func:`_gear_hash_rows_arrow` on the Arrow
       path (``kernel`` per ``kernels.use_arrow``; the interpreted
       per-position fold costs O(len x window) lambda evaluations per
       doc — probe medians 6.1 -> 4.1 s at sf0.1, 42 -> 22 s at sf1);
    2. duplicated grams via ONE map-side-combined ``groupBy(h)`` — the
       shuffle carries (hash, count) longs, never text;
    3. duplicated positions re-attach through one hash equi-join.  The
       position-hash extraction is deliberately recomputed on both
       branches instead of barriered: the (id, pos, h) relation is ~20
       bytes per CHARACTER (20x the text itself), so materializing it
       would cost far more than the second narrow zero-shuffle hash pass
       — the opposite trade from the docs x n_buckets barriers in
       dsir/oov/count-min.  groupBy+join is also chosen over a
       count-over-window by h: a boilerplate gram occurring millions of
       times would have to BUFFER its whole partition group in WindowExec,
       while hash aggregation and the join both spill gracefully;
    4. maximal spans via gaps-and-islands: per-doc ``lag`` + conditional
       running sum over the SPARSE duplicated positions (already a small
       fraction of characters), one keyed window; adjacent duplicated
       grams chain into one span covering ``last_pos - first_pos +
       window`` chars.

    Every step is integer arithmetic on the portable hash, so the DuckDB
    oracle replays positions, duplicate decisions, island boundaries, and
    span arithmetic bit-for-bit (x1_duplicated_spans)."""
    from .text import normalize_text

    normed = df.select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
    if use_arrow(kernel, normed.schema["id"].dataType):
        pos_rows = _gear_hash_rows_arrow(normed, window)
    else:
        pos_rows = _gear_hash_rows(normed, window)
    dup_h = (
        pos_rows.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("h")
    )
    dpos = pos_rows.join(dup_h, "h").select("id", "pos")
    w = Window.partitionBy("id").orderBy(F.col("pos").asc())
    islands = dpos.select(
        "id",
        "pos",
        F.sum(
            F.when(
                F.col("pos") - F.lag("pos", 1).over(w) <= 1, F.lit(0)
            ).otherwise(F.lit(1))
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("g"),
    )
    return (
        islands.groupBy("id", "g")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") - F.min("pos") + window).cast("int").alias("span_len"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .filter(F.col("span_len") >= min_span)
        .select("id", "span_start", "span_len", "n_grams")
    )


def scrub_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    window: int = 8,
    min_span: int = 30,
    kernel: str = "auto",
) -> DataFrame:
    """Span REMOVAL — the apply half of :func:`duplicated_spans` (Lee et
    al. 2022 §4: the actual intervention is cutting the duplicated
    substrings out of the training text, not just reporting them).  Per
    document: the NORMALIZED text with every qualifying duplicated span
    cut out — ``(id, clean_text, chars_removed, n_spans_removed)`` — docs
    with no qualifying span pass through unchanged with zeros.

    Shape on top of the span finder's plan:

    1. qualifying spans come from :func:`duplicated_spans` (same window /
       min_span semantics, same ``kernel``);
    2. spans are merged into disjoint character intervals first — two
       maximal GRAM islands are >=2 apart in gram positions yet their
       char ranges (each extending ``window - 1`` past its last gram) can
       overlap, and cutting overlapping ranges independently would
       double-count removed chars.  Merge = one more keyed
       gaps-and-islands over the (already tiny) span relation: running
       ``max(end)`` + conditional sum, then min/max per island;
    3. surgery is pure built-ins: per doc, ``array_sort(collect_list(
       struct(s, e)))`` over its (few) intervals, then ONE ``aggregate``
       fold emitting the kept segments via ``substring`` — no UDF, no
       second pass over the corpus text (the only full-text operations
       are the normalize projection and the final substrings);
    4. docs without spans re-attach by left anti/outer join and keep
       their normalized text verbatim.

    Scale: every shuffle is keyed by doc id on relations bounded by the
    sparse span set; the corpus text itself moves through one projection
    (normalize) and one join against the per-doc interval arrays — no
    text ever enters a groupBy key or a window buffer.  Integer substring
    arithmetic end to end, so the DuckDB oracle replays the cut text
    bit-for-bit (x1_span_scrub)."""
    from .text import normalize_text

    spans = duplicated_spans(
        df, id_col, text_col, window=window, min_span=min_span, kernel=kernel
    ).select(
        "id",
        F.col("span_start").alias("s"),
        (F.col("span_start") + F.col("span_len")).alias("e"),
    )
    w = Window.partitionBy("id").orderBy(F.col("s").asc())
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    grouped = spans.select(
        "id",
        "s",
        "e",
        F.sum(
            F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("g"),
    )
    merged = grouped.groupBy("id", "g").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    intervals = merged.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("_iv"),
        F.count(F.lit(1)).cast("int").alias("n_spans_removed"),
    )
    normed = df.select(
        F.col(id_col).alias("id"), normalize_text(text_col).alias("_n")
    )
    joined = normed.join(intervals, "id", "left")
    # fold over the sorted disjoint intervals: acc = (next kept position,
    # accumulated clean text); finish appends the tail segment
    clean = F.when(F.col("_iv").isNull(), F.col("_n")).otherwise(
        F.aggregate(
            F.col("_iv"),
            F.struct(
                F.lit(1).alias("p"), F.lit("").cast("string").alias("acc")
            ),
            lambda acc, x: F.struct(
                x["e"].alias("p"),
                F.concat(
                    acc["acc"],
                    F.substring(F.col("_n"), acc["p"], x["s"] - acc["p"]),
                ).alias("acc"),
            ),
            lambda acc: F.concat(
                acc["acc"],
                F.substring(
                    F.col("_n"), acc["p"], F.length("_n") - acc["p"] + 1
                ),
            ),
        )
    )
    # clean_text is bound to a named column FIRST and chars_removed derives
    # from the bound column: inlining the fold into both output expressions
    # produced two independent interpreted fold evaluations per row (the
    # lambda instances get distinct expression ids, so not even codegen CSE
    # can unify them); CollapseProject keeps the multi-referenced non-cheap
    # alias, so the fold now runs exactly once per row (r13 optimization)
    withclean = joined.select(
        "id",
        "_n",
        clean.alias("clean_text"),
        F.coalesce(F.col("n_spans_removed"), F.lit(0)).alias("n_spans_removed"),
    )
    return withclean.select(
        "id",
        "clean_text",
        (F.length("_n") - F.length("clean_text")).cast("int").alias("chars_removed"),
        "n_spans_removed",
    )


def minhash_store_update(
    store: DataFrame,
    batch_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 16,
    compact: bool = True,
) -> DataFrame:
    """Signature-store MAINTENANCE — the upsert/compaction path that closes
    the incremental near-dup loop: append the day's batch signatures to
    the historical ``store`` (built by :func:`minhash_signature_store`)
    so consecutive daily gates (:func:`incremental_minhash_matches`) run
    against a store that actually grows.  Returns the updated store
    relation ``(id, sz, m_0..m_{num_hashes-1})``.

    Semantics, each chosen to be MATCH-PRESERVING for the downstream gate:

    - first-writer-wins per id: a batch id already present keeps the
      store's existing row (left_anti on id) — re-ingested ids never
      flap the store;
    - ``compact=True`` keeps only the MINIMUM id per full signature
      vector.  Rows with identical signatures produce identical
      candidate bands and identical agreement estimates, and the gate's
      best-match pick breaks estimate ties toward the LOWEST historical
      id — so dropping all but the min-id row provably cannot change any
      future probe's output, while bounding store growth against
      signature-exact duplicate floods (the near-dup analogue of the
      exact fingerprint store's min-id survivorship).

    Scale: one batch scan + one map-side-combined signature aggregation
    (the store build's own shape), one id anti-join, and — only when
    compacting — one groupBy keyed on the signature vector (~num_hashes
    longs; with the store bucketed on the signature columns this
    compaction and the daily band probe both run shuffle-free on the
    store side).  Tested for parquet-served parity: update written to
    parquet and probed by the NEXT batch equals the from-scratch store's
    matches (tests/test_ext_operators.py)."""
    batch_sig = minhash_signature_store(
        batch_df, id_col, text_col, n=n, num_hashes=num_hashes
    )
    new_rows = batch_sig.join(store.select("id"), "id", "left_anti")
    unioned = store.unionByName(new_rows)
    if not compact:
        return unioned
    sig_cols = [f"m_{i}" for i in range(num_hashes)]
    wsig = Window.partitionBy(*sig_cols).orderBy(F.col("id").asc())
    return (
        unioned.withColumn("_rn", F.row_number().over(wsig))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
