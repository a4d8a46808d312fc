"""Round-10 kernel pins outside the fold/Arrow twin matrix
(tests/test_kernel_parity.py): the matmul-pruned cluster assignment on
adversarial ties, the hierarchical assignment at full probes, the
weighted count-min build, the id-cast guard of ``kernels``, and LSH
band validation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_for_ecol_fusion_database_spark.catalog import load_table

SF_CORRECT = "/root/testdata/sf0.01"


def test_batched_assignment_adversarial_ties_match_jvm(spark):
    """The matmul-pruned assignment (round 10) must keep the fold
    contract on the shapes the epsilon proof worries about: bitwise-
    DUPLICATE centroids (dup-heavy SemDeDup seed sets — first-min must
    pick the lowest copy), exact equidistance between DISTINCT centroids
    (mirror-symmetric pair), and rows equal to a centroid (d2 = 0).
    Compared against the literal JVM fold ``assign_clusters`` on every
    row."""
    from etl_for_ecol_fusion_database_spark.operators import clustering

    cents = [
        [1.0, 0.0, 0.0, 0.0],
        [1.0, 0.0, 0.0, 0.0],   # bitwise duplicate of 0
        [0.0, 1.0, 0.0, 0.0],
        [0.0, -1.0, 0.0, 0.0],  # mirror of 2: exact tie for y=0 rows
        [0.25, 0.25, 0.25, 0.25],
        [0.0, 0.0, 0.0, 0.0],
    ]
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),      # on centroid 0 (and its dup 1)
        (1, [0.0, 0.0, 1.0, 0.0]),      # exactly equidistant from 2 and 3
        (2, [0.0, 0.0, 0.0, 0.0]),      # on centroid 5
        (3, [0.5, 0.0, 0.0, 0.0]),
        (4, [0.25, 0.25, 0.25, 0.25]),  # on centroid 4
        (5, [-1.0, 0.0, 0.0, 0.0]),
        (6, [0.1, 0.2, 0.3, 0.4]),
        (7, [0.0, 0.5, 0.5, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["id", "v"]).select(
        "id", F.col("v").cast("array<double>").alias("v")
    )
    jvm = {
        r.id: r.cluster
        for r in clustering.assign_clusters(df, "v", cents).collect()
    }
    batched = {
        r.id: r.cluster
        for r in clustering.assign_clusters_batched(df, "v", cents).collect()
    }
    assert batched == jvm
    # the dup-centroid and symmetric-tie rows specifically resolve LOW
    assert batched[0] == 0 and batched[2] == 5


def test_hierarchical_full_probe_still_bit_identical_after_matmul(spark):
    """probes >= n_coarse makes the candidate set every fine centroid, so
    the matmul coarse RANKING (round 10) cannot change the output: pinned
    equal to the flat batched kernel on the real fixture."""
    from etl_for_ecol_fusion_database_spark.operators import clustering

    emb = load_table(spark, SF_CORRECT, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    seeds = [list(r.v) for r in emb.filter(F.col("id") < 48).orderBy("id").collect()]
    flat = {r.id: r.cluster for r in clustering.assign_clusters_batched(emb, "v", seeds).collect()}
    hier = {
        r.id: r.cluster
        for r in clustering.assign_clusters_hierarchical(
            emb, "v", seeds, probes=7, n_coarse=7
        ).collect()
    }
    assert hier == flat


def test_countmin_weighted_build_identical_to_occurrence_build(spark):
    """countmin_build_weighted over per-token counts must produce the
    exact counter table of the occurrence fold (counters are additive) —
    the equivalence the x11 query's single-extraction shape relies on."""
    from etl_for_ecol_fusion_database_spark.operators import sketches
    from etl_for_ecol_fusion_database_spark.operators.text import normalize_text

    occ = (
        load_table(spark, SF_CORRECT, "documents")
        .select(F.explode(F.split(normalize_text("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
    )
    direct = sorted(map(tuple, sketches.countmin_build(
        occ, depth=4, width=256
    ).collect()))
    counts = occ.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    weighted = sorted(map(tuple, sketches.countmin_build_weighted(
        counts, "token", "c", depth=4, width=256
    ).collect()))
    assert direct == weighted and len(direct) > 0


def test_checked_id_series_refuses_float_transit_precision_loss():
    """ADVICE r12: a batch mixing NULL ids with ids >= 2^53 arrives in the
    kernel as float64 — the precision loss already happened upstream, so
    the cast helper must refuse loudly instead of laundering the damaged
    values back into exact-looking Int64."""
    import pandas as pd
    import pytest as _pytest

    from etl_for_ecol_fusion_database_spark import kernels

    # no-null batch arrives int64: exact, no guard needed
    ok = kernels.checked_id_series(pd.Series([1, 2, 3]), "Int64")
    assert list(ok) == [1, 2, 3] and str(ok.dtype) == "Int64"
    # nulls force float64 transit but small magnitudes stay exact
    small = kernels.checked_id_series(
        pd.Series([1.0, None, 3.0], dtype="float64"), "Int64"
    )
    assert small.isna().tolist() == [False, True, False]
    # nulls + >= 2^53 magnitude: refuse
    with _pytest.raises(ValueError, match="2\\^53"):
        kernels.checked_id_series(
            pd.Series([float(2**53 + 2), None], dtype="float64"), "Int64"
        )
    # dtype=None passes through untouched (non-integral id columns)
    s = pd.Series(["a", None])
    assert kernels.checked_id_series(s, None) is s


def test_bands_divide_rejects_uneven_banding():
    """ADVICE r12: LSH banding must raise when n_bands does not divide
    num_hashes — flooring silently dropped the trailing signature slots
    from every band key (recall loss with no error)."""
    import pytest as _pytest

    from etl_for_ecol_fusion_database_spark.operators import dedup as dedup_ops

    assert dedup_ops._bands_divide(16, 4) == 4
    assert dedup_ops._bands_divide(32, 8) == 4
    for nh, nb in [(16, 5), (16, 3), (10, 4), (16, 0)]:
        with _pytest.raises(ValueError, match="divide"):
            dedup_ops._bands_divide(nh, nb)
