"""Round-13 optimization parity pins.

Two operators were restructured for the optimization round; each pin
holds the NEW shape to the OLD shape's exact values so the registered
queries keep their DuckDB value-hashes (``quantized_topk``'s Arrow
kernel is pinned in tests/test_kernel_parity.py):

- ``ngram_jaccard_pairs`` moved from quadratic ``array_intersect``/
  ``array_union`` under a BroadcastNestedLoopJoin to an inverted-index
  shingle equi-join with count-based Jaccard (guide §3.2).  The
  quadratic form survives as the ``threshold <= 0`` fallback, which
  doubles as the parity anchor here.
- ``connected_components`` collapsed each propagation round to one
  join + one groupBy via self-loop rows; the label fixpoint contract is
  already pinned by tests/test_curation_ops.py (known graph, long
  chain, random graphs vs union-find) — here we pin the boundary
  behavior the restructure touches (pair endpoints absent from
  ``nodes`` stay out of the output and never relay labels).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_for_ecol_fusion_database_spark.catalog import load_table
from etl_for_ecol_fusion_database_spark.operators import dedup, graph

SF_CORRECT = "/root/testdata/sf0.01"


def test_ngram_jaccard_equijoin_bit_identical_to_quadratic(spark):
    """The count-based Jaccard (|A∩B| joined matches, |A∪B| = |A|+|B|-|A∩B|)
    must reproduce the array-ops form's rounded doubles exactly: same ints,
    same double division.  The quadratic fallback (threshold <= 0) is the
    anchor, post-filtered to the same cut."""
    docs = load_table(spark, SF_CORRECT, "documents")
    new = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.05, max_id=200)
    old = dedup.ngram_jaccard_pairs(docs, n=2, threshold=-1.0, max_id=200).filter(
        F.col("jaccard") >= 0.05
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_ngram_jaccard_zero_threshold_keeps_disjoint_pairs(spark):
    """threshold <= 0 must still emit pairs with NO shared shingle (the
    equi-join cannot see them — only the quadratic fallback can)."""
    rows = [(0, "alpha beta gamma"), (1, "alpha beta delta"), (2, "zz yy xx")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.0, max_id=None)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    assert got[(0, 2)] == 0.0 and got[(1, 2)] == 0.0


def test_ngram_jaccard_equijoin_matches_quadratic_unigram_and_empty(spark):
    """n=1 (unigram fallback shingles) and empty-text docs must keep the
    equi-join form equal to the quadratic anchor — empty text shingles to
    [''] and pairs up with other empty docs at jaccard 1.0."""
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha gamma"), (2, ""), (3, "alpha beta"), (4, "")],
        "doc_id long, text string",
    )
    new = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.2, max_id=None)
    old = dedup.ngram_jaccard_pairs(docs, n=1, threshold=-1.0, max_id=None).filter(
        F.col("jaccard") >= 0.2
    )
    got_new = sorted(map(tuple, new.collect()))
    assert got_new == sorted(map(tuple, old.collect()))
    assert (2, 4, 1.0) in got_new  # the empty-empty pair


def test_connected_components_ignores_out_of_nodes_endpoints(spark):
    """Pairs referencing ids absent from ``nodes`` must neither appear in
    the output nor bridge components (an absent node has no label to
    relay) — the pre-round-13 contract, preserved by the _old filter."""
    pairs = spark.createDataFrame([(1, 500), (500, 2), (3, 4)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], ["id"])
    got = {
        r.node: r.cluster_id
        for r in graph.connected_components(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 2, 3: 3, 4: 3}
