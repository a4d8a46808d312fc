"""round-2 curation additions (dup clusters, decontamination, shards, k-means, curation v1) — split from the single-module registry_ext (round 6).

Registration order is load-bearing (the __spark_entry__ witness rotation
samples in registration order): registry_ext/__init__.py imports the
block modules in the original file's order and entries within each module
keep their original sequence — append, don't reorder.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

from ..catalog import load_table, local_relation  # noqa: F401
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
# round-2 curation additions: duplicate clustering, decontamination,
# shard packing, TF-IDF, k-means
# ===========================================================================


@query(
    "x1_dup_clusters",
    oracle=r"""
WITH RECURSIVE sh AS (
    SELECT doc_id AS id,
           CASE WHEN len(toks) >= 2
                THEN list_distinct([toks[i] || ' ' || toks[i+1]
                                    for i in generate_series(1, len(toks) - 1)])
                ELSE list_distinct(toks) END AS sh
    FROM (
        SELECT doc_id,
               regexp_split_to_array(
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS toks
        FROM documents WHERE doc_id < 200
    ) t
),
pairs AS (
    SELECT a.id AS id_a, b.id AS id_b
    FROM sh a JOIN sh b ON a.id < b.id
    WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
                / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 6) >= 0.4
),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents WHERE doc_id < 200
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
)
SELECT src AS doc_id, MIN(dst) AS cluster_id
FROM reach GROUP BY src ORDER BY doc_id
""",
)
def x1_dup_clusters(spark, sf_dir):
    """X1 duplicate CLUSTERING: near-dup pairs (exact bigram Jaccard >=
    0.4, bounded id range as ground truth) closed under transitivity via
    iterative min-label propagation (operators/graph.py:connected_components)
    — every doc labeled with the min id of its duplicate group, singletons
    labeling themselves.  The DuckDB oracle computes the same fixpoint with
    a recursive CTE, so the iterative DataFrame loop is verified against a
    declarative transitive closure."""
    from ..operators import dedup, graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.4, max_id=200)
    nodes = docs.filter(F.col("doc_id") < 200).select(F.col("doc_id").alias("id"))
    comp = graph.connected_components(pairs, nodes)
    return comp.select(F.col("node").alias("doc_id"), "cluster_id").orderBy("doc_id")


@query(
    "x6_decontaminate",
    oracle=r"""
WITH base AS (
    SELECT doc_id, CAST(((doc_id % 2147483647) * 2654435761) % 1000 AS INT) AS bucket,
           regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS toks
    FROM documents
),
sh AS (
    SELECT doc_id, bucket,
           unnest(CASE WHEN len(toks) >= 3
                       THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                           for i in generate_series(1, len(toks) - 2)])
                       ELSE list_distinct(toks) END) AS shingle
    FROM base
),
tr AS (SELECT doc_id, shingle FROM sh WHERE bucket < 800),
te AS (SELECT doc_id, shingle FROM sh WHERE bucket >= 900)
SELECT tr.doc_id,
       COUNT(DISTINCT tr.shingle) AS n_shared_grams,
       COUNT(DISTINCT te.doc_id) AS n_test_docs
FROM tr JOIN te ON tr.shingle = te.shingle
GROUP BY tr.doc_id
ORDER BY tr.doc_id
""",
)
def x6_decontaminate(spark, sf_dir):
    """X6 benchmark decontamination: flag TRAIN documents (hash_split
    train bucket) sharing any word trigram with any TEST document — the
    n-gram-overlap contamination check run before training.  One equi-join
    on the gram text between two zero-shuffle shingle projections
    (operators/dedup.py:contamination_report); the split assignment is the
    portable Knuth hash so the oracle reproduces it exactly."""
    from ..operators import dedup, sampling

    from ..catalog import load_table_rebalanced

    docs = load_table_rebalanced(spark, sf_dir, "documents")
    split = sampling.hash_split(docs, "doc_id")
    train = split.filter(F.col("split") == "train").select("doc_id", "text")
    test = split.filter(F.col("split") == "test").select("doc_id", "text")
    return (
        dedup.contamination_report(train, test, "doc_id", "text", n=3)
        .orderBy("doc_id")
    )


@query(
    "x6_pack_shards",
    oracle=r"""
WITH sized AS (
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
    FROM documents
)
SELECT doc_id, n_tokens,
       CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   - n_tokens) / 500.0) AS INT) AS shard_id
FROM sized ORDER BY doc_id
""",
)
def x6_pack_shards(spark, sf_dir):
    """X6 shard packing: documents in id order, new shard every ~500
    tokens (exclusive-prefix-sum DIV budget) — training-shard assembly.
    The prefix sum is DISTRIBUTED (operators/sampling.py:pack_shards):
    deterministic id-range buckets -> per-bucket windows + a tiny
    bucket-offset window — no single-partition global window; the oracle
    states the same math as one declarative cumsum."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("int").alias("n_tokens"),
    )
    return sampling.pack_shards(
        docs, id_col="doc_id", size_col="n_tokens", budget=500, ids_per_bucket=100
    ).orderBy("doc_id")


@query(
    "x3_tfidf_top_terms",
    oracle=r"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf
    FROM toks WHERE token <> '' GROUP BY doc_id, token
),
dfreq AS (SELECT token, COUNT(*) AS df_t FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS c FROM documents),
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf,
           round(tf.tf * ln((n.c + 1.0) / (dfreq.df_t + 1.0)), 6) AS score
    FROM tf CROSS JOIN n JOIN dfreq ON dfreq.token = tf.token
)
SELECT doc_id, token, tf, score, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY score DESC, token) AS INT) AS rank
      FROM scored)
WHERE rank <= 3
ORDER BY doc_id, rank
""",
)
def x3_tfidf_top_terms(spark, sf_dir):
    """X3 TF-IDF top terms per document: one explode + (doc, token)
    aggregation; document frequencies derived from that aggregate (not a
    second corpus scan) and broadcast back; one doc-partitioned window
    for the top-3 (operators/text.py:tfidf_top_terms).  All arithmetic is
    scalar double expressions — no order-sensitive float aggregation — so
    the result is exactly oracle-checkable."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, "text", k=3).orderBy("doc_id", "rank")


def _kmeans_clusters_oracle(k: int = 8, n_assign: int = 4, dp: int = 6, dim: int = 64) -> str:
    """DuckDB replay of the FULL fixed-iteration Lloyd's loop: chained
    CTEs — assignment t from centroids t-1 (ROW_NUMBER ties to the lowest
    cluster = Spark's least + first-equal rule), centroids t =
    ``floor(AVG * 10^dp + 0.5) / 10^dp`` per (cluster, pos) with COALESCE
    keeping empty clusters' previous centroid.  Snapping the means to
    ``dp`` decimals is what makes the loop engine-portable: AVG
    partial-sum order differs across engines/partitionings in the last
    ulp, and the snap collapses both sides to the same double before the
    next assignment round.  The floor form (pure IEEE ops, identical
    everywhere) is deliberate — engine ``round`` on doubles diverges at
    shortest-repr half-ties (Spark BigDecimal HALF_UP vs DuckDB binary
    rounding), and an iterative loop amplifies one divergent component
    into different assignments.
    ``n_assign`` assignment CTEs with ``n_assign - 1`` interleaved
    updates replay Spark's ``kmeans_fit(n_iter=n_assign - 1)`` exactly
    (the loop runs n_iter assignment+update rounds, then one final
    assignment against the last centroids)."""
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        f"""c0 AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, v AS cv
    FROM e ORDER BY vec_id LIMIT {k}
)""",
    ]
    for t in range(1, n_assign + 1):
        parts.append(f""", a{t} AS (
    SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   list_sum([(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
                             for i in generate_series(1, {dim})]) ASC,
                   c.cluster ASC) AS rn
        FROM e CROSS JOIN c{t - 1} c
    ) WHERE rn = 1
)""")
        if t == n_assign:
            break
        parts.append(f""", m{t} AS (
    SELECT a.cluster, CAST(i AS INT) AS pos,
           floor(AVG(e.v[i]) * {10**dp}.0 + 0.5) / {10**dp}.0 AS m
    FROM a{t} a JOIN e USING (vec_id)
    CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i)
    GROUP BY a.cluster, i
), c{t} AS (
    SELECT p.cluster, COALESCE(n.cv, p.cv) AS cv
    FROM c{t - 1} p LEFT JOIN (
        SELECT cluster, list(m ORDER BY pos) AS cv FROM m{t} GROUP BY cluster
    ) n USING (cluster)
)""")
    parts.append(f"\nSELECT vec_id, cluster FROM a{n_assign}")
    return "".join(parts)


@query("x8_kmeans_clusters", oracle=_kmeans_clusters_oracle())
def x8_kmeans_clusters(spark, sf_dir):
    """X8 embedding k-means (Lloyd's, k=8, 3 iterations, deterministic
    lowest-id init — operators/clustering.py): per-vector cluster
    assignment.  ``round_dp=6`` snaps each updated centroid mean to 6
    decimals before the next assignment round, which makes the whole
    fixed-iteration loop replayable by the chained-CTE ANSI-SQL oracle
    (and layout-stable: a float mean is the loop's one order-sensitive
    reduction).  tests/test_curation_ops.py additionally verifies the
    raw (un-rounded) loop against a NumPy reference implementation.

    Note: Spark runs n_iter full assignment+update rounds and then one
    FINAL assignment against the last centroids; the oracle mirrors that
    as n_iter assignment CTEs with n_iter-1 interleaved updates — the
    same loop unrolled."""
    from ..operators import clustering

    from ..catalog import table_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    _, assign = clustering.kmeans_fit(
        emb, "vec_id", "embedding", k=8, n_iter=3, round_dp=6,
        row_count_hint=table_row_count(sf_dir, "embeddings"),
    )
    return assign.select(F.col("id").alias("vec_id"), "cluster").orderBy("vec_id")


@query(
    "x9_curation_pipeline",
    oracle=rf"""
WITH t AS (
    SELECT doc_id, text,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
           regexp_split_to_array(trim(text), '\s+') AS toks,
           regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
           len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
           length(text) AS n_chars
    FROM documents
),
scored AS (
    SELECT doc_id, norm,
           CAST(len(toks) AS INT) AS n_tokens,
           round(0.4 * (len(list_filter(toks, x -> list_contains({_STOP_LIST}, x)))::DOUBLE
                        / len(toks)::DOUBLE)
                 + 0.3 * (1.0 - n_punct::DOUBLE / n_chars::DOUBLE)
                 + 0.3 * least(n_chars::DOUBLE / 500.0, 1.0), 6) AS quality_score,
           {_LANG_SCORE_SQL.replace("toks", "ltoks")}
    FROM t
),
filtered AS (
    SELECT * FROM scored
    WHERE quality_score >= 0.5
      AND {_LANG_CASE} = 'en'
),
survivors AS (
    SELECT MIN(doc_id) AS doc_id, arg_min(n_tokens, doc_id) AS n_tokens
    FROM filtered GROUP BY norm
),
tr AS (
    SELECT s.doc_id, s.n_tokens FROM survivors s
    WHERE ((s.doc_id % 2147483647) * 2654435761) % 1000 < 800
),
base AS (
    SELECT doc_id,
           regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS toks
    FROM documents
),
sh AS (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 5
                       THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                           || ' ' || toks[i+3] || ' ' || toks[i+4]
                                           for i in generate_series(1, len(toks) - 4)])
                       ELSE list_distinct(toks) END) AS shingle
    FROM base
),
contaminated AS (
    SELECT DISTINCT a.doc_id
    FROM sh a
    JOIN tr ON tr.doc_id = a.doc_id
    JOIN sh b ON a.shingle = b.shingle
    JOIN documents d ON d.doc_id = b.doc_id AND ((d.doc_id % 2147483647) * 2654435761) % 1000 >= 900
),
clean AS (
    SELECT tr.doc_id, tr.n_tokens FROM tr
    WHERE tr.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT doc_id, n_tokens,
       CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   - n_tokens) / 500.0) AS INT) AS shard_id
FROM clean ORDER BY doc_id
""",
)
def x9_curation_pipeline(spark, sf_dir):
    """X9 END-TO-END curation pipeline, composed from the operator
    library: quality filter + language filter + exact dedup
    (text.training_data_prep) -> deterministic train split
    (sampling.hash_split) -> benchmark decontamination against the test
    split (dedup.decontaminate, 5-gram overlap — trigrams flag ~95% of
    this boilerplate-heavy fixture corpus; 5-grams ~1%) -> token-budget shard
    packing (sampling.pack_shards).  Output: (doc_id, n_tokens, shard_id)
    — the training-shard manifest.

    This is the full C4/Gopher-style corpus -> training-shards flow as ONE
    lazy DAG: Catalyst sees every stage, so column pruning and filter
    pushdown cross stage boundaries; the oracle chains the same steps
    declaratively and checks the composition end-to-end, not just the
    pieces."""
    from ..operators import dedup, sampling, text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    prep = text_ops.training_data_prep(docs, min_quality=0.5, lang="en")
    surv = sampling.hash_split(prep.select("doc_id", "n_tokens"), "doc_id")
    train = (
        surv.filter(F.col("split") == "train")
        .select("doc_id", "n_tokens")
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    test = (
        sampling.hash_split(docs.select("doc_id", "text"), "doc_id")
        .filter(F.col("split") == "test")
        .select("doc_id", "text")
    )
    clean = dedup.decontaminate(train, test, "doc_id", "text", n=5).select(
        "doc_id", "n_tokens"
    )
    return sampling.pack_shards(
        clean, id_col="doc_id", size_col="n_tokens", budget=500, ids_per_bucket=100
    ).orderBy("doc_id")


@query(
    "x5_enriched_events",
    oracle="""
WITH dim(event_type, category) AS (
    VALUES ('click', 'ui'), ('view', 'ui'), ('purchase', 'commerce'),
           ('signup', 'account'), ('error', 'ops')
)
SELECT e.event_id, e.event_type,
       COALESCE(d.category, 'unknown') AS category
FROM events e LEFT JOIN dim d ON d.event_type = e.event_type
ORDER BY e.event_id
""",
)
def x5_enriched_events(spark, sf_dir):
    """X5 stream-static enrichment, BATCH TWIN of
    streaming.events_stream.enrich_stream_with_dimension (same join
    expression; the streaming flavor replays to the identical result under
    availableNow — tests/test_streaming.py).  The dimension broadcasts;
    the stream side never holds state."""
    from ..streaming import events_stream as es

    dim = local_relation(
        spark,
        [
            ("click", "ui"),
            ("view", "ui"),
            ("purchase", "commerce"),
            ("signup", "account"),
            ("error", "ops"),
        ],
        "event_type STRING, category STRING",
    )
    events = load_table(spark, sf_dir, "events")
    return (
        es.enrich_stream_with_dimension(events, dim, on="event_type")
        .select(
            "event_id",
            "event_type",
            F.coalesce(F.col("category"), F.lit("unknown")).alias("category"),
        )
        .orderBy("event_id")
    )


@query(
    "x4_frame_sample",
    oracle=r"""
WITH b AS (
    SELECT doc_id, text, length(text) AS n,
           greatest(length(text) // 4, 1) AS step
    FROM documents WHERE doc_id < 200
),
f AS (
    SELECT doc_id, text, n,
           k, least(k * step, greatest(n - 1, 0)) AS off
    FROM b CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
)
SELECT doc_id,
       CAST(k AS INT) AS frame_idx,
       CAST(off AS BIGINT) AS frame_offset,
       '[' || array_to_string(
         [CAST(coalesce(list_sum([ascii(text[i])
                                  for i in generate_series(off + 1 + d,
                                                           least(off + 64, n), 4)]), 0)
               % 1000 AS VARCHAR)
          for d in generate_series(0, 3)], ',') || ']' AS feature_json
FROM f
ORDER BY doc_id, frame_idx
""",
)
def x4_frame_sample(spark, sf_dir):
    """X4 frame sampling: each media row fans out to 4 evenly-spaced
    'frame' windows via one Arrow-batched mapInPandas pass (video ->
    frame-features shape; decode honestly stubbed, offsets + features
    deterministic).  Fan-out happens inside the Arrow batch — no shuffle.
    The per-frame feature is an integer byte-sum signature, replicated
    exactly by the DuckDB oracle (window arithmetic + nested comprehension
    over ascii codes), so the one-row-in/many-rows-out plumbing gets a full
    value-hash check.  tests/test_curation_ops.py pins fan-out arity and
    determinism."""
    from ..operators import multimodal

    media = multimodal.documents_as_media(load_table(spark, sf_dir, "documents"))
    return (
        multimodal.sample_frames(media, n_frames=4)
        .filter(F.col("doc_id") < 200)
        .orderBy("doc_id", "frame_idx")
    )


