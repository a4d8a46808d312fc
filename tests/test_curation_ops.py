"""Property tests for the X6 sampling / X7 history / X3 curation operators
(semantic invariants beyond the DuckDB parity gate)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_for_ecol_fusion_database_spark.catalog import load_table
from etl_for_ecol_fusion_database_spark.operators import history, sampling, text


def test_hash_split_partitioning_invariant(spark, sf_dir):
    """The split assignment must be a pure function of the id: identical
    under any physical partitioning (the reproducibility property that
    makes the split safe to recompute on a different cluster)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a = sampling.hash_split(docs.repartition(1), "doc_id")
    b = sampling.hash_split(docs.repartition(13, "doc_id"), "doc_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_hash_split_weights_and_disjointness(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = sampling.hash_split(docs, "doc_id")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    assert n == docs.count()  # total preserved, each row exactly one split
    # multiplicative hashing over a contiguous id range: within a few % of
    # the 80/10/10 target even on 500 ids
    assert abs(counts["train"] / n - 0.8) < 0.06
    assert abs(counts.get("val", 0) / n - 0.1) < 0.05
    assert abs(counts.get("test", 0) / n - 0.1) < 0.05


def test_hash_split_salt_decorrelates(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    s0 = sampling.hash_split(docs, "doc_id", salt=0).select("doc_id", "split")
    s1 = sampling.hash_split(docs, "doc_id", salt=7).select(
        "doc_id", F.col("split").alias("split1")
    )
    moved = s0.join(s1, "doc_id").filter(F.col("split") != F.col("split1")).count()
    assert moved > 0  # a salted re-split is a different split


def test_stratified_sample_exact_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    frac = 0.1
    out = sampling.stratified_sample(docs, "lang", id_col="doc_id", fraction=frac)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    want = {
        r["lang"]: math.ceil(r["n"] * frac)
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_scd2_intervals_tile_and_single_current(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    iv = history.scd2_intervals(events, "user_id", "ts", "event_type", tiebreak="event_id")
    # exactly one open (is_current) interval per user
    per_user = iv.groupBy("user_id").agg(
        F.sum("is_current").alias("n_open"), F.count("*").alias("n_iv")
    )
    assert per_user.filter(F.col("n_open") != 1).count() == 0
    # intervals tile: valid_to of interval k == valid_from of interval k+1
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("valid_from")
    chained = iv.select(
        "user_id", "valid_from", "valid_to", F.lead("valid_from").over(w).alias("next_from")
    )
    bad = chained.filter(
        F.col("next_from").isNotNull() & (F.col("valid_to") != F.col("next_from"))
    ).count()
    assert bad == 0
    # no zero/negative-length closed intervals
    assert iv.filter(F.col("valid_to") <= F.col("valid_from")).count() == 0
    # consecutive intervals never carry the same status (else not collapsed)
    runs = iv.select(
        "user_id", "valid_from", "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    assert runs.filter(F.col("event_type") == F.col("next_type")).count() == 0


def test_pii_redact_removes_all_matches(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@mail-host.org or x@y.io please"),
            (2, "call 555-123-4567 or 555 987 6543 now"),
            (3, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.pii_redact(df).collect()}
    assert out[1]["n_emails"] == 2 and "<EMAIL>" in out[1]["redacted"]
    assert "@" not in out[1]["redacted"]
    assert out[2]["n_phones"] == 2 and out[2]["redacted"].count("<PHONE>") == 2
    assert out[3]["n_emails"] == 0 and out[3]["n_phones"] == 0
    assert out[3]["redacted"] == "clean text with no pii at all"


def test_repetition_signals_orders_boilerplate(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "all words here are fully distinct tokens"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.repetition_signals(df).collect()}
    assert rows[1]["dup_token_fraction"] > 0.8
    assert rows[1]["top_token_fraction"] == 1.0
    assert rows[1]["top_bigram_fraction"] == 1.0
    assert rows[2]["dup_token_fraction"] == 0.0
    assert rows[2]["top_token_fraction"] < 0.2


# ---------------------------------------------------------------------------
# round-2 additions: connected components, decontamination, packing, k-means
# ---------------------------------------------------------------------------


def test_connected_components_known_graph(spark):
    """Hand-built graph: {1-2, 2-3} + {10-11} + isolated 20 — three
    components labeled by their min member, regardless of edge direction
    or chain length."""
    from etl_for_ecol_fusion_database_spark.operators import graph

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)], ["id"])
    got = {
        r.node: r.cluster_id
        for r in graph.connected_components(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_chain(spark):
    """A 12-node path needs ~diameter rounds — exercises the iteration
    loop beyond one hop."""
    from etl_for_ecol_fusion_database_spark.operators import graph

    pairs = spark.createDataFrame([(i, i + 1) for i in range(11)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(12)], ["id"])
    out = graph.connected_components(pairs, nodes)
    assert out.select("cluster_id").distinct().collect()[0][0] == 0
    assert out.filter(F.col("cluster_id") != 0).count() == 0


def test_decontaminate_removes_exactly_flagged(spark, sf_dir):
    """decontaminate = train MINUS contamination_report ids, and a doc
    sharing zero test trigrams survives."""
    from etl_for_ecol_fusion_database_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    split = sampling.hash_split(docs, "doc_id")
    train = split.filter(F.col("split") == "train").select("doc_id", "text")
    test = split.filter(F.col("split") == "test").select("doc_id", "text")
    flagged = {r.doc_id for r in dedup.contamination_report(train, test).collect()}
    clean = dedup.decontaminate(train, test)
    kept = {r.doc_id for r in clean.select("doc_id").collect()}
    all_train = {r.doc_id for r in train.select("doc_id").collect()}
    assert kept == all_train - flagged
    assert flagged  # fixture corpora share boilerplate -> non-vacuous


def test_pack_shards_budget_and_order(spark, sf_dir):
    """Shards are contiguous in id order, sizes are within budget +
    one-doc overflow, and the distributed cumsum equals the naive one."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).cast("int").alias("n_tokens")
    )
    out = sampling.pack_shards(
        docs, id_col="doc_id", size_col="n_tokens", budget=500, ids_per_bucket=100
    ).orderBy("doc_id").collect()
    # contiguity: shard ids are non-decreasing in doc order
    shard_seq = [r.shard_id for r in out]
    assert shard_seq == sorted(shard_seq)
    # every shard except possibly the last holds >= budget only via its
    # final straddling doc: size minus last doc < budget
    from collections import defaultdict

    sizes = defaultdict(list)
    for r in out:
        sizes[r.shard_id].append(r.n_tokens)
    for sid, toks in sizes.items():
        assert sum(toks) - toks[-1] < 500, f"shard {sid} overfull before last doc"
    # parity with the naive driver-side prefix sum
    cum = 0
    for r in out:
        assert r.shard_id == cum // 500
        cum += r.n_tokens


def test_kmeans_matches_numpy(spark, sf_dir):
    """The distributed Lloyd's loop must reproduce a NumPy reference
    exactly (same init, same iteration count, ties to lowest index)."""
    import numpy as np

    from etl_for_ecol_fusion_database_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    k, n_iter = 8, 3
    C = X[:k].copy()
    for _ in range(n_iter):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)  # argmin takes first (lowest) index on ties
        for ci in range(k):
            if (lab == ci).any():
                C[ci] = X[lab == ci].mean(axis=0)
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    expect = dict(zip(ids.tolist(), d.argmin(axis=1).tolist()))
    _, assign = clustering.kmeans_fit(emb, "vec_id", "embedding", k=k, n_iter=n_iter)
    got = {r.id: r.cluster for r in assign.collect()}
    assert got == expect


def test_connected_components_random_graphs_match_union_find(spark):
    """Randomized adversarial check: on Erdos-Renyi-ish graphs the
    distributed min-label fixpoint must equal a driver-side union-find."""
    import random

    from etl_for_ecol_fusion_database_spark.operators import graph

    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(20, 80))
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {v: find(v) for v in range(n)}
        # canonical min-id labels
        roots = {}
        for v in range(n):
            r = find(v)
            roots.setdefault(r, min(v, r))
        expect = {v: roots[find(v)] for v in range(n)}
        pairs = spark.createDataFrame(edges or [(0, 0)], ["id_a", "id_b"])
        nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
        got = {
            r.node: r.cluster_id
            for r in graph.connected_components(pairs, nodes).collect()
        }
        assert got == expect, f"trial {trial} mismatch"


def test_frame_sampler_fanout_and_determinism(spark, sf_dir):
    """Every media row fans out to exactly n_frames rows, offsets are a
    pure function of length, and features are canonicalizable JSON."""
    from etl_for_ecol_fusion_database_spark.operators import multimodal

    media = multimodal.documents_as_media(load_table(spark, sf_dir, "documents"))
    frames = multimodal.sample_frames(media, n_frames=4)
    n_docs = media.count()
    assert frames.count() == 4 * n_docs
    a = frames.orderBy("doc_id", "frame_idx").collect()
    b = multimodal.sample_frames(media, n_frames=4).orderBy("doc_id", "frame_idx").collect()
    assert a == b
    import json

    feat = json.loads(a[0].feature_json)
    assert isinstance(feat, list) and len(feat) == 4


def test_pack_shards_random_sizes_match_naive(spark):
    """Randomized check: the distributed two-phase prefix sum must equal a
    naive sequential packing for arbitrary sizes/budgets/bucket widths —
    including empty buckets (id gaps) and docs larger than the budget."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = rng.randrange(50, 200)
        ids = sorted(rng.sample(range(0, 5000), n))  # gappy ids
        sizes = [rng.randrange(1, 400) for _ in range(n)]
        budget = rng.choice([64, 100, 250])
        bkt = rng.choice([10, 100, 1000])
        df = spark.createDataFrame(list(zip(ids, sizes)), ["doc_id", "n_tokens"])
        got = {
            r.doc_id: r.shard_id
            for r in sampling.pack_shards(
                df, id_col="doc_id", size_col="n_tokens", budget=budget, ids_per_bucket=bkt
            ).collect()
        }
        cum = 0
        for i, sz in zip(ids, sizes):
            assert got[i] == cum // budget, f"trial {trial} id {i}"
            cum += sz


def test_audio_chunks_cover_and_overlap(spark, sf_dir):
    """Audio chunking: chunks tile each payload with the configured hop,
    every byte is covered, consecutive chunks overlap by chunk-hop, and
    the op is deterministic across runs."""
    from etl_for_ecol_fusion_database_spark.operators import multimodal

    media = multimodal.documents_as_media(
        load_table(spark, sf_dir, "documents")
    ).filter(F.col("doc_id") < 30)
    sizes = {
        r.doc_id: r.media_meta.n_bytes
        for r in media.select("doc_id", "media_meta").collect()
    }
    a = multimodal.chunk_audio(media, chunk_bytes=256, hop_bytes=192).collect()
    b = multimodal.chunk_audio(media, chunk_bytes=256, hop_bytes=192).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    by_doc = {}
    for r in a:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {d for d, n in sizes.items() if n > 0}
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = sizes[doc_id]
        for k, r in enumerate(chunks):
            assert r.chunk_idx == k
            assert r.start_byte == k * 192
            assert r.end_byte == min(r.start_byte + 256, n)
            assert 0.0 <= r.energy <= 1.0
        # full coverage: next chunk starts before the previous ends
        # (hop < chunk) and the final chunk reaches the last byte
        assert chunks[-1].end_byte == n
        assert all(
            nxt.start_byte < cur.end_byte for cur, nxt in zip(chunks, chunks[1:])
        )


def test_interval_overlap_join_matches_naive(spark, sf_dir):
    """The bucketed interval-overlap rewrite must equal the naive non-equi
    join on the same bounded input, for a bucket width both smaller and
    larger than the interval lengths."""
    from etl_for_ecol_fusion_database_spark.operators.joins import (
        interval_overlap_join,
    )

    e = load_table(spark, sf_dir, "events")
    v = e.filter((F.col("event_type") == "view") & (F.col("event_id") < 500)).select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vs"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ve"),
    )
    c = e.filter((F.col("event_type") == "click") & (F.col("event_id") < 500)).select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cs"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("ce"),
    )
    naive = {
        (r.view_id, r.click_id)
        for r in v.join(
            c, (F.col("vs") <= F.col("ce")) & (F.col("cs") <= F.col("ve"))
        ).collect()
    }
    for bucket in (600, 7200):
        got = {
            (r.view_id, r.click_id)
            for r in interval_overlap_join(
                v, c,
                left_start="vs", left_end="ve",
                right_start="cs", right_end="ce",
                bucket_seconds=bucket,
                left_keep=["view_id"], right_keep=["click_id"],
            ).collect()
        }
        assert got == naive, f"bucket={bucket}"


def test_quality_checks_count_known_violations(spark):
    """Expectation counting on a constructed table with known dirt."""
    from etl_for_ecol_fusion_database_spark.operators import quality

    df = spark.createDataFrame(
        [(1, 10, "A"), (2, None, "A"), (3, 99, "X"), (3, 5, "A")],
        ["id", "qty", "flag"],
    )
    rep = {
        r.check_name: (r.n_violations, r.passed)
        for r in quality.column_expectations(
            df,
            {
                "null_qty": F.col("qty").isNull(),
                "qty_range": F.col("qty") > 50,
                "flag_enum": ~F.col("flag").isin("A", "B"),
            },
        ).collect()
    }
    assert rep == {
        "null_qty": (1, False),
        "qty_range": (1, False),
        "flag_enum": (1, False),
    }
    uniq = quality.uniqueness_check(df, ["id"], name="pk_id").collect()[0]
    assert (uniq.n_violations, uniq.passed) == (2, False)
    parent = spark.createDataFrame([(1,), (3,)], ["id"])
    fk = quality.referential_check(df, parent, ["id"], name="fk").collect()[0]
    assert (fk.n_violations, fk.passed) == (1, False)


def test_bm25_ranking_invariants(spark, sf_dir):
    """BM25 sanity: every returned doc matches >= 1 query term; docs
    matching more DISTINCT terms outrank same-length docs matching fewer;
    scores strictly positive and sorted."""
    from etl_for_ecol_fusion_database_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    top = bm25_scores(docs, ["spark", "shuffle", "vector"], k=10).collect()
    assert len(top) == 10
    scores = [r.bm25 for r in top]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    assert all(1 <= r.n_matched_terms <= 3 for r in top)


def _tiny_png(width=8, height=4, rgb=(200, 40, 90)) -> bytes:
    """Minimal valid 8-bit RGB PNG built with the stdlib only (zlib +
    struct) — lets the real-codec test self-provide its fixture without
    shipping binary test data."""
    import struct
    import zlib

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(rgb) * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_image_real_guarded():
    """decode_image_real: honest NotImplementedError without a codec; with
    Pillow installed it must decode the stdlib-generated PNG exactly."""
    from etl_for_ecol_fusion_database_spark.operators import multimodal

    png = _tiny_png()
    if not multimodal.HAS_PIL:
        with pytest.raises(NotImplementedError):
            multimodal.decode_image_real(png)
        return
    out = multimodal.decode_image_real(png)
    assert (out["width"], out["height"], out["mode"]) == (8, 4, "RGB")
    assert len(out["feature"]) == 8
    assert all(0.0 <= v <= 1.0 for v in out["feature"])


def test_decode_media_real_fallback(spark, sf_dir):
    """decode_media_real never fails: on codec-less containers (or
    undecodable payloads — the utf-8 fixture bytes) every row takes the
    fake-feature fallback with decoded=false, matching decode_media's
    features bit-for-bit, so the two paths share one downstream schema."""
    from etl_for_ecol_fusion_database_spark.operators import multimodal

    media = multimodal.documents_as_media(
        load_table(spark, sf_dir, "documents").limit(50)
    )
    real = {r.doc_id: r for r in multimodal.decode_media_real(media).collect()}
    fake = {r.doc_id: r for r in multimodal.decode_media(media).collect()}
    assert set(real) == set(fake) and len(real) == 50
    for doc_id, r in real.items():
        # fixture payloads are text, not images: fallback row expected
        # (when a codec IS present they are still not decodable images)
        assert r.decoded is False
        assert r.width is None and r.height is None
        assert r.feature == fake[doc_id].feature
        assert r.n_bytes == fake[doc_id].n_bytes


def test_pq_encode_seed_vectors_self_assign(spark, sf_dir):
    """PQ invariants: codewords encode to themselves (distance 0 to their
    own subvector), every (vector, subspace) gets exactly one code, and
    codes stay inside the codebook."""
    from etl_for_ecol_fusion_database_spark.operators import clustering

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .limit(100)
    )
    seeds = [
        [float(x) for x in r.v]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    codebooks = [[s[j * 16 : (j + 1) * 16] for s in seeds] for j in range(4)]
    codes = clustering.pq_encode(emb, "vec_id", "v", codebooks, sub_dim=16).collect()
    n_vecs = emb.count()
    assert len(codes) == n_vecs * 4
    assert {(r.id, r.subspace) for r in codes} == {
        (r.vec_id, j) for r in emb.select("vec_id").collect() for j in range(4)
    }
    assert all(0 <= r.code < 4 for r in codes)
    for r in codes:
        if r.id < 4:
            assert r.code == r.id, f"seed {r.id} subspace {r.subspace} -> {r.code}"


def test_zipf_and_psi_signals(spark, sf_dir):
    """Corpus-statistic sanity: the Zipf fit over a natural-ish corpus has
    a negative slope; PSI terms are non-negative by construction (same-sign
    product) and cover every populated bin."""
    from etl_for_ecol_fusion_database_spark import registry

    z = registry.QUERIES["x3_zipf_slope"](spark, sf_dir).collect()[0]
    assert z.n_terms > 10  # smoke fixture vocab is small; head cap is 1000
    assert z.zipf_slope < 0

    rows = registry.QUERIES["x12_drift_psi"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 10
    assert all(r.psi_term >= 0 for r in rows)
    assert len({r.bin for r in rows}) == len(rows)


def test_semdedup_survivor_set_is_cosine_free(spark, sf_dir):
    """SemDeDup guarantee: after greedy higher-id removal, NO surviving
    pair within a cluster still meets the threshold (every qualifying pair
    lost its higher member); survivors are invariant to input
    partitioning."""
    from etl_for_ecol_fusion_database_spark.operators import dedup, similarity

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = [
        [float(x) for x in r.v]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    surv = dedup.semantic_dedup(emb, seeds, id_col="vec_id", vec_col="v", threshold=0.3)
    rows = surv.collect()
    assert 0 < len(rows) < emb.count()  # non-vacuous: some dups removed

    kept = surv.join(emb, surv.id == emb.vec_id).select("id", "cluster", "v")
    kept = kept.withColumn("nrm", F.sqrt(similarity.norm_sq_expr("v")))
    a, b = kept.alias("a"), kept.alias("b")
    cos = F.round(
        F.aggregate(
            F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    leftover = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(cos >= 0.3)
        .count()
    )
    assert leftover == 0

    surv2 = dedup.semantic_dedup(
        emb.repartition(13, "vec_id"), seeds, id_col="vec_id", vec_col="v", threshold=0.3
    )
    assert {(r.id, r.cluster) for r in surv2.collect()} == {
        (r.id, r.cluster) for r in rows
    }


def test_curriculum_phases_quartile_sized_and_ordered(spark, sf_dir):
    """Curriculum buckets: 4 phases, each ~a quartile of the corpus, and
    every doc in a higher phase scores >= every doc in a lower phase."""
    from etl_for_ecol_fusion_database_spark import registry

    rows = registry.QUERIES["x6_curriculum_buckets"](spark, sf_dir).collect()
    n = len(rows)
    by_phase = {}
    for r in rows:
        by_phase.setdefault(r.phase, []).append(r.quality_score)
    assert set(by_phase) == {1, 2, 3, 4}
    for p, scores in by_phase.items():
        assert len(scores) >= n * 0.15, f"phase {p} far off a quartile"
    for p in (1, 2, 3):
        assert max(by_phase[p]) <= min(by_phase[p + 1])


def test_semdedup_adaptive_k_formula_matches_oracle():
    """The Spark side derives k from parquet-footer row counts; the oracle
    derives it from COUNT(*).  Pin the shared formula so an edit to one
    side cannot silently diverge: k = clamp(N // 125, 16, N)."""
    from etl_for_ecol_fusion_database_spark import registry

    sql = registry.ORACLES["x1_semdedup"]
    assert "GREATEST(16, COUNT(*) // 125)" in sql
    import inspect

    fn = inspect.getclosurevars(registry.QUERIES["x1_semdedup"]).nonlocals["fn"]
    src = inspect.getsource(fn)
    assert "max(16, n // 125)" in src


def test_assign_clusters_batched_matches_jvm_paths(spark, sf_dir):
    """The Arrow-batched numpy assignment (semantic_dedup's large-k path)
    must be BIT-IDENTICAL to the literal-fold path: same sequential
    accumulation order per element index, np.argmin's first-minimum =
    the lowest-index tie rule."""
    from etl_for_ecol_fusion_database_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = [
        [float(x) for x in r.v]
        for r in emb.filter(F.col("vec_id") < 40).orderBy("vec_id").collect()
    ]
    lit_path = clustering.assign_clusters(emb, "v", seeds).select("vec_id", "cluster")
    batched = clustering.assign_clusters_batched(emb, "v", seeds).select(
        "vec_id", "cluster"
    )
    assert lit_path.exceptAll(batched).count() == 0
    assert batched.exceptAll(lit_path).count() == 0


def test_assign_clusters_hierarchical_exact_at_full_probes(spark, sf_dir):
    """The two-level IVF-style assignment (semantic_dedup's
    k > _HIERARCHICAL_K scale path) with probes >= n_coarse sees every
    fine centroid as a candidate, and the per-candidate fold uses the
    flat kernel's exact accumulation order + lowest-index tie rule — so
    the output must be BIT-IDENTICAL to the flat batched kernel."""
    from etl_for_ecol_fusion_database_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = [
        [float(x) for x in r.v]
        for r in emb.filter(F.col("vec_id") < 64).orderBy("vec_id").collect()
    ]
    flat = clustering.assign_clusters_batched(emb, "v", seeds).select(
        "vec_id", "cluster"
    )
    hier = clustering.assign_clusters_hierarchical(
        emb, "v", seeds, probes=8, n_coarse=8  # probes == n_coarse: exact
    ).select("vec_id", "cluster")
    assert flat.exceptAll(hier).count() == 0
    assert hier.exceptAll(flat).count() == 0


def test_assign_clusters_hierarchical_agreement_at_default_probes(
    spark, sf_dir
):
    """At probes < n_coarse the assignment is approximate (the standard
    IVF trade).  The fixture embeddings are uniform-random — the
    ADVERSARIAL case for cell probing, since with no cluster structure
    neighboring coarse cells are nearly equidistant — and even there
    probes=8-of-16 must agree with the exact flat assignment on >=90% of
    rows (measured 93.8%; real embedding corpora cluster and do far
    better).  Assignment agreement is NOT the metric SemDeDup rests on —
    near-dup PAIR recall is, pinned by
    test_semantic_dedup_dispatches_to_hierarchical_past_threshold: the
    members of a near-dup pair are near-identical vectors, probe the
    same cells, and land in the SAME cluster even when that cluster
    differs from the flat argmin."""
    from etl_for_ecol_fusion_database_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = [
        [float(x) for x in r.v]
        for r in emb.filter(F.col("vec_id") < 64).orderBy("vec_id").collect()
    ]
    flat = clustering.assign_clusters_batched(emb, "v", seeds).select(
        "vec_id", F.col("cluster").alias("c_flat")
    )
    hier = clustering.assign_clusters_hierarchical(
        emb, "v", seeds, probes=8, n_coarse=16
    ).select("vec_id", F.col("cluster").alias("c_hier"))
    both = flat.join(hier, "vec_id")
    n = both.count()
    agree = both.filter(F.col("c_flat") == F.col("c_hier")).count()
    assert n > 0
    assert agree / n >= 0.90, f"agreement {agree}/{n}"


def test_assign_clusters_hierarchical_all_empty_probes_falls_back(
    spark, monkeypatch
):
    """Lloyd's empty-cell rule can leave a coarse cell with zero fine
    members; a row whose probed cells are ALL empty must resolve by exact
    argmin over every fine centroid — not leak the int64-max sentinel
    through the int32 cast as a garbage cluster id (ADVICE r09).  Forced
    deterministically: coarse cell 0 is a far-away empty cell, the probe
    row sits on it, probes=1."""
    import numpy as np

    from etl_for_ecol_fusion_database_spark.operators import clustering

    def fake_quantize(cent, n_coarse, n_iter=5):
        coarse = np.array(
            [[100.0, 100.0], [0.0, 0.0], [10.0, 10.0]], dtype=np.float64
        )
        return coarse, [[], [0], [1]]

    monkeypatch.setattr(
        clustering, "_coarse_quantize_centroids", fake_quantize
    )
    df = spark.createDataFrame(
        [(1, [100.0, 100.0]), (2, [0.1, 0.1])], ["vec_id", "v"]
    )
    out = {
        r.vec_id: r.cluster
        for r in clustering.assign_clusters_hierarchical(
            df, "v", [[0.0, 0.0], [10.0, 10.0]], probes=1, n_coarse=3
        ).collect()
    }
    # row 1 probed only the empty cell -> exact fallback: nearest fine
    # centroid to (100,100) is index 1; row 2 resolved normally to 0
    assert out == {1: 1, 2: 0}
    assert all(c >= 0 for c in out.values())


def test_semantic_dedup_dispatches_to_hierarchical_past_threshold(
    spark, sf_dir, monkeypatch
):
    """Past _HIERARCHICAL_K centroids semantic_dedup must take the
    two-level kernel (the N x k x dim flat assignment is the pipeline's
    one latent super-linear term when k grows with the corpus), keep the
    contract shape (surviving (id, cluster) rows, a subset of the input
    ids), and — the property approximate assignment must NOT break —
    catch every injected exact duplicate: identical vectors probe the
    same cells, land in the same cluster, and the higher id loses."""
    from etl_for_ecol_fusion_database_spark.operators import (
        clustering,
        dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dup_src = emb.filter(F.col("vec_id") < 5)
    dups = dup_src.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
    )
    with_dups = emb.unionByName(dups)
    seeds = [
        [float(x) for x in r.v]
        for r in emb.filter(F.col("vec_id") < 40).orderBy("vec_id").collect()
    ]
    calls = {"hier": 0}
    real = clustering.assign_clusters_hierarchical

    def spy(*a, **kw):
        calls["hier"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(clustering, "assign_clusters_hierarchical", spy)
    monkeypatch.setattr(dedup, "_HIERARCHICAL_K", 32)
    out = dedup.semantic_dedup(with_dups, seeds, id_col="vec_id", vec_col="v")
    rows = out.collect()
    assert calls["hier"] == 1
    assert set(out.columns) == {"id", "cluster"}
    ids = {r["id"] for r in rows}
    all_ids = {r["vec_id"] for r in with_dups.select("vec_id").collect()}
    assert ids <= all_ids and len(ids) > 0
    # pair recall under approximate assignment: every injected duplicate
    # (cosine exactly 1.0 with its source) must be discarded
    assert not any(i >= 1_000_000 for i in ids), sorted(
        i for i in ids if i >= 1_000_000
    )
