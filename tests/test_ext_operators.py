"""Semantic invariants for extension operators that have no SQL oracle
(xxhash64-based LSH / SimHash / hyperplane ANN / mapInPandas decode).

Each rows-only operator is checked against an exact ground truth computed
with the oracle-checked operators, so "weaker driver check" never means
"unchecked"."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from etl_for_ecol_fusion_database_spark import registry
from etl_for_ecol_fusion_database_spark.catalog import load_table
from etl_for_ecol_fusion_database_spark.operators import dedup, multimodal, similarity
from etl_for_ecol_fusion_database_spark.registry_ext import _with_synthetic_near_dups


def test_minhash_finds_synthetic_near_dups(spark, sf_dir):
    """Every injected mutated copy (true jaccard >> threshold) must be
    recovered by the MinHash-banded path."""
    docs = _with_synthetic_near_dups(
        load_table(spark, sf_dir, "documents")
    )
    pairs = dedup.minhash_lsh_pairs(docs, n=2, num_hashes=32, n_bands=8, threshold=0.4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(i, i + 1_000_000) for i in range(20)}
    missing = expected - got
    assert not missing, f"minhash missed true near-dups: {sorted(missing)}"
    # and every reported pair genuinely has jaccard >= threshold (verified
    # in-operator by exact re-check; assert values sane)
    assert all(r.jaccard >= 0.4 for r in pairs.collect())


def test_minhash_portable_matches_fast_path_recall(spark, sf_dir):
    """The portable-hash MinHash variant must recover the same injected
    near-dups as the xxhash64 fast path, and its verified jaccard values
    (exact, candidate-only) must agree with the fast path's on shared
    pairs — the hash family changes WHICH candidates band together, never
    the verified score."""
    docs = _with_synthetic_near_dups(load_table(spark, sf_dir, "documents"))
    fast = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(
            docs, n=2, num_hashes=32, n_bands=8, threshold=0.4
        ).collect()
    }
    port = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_pairs_portable(
            docs, n=2, num_hashes=16, n_bands=4, threshold=0.4
        ).collect()
    }
    expected = {(i, i + 1_000_000) for i in range(20)}
    assert not expected - set(port), "portable minhash missed true near-dups"
    for key in set(fast) & set(port):
        assert fast[key] == port[key], f"jaccard disagrees on {key}"


def test_minhash_estimate_tracks_exact_jaccard(spark, sf_dir):
    """LSH pair set must be a subset of the exact all-pairs >= threshold
    (no false positives after the verify step)."""
    docs = _with_synthetic_near_dups(load_table(spark, sf_dir, "documents"))
    exact = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.4, max_id=None)
    exact_pairs = {(r.id_a, r.id_b): r.jaccard for r in exact.collect()}
    lsh_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(
            docs, n=2, num_hashes=32, n_bands=8, threshold=0.4
        ).collect()
    }
    for pair, jac in lsh_pairs.items():
        assert pair in exact_pairs, f"false positive {pair}"
        assert abs(exact_pairs[pair] - jac) < 1e-9


def test_simhash_flags_synthetic_near_dups(spark, sf_dir):
    docs = _with_synthetic_near_dups(load_table(spark, sf_dir, "documents"))
    pairs = dedup.simhash_near_pairs(docs, max_hamming=6)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(i, i + 1_000_000) for i in range(20)}
    # simhash is lossier than minhash; demand >= 80% recall on true dups
    recall = len(expected & got) / len(expected)
    assert recall >= 0.8, f"simhash recall {recall} too low; got={sorted(got)[:10]}"


def test_simhash_identical_docs_distance_zero(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(10)
    dup = docs.select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
    both = docs.select("doc_id", "text").unionByName(dup)
    pairs = dedup.simhash_near_pairs(both, max_hamming=0)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 500_000) for i in range(10)} <= got


def test_lsh_ann_recall_vs_brute_force(spark, sf_dir):
    """Multiprobe hyperplane ANN should recover a solid share of the exact
    top-5 neighbours (random 64-dim data is adversarial for LSH — the bar is
    deliberately moderate, and the bucketed path must never return a
    non-neighbour as rank 1 cosine higher than the true top-1)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, k=5, n_queries=10)
    approx = similarity.lsh_bucketed_ann(emb, k=5, n_queries=10, n_bits=8)
    exact_set = {(r.q_id, r.cand_id) for r in exact.collect()}
    approx_set = {(r.q_id, r.cand_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # Floor calibrated to UNBIASED planes: radius-2 multiprobe touches
    # ~37/256 buckets (~15% of a uniform corpus), and measured recall is
    # ~0.32 — a genuine ~2x LSH lift over the probed fraction.  The old
    # 0.4 floor was only reachable via the signed-% plane bias that
    # collapsed most of the corpus into a handful of buckets (probing
    # nearly everything — high recall, no pruning).
    assert recall >= 0.25, f"ANN recall {recall} below floor"
    assert recall > 37 / 256, "no lift over the probed fraction"
    # approx cosines must be genuine cosines (subset of exact scoring space)
    for r in approx.collect():
        assert -1.000001 <= r.cosine <= 1.000001


def test_media_decode_plumbing(spark, sf_dir):
    """mapInPandas decode: schema, row alignment, determinism."""
    media = multimodal.documents_as_media(load_table(spark, sf_dir, "documents"))
    decoded = multimodal.decode_media(media)
    assert decoded.schema == multimodal.DECODED_SCHEMA
    rows = {r.doc_id: r for r in decoded.collect()}
    src = {r.doc_id: r for r in media.collect()}
    assert set(rows) == set(src)
    for doc_id, r in rows.items():
        assert r.n_bytes == src[doc_id].media_meta.n_bytes
        assert len(r.feature) == 8
    # determinism
    again = {r.doc_id: r.feature for r in multimodal.decode_media(media).collect()}
    assert all(again[d] == rows[d].feature for d in rows)


def test_media_real_decode_is_marked_stub():
    import pytest

    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(b"\x00")


def test_rolling_fingerprint_whitespace_invariance(spark, sf_dir):
    """BOTH fingerprints are computed over normalized text, so both must be
    invariant under whitespace-only edits (and deterministic)."""
    docs = load_table(spark, sf_dir, "documents").limit(20)
    spaced = docs.select("doc_id", F.regexp_replace("text", " ", "  ").alias("text"))
    from etl_for_ecol_fusion_database_spark.operators.text import fingerprint_rolling

    a = {r.doc_id: (r.exact_fp, r.rolling_fp) for r in fingerprint_rolling(docs).collect()}
    b = {r.doc_id: (r.exact_fp, r.rolling_fp) for r in fingerprint_rolling(spaced).collect()}
    assert a == b
    again = {r.doc_id: (r.exact_fp, r.rolling_fp) for r in fingerprint_rolling(docs).collect()}
    assert a == again


def test_lsh_bucket_cap_prevents_quadratic_blowup(spark, sf_dir):
    """A boilerplate-heavy corpus (many identical docs) must not explode
    into k² candidate pairs: with the default cap the degenerate bucket is
    dropped; uncapped ground-truth mode still finds the pairs."""
    base = load_table(spark, sf_dir, "documents").limit(1)
    clones = spark.range(1000).crossJoin(base.select("text")).select(
        F.col("id").alias("doc_id"), "text"
    )
    capped = dedup.minhash_lsh_pairs(clones, n=2, num_hashes=32, n_bands=8, threshold=0.4)
    # all 8 bands of every clone collide -> every bucket holds 1000 docs ->
    # cap drops them all; candidate set must be empty (exact dedup owns
    # identical docs), and crucially this completes without 500k-pair blowup
    assert capped.count() == 0
    dropped = dedup.lsh_dropped_buckets(
        clones, n=2, num_hashes=32, n_bands=8, max_bucket_size=256
    ).collect()
    assert len(dropped) == 8 and all(r.n_members == 1000 for r in dropped)
    # cap disabled -> ground-truth mode still pairs them up
    uncapped = dedup.minhash_lsh_pairs(
        clones.limit(30), n=2, num_hashes=32, n_bands=8, threshold=0.4,
        max_bucket_size=None,
    )
    assert uncapped.count() == 30 * 29 // 2


def test_dedup_survivors_policies(spark):
    """min-id vs keep-longest survivorship on a constructed dup group."""
    df = spark.createDataFrame(
        [(1, "k1", 10), (2, "k1", 99), (3, "k1", 99), (4, "k2", 5)],
        ["id", "key", "size"],
    )
    by_min = {r.key: r.keep_id for r in dedup.dedup_survivors(df, ["key"], "id").collect()}
    assert by_min == {"k1": 1, "k2": 4}
    by_len = {
        r.key: (r.keep_id, r.n_copies, r.max_size)
        for r in dedup.dedup_survivors(df, ["key"], "id", prefer_col="size").collect()
    }
    # longest wins; id=2 beats id=3 on the min-id tiebreak
    assert by_len == {"k1": (2, 3, 99), "k2": (4, 1, 5)}


def test_dedup_survivors_string_ids(spark):
    """Non-numeric ids take the two-level aggregate branch (arithmetic
    negation would raise on strings) — same policy semantics: largest
    prefer-value wins, lexicographic min id on ties."""
    df = spark.createDataFrame(
        [("doc-a", "k1", 10), ("doc-b", "k1", 99), ("doc-c", "k1", 99), ("doc-d", "k2", 5)],
        ["id", "key", "size"],
    )
    by_len = {
        r.key: (r.keep_id, r.n_copies, r.max_size)
        for r in dedup.dedup_survivors(df, ["key"], "id", prefer_col="size").collect()
    }
    assert by_len == {"k1": ("doc-b", 3, 99), "k2": ("doc-d", 1, 5)}


def test_incremental_minhash_recovers_cross_boundary_near_dups(spark, sf_dir):
    """The incremental near-dup gate must recover the known mutated copies:
    batch docs at id+1_000_000 are near-dups (first word dropped) of
    history docs, so every mutated doc whose ORIGINAL landed in the history
    split (doc_id % 5 < 4) should surface with a confident estimate, and
    the reported match must itself be a true near-dup under the exact
    shingle-Jaccard check."""
    from etl_for_ecol_fusion_database_spark import registry
    from etl_for_ecol_fusion_database_spark.operators import dedup

    from etl_for_ecol_fusion_database_spark.registry_ext._shared import (
        N_SYNTHETIC_NEAR_DUPS,
    )

    rows = registry.QUERIES["x1_incremental_minhash"](spark, sf_dir).collect()
    got = {r.new_id: (r.hist_id, r.est_jaccard) for r in rows}
    eligible = [
        i + 1_000_000 for i in range(N_SYNTHETIC_NEAR_DUPS) if i % 5 < 4
    ]
    hit = [i for i in eligible if i in got]
    # MinHash banding is probabilistic per doc, but at J ~ 0.9 with 4 bands
    # of 4 rows the per-doc miss rate is tiny; require near-total recall
    assert len(hit) >= len(eligible) - 1, (len(hit), len(eligible))
    for new_id in hit:
        hist_id, est = got[new_id]
        assert est >= 0.5
        assert hist_id % 5 < 4  # matched into the history split


def test_incremental_minhash_store_round_trips_through_parquet(spark, sf_dir, tmp_path):
    """Deploy fidelity: the signature store written to parquet and SERVED
    from the files (barrier_store=False — two column-pruned scans of the
    persisted artifact instead of a checkpoint copy) must produce exactly
    the in-memory gate's matches, and the served plan must read the store
    from parquet rather than re-deriving it."""
    from pyspark.sql import functions as F

    from etl_for_ecol_fusion_database_spark.catalog import load_table
    from etl_for_ecol_fusion_database_spark.operators import dedup

    from etl_for_ecol_fusion_database_spark.registry_ext._shared import (
        N_SYNTHETIC_NEAR_DUPS,
    )

    docs = load_table(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 5 < 4).select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") < N_SYNTHETIC_NEAR_DUPS).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+\s+", "").alias("text"),
    )
    batch = (
        docs.filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", "text")
        .unionByName(mutated)
    )
    store = dedup.minhash_signature_store(hist)
    in_memory = sorted(
        map(tuple, dedup.incremental_minhash_matches(batch, store).collect())
    )

    path = str(tmp_path / "sig_store")
    store.write.mode("overwrite").parquet(path)
    served_df = dedup.incremental_minhash_matches(
        batch, spark.read.parquet(path), barrier_store=False
    )
    served = sorted(map(tuple, served_df.collect()))
    assert served == in_memory and len(served) > 0
    plan = served_df._jdf.queryExecution().executedPlan().toString()
    # the store side must be parquet scans of the signature artifact
    # (id + m_* columns), not a re-derivation from text
    assert re.search(r"Scan parquet[^\n]*m_0", plan) or "m_0:bigint" in plan, plan


def test_duplicated_spans_finds_injected_boilerplate(spark):
    """Ground truth for the substring-dedup signal: a boilerplate sentence
    pasted into two otherwise-unique documents must surface as one span
    per doc covering exactly the shared region; unique text must produce
    no spans."""
    from etl_for_ecol_fusion_database_spark.operators import dedup

    boiler = "this notice is licensed under the creative commons license"
    rows = [
        (1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            + boiler),
        (2, boiler + " kilo lima mike november oscar papa quebec romeo"),
        (3, "sierra tango uniform victor whiskey xray yankee zulu unique"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in dedup.duplicated_spans(docs, window=8, min_span=30).collect()}
    assert set(got) == {1, 2}, got
    # doc 2: the boilerplate starts at position 1; every 8-gram of it is
    # shared with doc 1, so the span covers exactly len(boiler) chars
    assert got[2].span_start == 1
    assert got[2].span_len == len(boiler)
    # doc 1: the span ends at the document end and has the same length
    assert got[1].span_len == len(boiler)
    norm1 = rows[0][1]  # already lowercase, single-spaced
    assert got[1].span_start == len(norm1) - len(boiler) + 1


# ----------------------------------------------------- round-13 operators

SF_CORRECT = "/root/testdata/sf0.01"


def test_scrub_duplicated_spans_reconstruction_invariants(spark):
    """The scrub output must satisfy: clean_text == normalized text with
    the MERGED qualifying span intervals cut out (checked by independent
    Python-side reconstruction), chars_removed == len(norm) - len(clean),
    and overlapping span char-ranges must never double-count removed
    chars."""
    from etl_for_ecol_fusion_database_spark.operators import text as text_ops

    rows = [
        (1, "alpha " + "the quick brown fox jumps over the lazy dog " * 3
            + " omega unique tail one"),
        (2, "beta " + "the quick brown fox jumps over the lazy dog " * 3
            + " omega unique tail two"),
        (3, "completely unique text with no duplicated spans at all qq"),
        (4, None),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in dedup.scrub_duplicated_spans(docs, min_span=30).collect()}
    normed = {
        r.id: r.n
        for r in docs.select(
            F.col("doc_id").alias("id"),
            text_ops.normalize_text("text").alias("n"),
        ).collect()
    }
    # independent reconstruction from the span finder's own output
    by_doc: dict = {}
    for r in dedup.duplicated_spans(docs, min_span=30).collect():
        by_doc.setdefault(r.id, []).append((r.span_start, r.span_start + r.span_len))
    for doc_id, norm in normed.items():
        r = got[doc_id]
        if norm is None:
            assert r.clean_text is None
            continue
        ivs = sorted(by_doc.get(doc_id, []))
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        expect, pos = [], 1
        for s, e in merged:
            expect.append(norm[pos - 1 : s - 1])
            pos = e
        expect.append(norm[pos - 1 :])
        assert r.clean_text == "".join(expect), doc_id
        assert r.chars_removed == len(norm) - len(r.clean_text)
        assert r.n_spans_removed == len(merged)
    # docs 1 and 2 got real (partial) surgery, doc 3 none
    assert got[1].chars_removed > 0 and len(got[1].clean_text) > 0
    assert got[2].chars_removed > 0
    assert got[3].chars_removed == 0 and got[3].clean_text == normed[3]


def test_minhash_store_update_next_batch_parity(spark, tmp_path):
    """The closed-loop property VERDICT r12 item #5 names: the UPDATED
    store (upsert + min-id-per-signature compaction), written to parquet
    and served from the files, must give the NEXT batch exactly the
    matches the from-scratch store of the full corpus gives — i.e.
    compaction and first-writer-wins are match-preserving."""
    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    day0 = docs.filter(F.col("doc_id") % 3 == 0)
    day1 = docs.filter(F.col("doc_id") % 3 == 1)
    day2 = docs.filter(F.col("doc_id") % 3 == 2)

    store0 = dedup.minhash_signature_store(day0)
    store1 = dedup.minhash_store_update(store0, day1)
    path = str(tmp_path / "store1")
    store1.write.mode("overwrite").parquet(path)
    served = spark.read.parquet(path)
    via_update = sorted(
        map(
            tuple,
            dedup.incremental_minhash_matches(
                day2, served, barrier_store=False
            ).collect(),
        )
    )
    scratch = dedup.minhash_signature_store(day0.unionByName(day1))
    from_scratch = sorted(
        map(tuple, dedup.incremental_minhash_matches(day2, scratch).collect())
    )
    assert via_update == from_scratch
    assert len(via_update) > 0, "vacuous parity — no near-dups matched"


def test_minhash_store_update_first_writer_wins_and_compacts(spark):
    """Re-ingesting an id keeps the store's existing row; signature-exact
    duplicates compact to the min id."""
    a = "the quick brown fox jumps over the lazy dog " * 5
    hist = spark.createDataFrame([(1, a), (2, "totally different text qq zz")],
                                 "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "CHANGED " + a), (3, a), (4, a)], "doc_id long, text string"
    )
    store = dedup.minhash_signature_store(hist)
    upd = dedup.minhash_store_update(store, batch)
    rows = {r.id: r for r in upd.collect()}
    # id 1 kept the ORIGINAL signature (first-writer-wins): signature of
    # text `a`, which ids 3/4 share -> they compact away entirely
    assert set(rows) == {1, 2}
    uncompacted = dedup.minhash_store_update(store, batch, compact=False)
    assert {r.id for r in uncompacted.collect()} == {1, 2, 3, 4}


def _ref_bpe(word, merges):
    """Reference per-symbol greedy BPE: merges in priority order, each
    applied leftmost and non-overlapping."""
    syms = list(word)
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_matches_reference_greedy_merges(spark):
    """The chained fixpoint-replace plan must reproduce a reference
    per-symbol greedy BPE (leftmost non-overlapping, merges in priority
    order) on adversarial words: overlapping runs, chained merges,
    merge-result-as-operand."""
    from etl_for_ecol_fusion_database_spark.operators import text as text_ops

    merges = list(text_ops.BPE_MERGES) + [("a", "a"), ("aa", "aa")]
    words = [
        "the", "theater", "and", "standing", "interesting", "thththth",
        "aaaa", "aaaaaaaa", "aaa", "ananan", "x", "of", "ouou",
        "resting", "restarted", "ingesting", "thesis", "leather",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r.w: r.toks
        for r in df.select(
            "w", text_ops.bpe_encode_expr("w", merges).alias("toks")
        ).collect()
    }
    for w in words:
        assert got[w] == _ref_bpe(w, merges), w
        assert "".join(got[w]) == w  # decode round-trip


def test_bpe_encode_round_trips_on_corpus(spark):
    """encode(decode) round-trip at corpus scale: concatenating each
    word's tokens in token_idx order must recover the word exactly for
    every word in the sf0.01 documents table."""
    from etl_for_ecol_fusion_database_spark.operators import text as text_ops

    docs = load_table(spark, SF_CORRECT, "documents")
    toks = text_ops.bpe_encode_tokens(docs)
    words = docs.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            text_ops.tokens(text_ops.normalize_text("text"))
        ).alias("word_idx", "w"),
    ).filter(F.length("w") >= 1)
    rejoined = (
        toks.groupBy("id", "word_idx")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("token_idx", "token")))
                .getField("token")
            ).alias("re"),
        )
        .join(words, ["id", "word_idx"])
    )
    bad = rejoined.filter(F.col("re") != F.col("w")).count()
    assert bad == 0
    assert rejoined.count() > 1000


def test_curation_v4_collapses_injected_exact_dups(spark):
    """The v4 pipeline must (a) never emit an injected copy id, (b) report
    n_copies=2 for every surviving original that had an injected copy,
    and (c) agree with x1_span_scrub's accounting for untouched docs."""
    from etl_for_ecol_fusion_database_spark.registry_ext._shared import (
        N_SYNTHETIC_NEAR_DUPS,
    )

    rows = registry.QUERIES["x9_curation_v4"](spark, SF_CORRECT).collect()
    assert len(rows) > 0
    ids = {r.doc_id for r in rows}
    assert not any(i >= 2_000_000 for i in ids), "copy id leaked through"
    dup_survivors = [r for r in rows if r.doc_id < N_SYNTHETIC_NEAR_DUPS]
    assert dup_survivors, "no injected-dup original survived the gates"
    assert all(r.n_copies == 2 for r in dup_survivors)
    assert all(
        r.n_copies == 1 for r in rows if r.doc_id >= N_SYNTHETIC_NEAR_DUPS
    )


def test_bpe_encode_hypothesis_vs_reference(spark):
    """Property test: on randomly generated words over the merge alphabet
    (the adversarial regime — dense merge applicability), the plan's
    chained-replace encoding equals the reference per-symbol greedy BPE
    and round-trips by concatenation."""
    import random

    from etl_for_ecol_fusion_database_spark.operators import text as text_ops

    merges = list(text_ops.BPE_MERGES)
    alphabet = sorted({c for m in merges for c in m[0] + m[1]})
    rng = random.Random(13)
    words = list({
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 24)))
        for _ in range(300)
    })
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r.w: r.toks
        for r in df.select(
            "w", text_ops.bpe_encode_expr("w", merges).alias("toks")
        ).collect()
    }
    for w in words:
        assert got[w] == _ref_bpe(w, merges), w
        assert "".join(got[w]) == w


def test_bpe_budget_pack_shard_invariants(spark):
    """Shard assembly invariants for the BPE-aware packing: shard ids are
    dense and monotone in doc order, every doc's exclusive prefix lands
    in its shard's budget window, and no shard except possibly the last
    closes under budget (the exclusive-prefix-DIV rule)."""
    rows = registry.QUERIES["x6_bpe_budget_pack"](spark, SF_CORRECT).collect()
    assert len(rows) == 500
    budget = 500
    cum = 0
    prev_shard = 0
    for r in rows:  # already ordered by doc_id
        assert r.shard_id == cum // budget, r.doc_id
        assert r.shard_id >= prev_shard
        prev_shard = r.shard_id
        assert r.n_bpe_tokens > 0
        cum += r.n_bpe_tokens
    assert prev_shard > 5, "budget never crossed — vacuous packing"


def test_ivf_ann_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.q_id, r.cand_id) for r in similarity.brute_force_topk(emb, k=5, n_queries=10).collect()}
    approx_rows = similarity.ivf_bucketed_ann(
        emb, k=5, n_queries=10, n_centroids=16, n_probe=4
    ).collect()
    approx = {(r.q_id, r.cand_id) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    # 4/16 cells probed on near-uniform vectors: moderate recall expected
    assert recall >= 0.3, f"IVF recall {recall}"
    # per-query k results, each a genuine cosine
    from collections import Counter

    per_q = Counter(r.q_id for r in approx_rows)
    assert all(v <= 5 for v in per_q.values())


def test_ivf_every_corpus_vector_assigned_once(spark, sf_dir):
    """Cell assignment must be a partition: each vector in exactly one cell."""
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    # reach into the operator's assignment stage via its public result:
    # probing with ALL centroids (n_probe = n_centroids) must return the
    # same top-k as brute force restricted to the corpus
    full_probe = similarity.ivf_bucketed_ann(
        emb, k=3, n_queries=5, n_centroids=8, n_probe=8
    )
    exact = similarity.brute_force_topk(emb, k=3, n_queries=5)
    a = {(r.q_id, r.cand_id, r.rank) for r in full_probe.collect()}
    b = {(r.q_id, r.cand_id, r.rank) for r in exact.collect()}
    assert a == b, f"full-probe IVF != brute force: {a ^ b}"
