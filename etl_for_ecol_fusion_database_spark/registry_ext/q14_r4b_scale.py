"""round-4b/5/6 additions (Bloom, kNN join, round-trips, per-key sampling, MMR, k-means loop) — split from the single-module registry_ext (round 6).

Registration order is load-bearing (the __spark_entry__ witness rotation
samples in registration order): registry_ext/__init__.py imports the
block modules in the original file's order and entries within each module
keep their original sequence — append, don't reorder.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

from ..catalog import load_table, read_parquet  # noqa: F401
from ..operators import dedup, multimodal, sampling, similarity, text  # noqa: F401
from ..registry import query  # noqa: F401
from ._shared import (  # noqa: F401
    _LANG_CASE,
    _LANG_GREATEST,
    _LANG_SCORE_SQL,
    _RT_DIRS,
    _SCD2_FULL_RECOMPUTE_ORACLE,
    _STOP_LIST,
    _embedding_head,
    _marker_list,
    _tp,
    _rt_tmpdir,
    _t,
    _with_synthetic_near_dups,
)

# ===========================================================================
# round-4b additions: Bloom decontamination, kNN join, CSV/ORC round-trips,
# per-key deterministic sampling
# ===========================================================================


def _bloom_oracle() -> str:
    """DuckDB replay of the portable Bloom filter — generated from the same
    hash constants as operators/dedup.bloom_decontaminate_report so the two
    cannot drift."""
    m_bits = 1 << 20
    pos_list = ", ".join(
        f"(x * {dedup._PORT_A[h]} + {dedup._PORT_B[h]}) % {dedup._P_PORT} % {m_bits}"
        for h in range(3)
    )
    return rf"""
WITH toks AS (
    SELECT doc_id, source,
           regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS t
    FROM documents
),
sh AS (
    SELECT doc_id, source,
           unnest(CASE WHEN len(t) >= 3
                       THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                           for i in generate_series(1, len(t) - 2)])
                       ELSE list_distinct(t) END) AS shingle
    FROM toks
),
h AS (
    SELECT doc_id, source,
           CAST(list_sum([(strpos('0123456789abcdef', md5(shingle)[i]) - 1)
                          * CAST(power(16, 12 - i) AS BIGINT)
                          for i in generate_series(1, 12)])
                % {dedup._P_PORT} AS BIGINT) AS x
    FROM sh
),
filt AS (
    SELECT DISTINCT unnest([{pos_list}]) AS pos
    FROM h WHERE source = 'src0'
),
train AS (SELECT doc_id, x FROM h WHERE source != 'src0'),
probe AS (
    SELECT t.doc_id,
           CASE WHEN {" AND ".join(
               f"(t.x * {dedup._PORT_A[h]} + {dedup._PORT_B[h]}) % {dedup._P_PORT} % {m_bits} IN (SELECT pos FROM filt)"
               for h in range(3)
           )} THEN 1 ELSE 0 END AS hit
    FROM train t
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(hit) AS BIGINT) AS n_flagged_grams,
       SUM(hit) > 0 AS contaminated
FROM probe GROUP BY doc_id
"""


@query("x1_bloom_decontaminate", oracle=_bloom_oracle())
def x1_bloom_decontaminate(spark, sf_dir):
    """X1 Bloom-filter benchmark decontamination
    (operators/dedup.bloom_decontaminate_report): the benchmark partition
    (source='src0') is reduced to a <=2^20-bit Bloom filter (k=3 portable
    universal hashes over md5-prefix gram hashes) and every other
    document's word 3-grams are membership-tested against the broadcast
    filter — constant filter memory regardless of benchmark size, no
    benchmark-gram shuffle, one-sided (over-flagging) error.  The exact
    gram-join counterpart is x6_decontaminate; this is the shape that
    survives a 100-TB train corpus against a large benchmark suite."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.bloom_decontaminate_report(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "doc_id",
        "text",
        n=3,
        m_bits=1 << 20,
        k=3,
    )


@query(
    "x2_knn_join",
    oracle="""
WITH params AS (
    SELECT CASE WHEN COUNT(*) <= 32 THEN 4
           ELSE GREATEST(4, LEAST(24, CAST(ceil(log2(COUNT(*) / 32.0)) AS INT)))
           END AS nb
    FROM embeddings
),
e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sig AS (
    SELECT vec_id,
           CAST(list_sum([CASE WHEN
                    list_sum([v[i] * ((((((b * 1000003 + (i - 1) * 8191 + 59)
                                          % 2147483647)
                                         * ((b * 1000003 + (i - 1) * 8191 + 59)
                                            % 2147483647)) % 2147483647
                                       + ((b * 1000003 + (i - 1) * 8191 + 59)
                                          % 2147483647) * 48271)
                                      % 2147483647) % 7 - 3)
                              for i in generate_series(1, len(v))]) > 0
                    THEN CAST(power(2, b) AS BIGINT) ELSE 0 END
                 for b in generate_series(0, p.nb - 1)]) AS BIGINT) AS bucket
    FROM e CROSS JOIN params p
),
n AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM e),
sided AS (
    SELECT e.vec_id AS id, e.v, n.nrm, s.bucket
    FROM e JOIN n USING (vec_id) JOIN sig s USING (vec_id)
),
scored AS (
    SELECT a.id AS q_id, b.id AS cand_id,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
    FROM sided a JOIN sided b ON a.bucket = b.bucket AND a.id != b.id
),
ranked AS (
    SELECT q_id, cand_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
    FROM scored
)
SELECT q_id, cand_id, cosine, rank FROM ranked WHERE rank <= 3
""",
)
def x2_knn_join(spark, sf_dir):
    """X2 corpus-wide kNN self-join (operators/similarity.knn_join): every
    vector gets its top-3 in-bucket neighbors.  The hyperplane signature
    width is DERIVED from the corpus count (similarity.derive_n_bits:
    ceil(log2(N/32)) clamped to [4,24]) so expected bucket occupancy —
    hence candidate pairs per vector — stays ~32 at ANY corpus size:
    pair volume is linear in N, not the N²/2^fixed_bits quadratic the
    round-4 audit flagged.  One bucket-keyed shuffle plus the per-id
    WindowGroupLimit rank.  The DuckDB oracle replays the bit-width
    derivation (params CTE over COUNT(*)), buckets, cosines, and ranks
    end to end.

    The derivation needs the corpus count, and the width changes the
    NUMBER of signature columns — structural, so it must be known at
    plan-construction time.  Round 7 (round-5/6 ADVICE): the count comes
    from parquet FOOTER metadata (catalog.table_row_count, a driver-side
    O(footer) pyarrow read) instead of a Spark count() job, so building
    this plan runs ZERO Spark jobs — plan rendering, lint, and bench
    warm-up are side-effect-free.  At cluster scale the same number comes
    from catalog statistics; footers are the file-level equivalent.
    Memoized per fixture dir; callers with a real catalog pass an
    explicit n_bits instead."""
    n = _KNN_CORPUS_COUNT.get(sf_dir)
    if n is None:
        from ..catalog import table_row_count

        n = table_row_count(sf_dir, "embeddings")
        _KNN_CORPUS_COUNT[sf_dir] = n
    return similarity.knn_join(
        _t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        k=3,
        n_bits=similarity.derive_n_bits(n),
        seed=42,
    )


#: corpus-count memo for x2_knn_join's adaptive signature width — one
#: count job per fixture dir per process, not one per plan construction
_KNN_CORPUS_COUNT: dict = {}






@query(
    "s19_csv_roundtrip",
    oracle="""
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       event_type, value, props
FROM events
""",
)
def s19_csv_roundtrip(spark, sf_dir):
    """S-surface CSV sink/source fidelity: the events relation written to
    quoted CSV and read back with an explicit schema.  ``props`` holds JSON
    text with embedded quotes and commas — the worst case for CSV framing —
    and must survive quote-escaping bit-for-bit (the oracle reads the
    ORIGINAL parquet).  Timestamps cross as pre-formatted microsecond
    strings (CSV has no timestamp type; round-tripping the FORMATTED value
    keeps the witness deterministic across writer versions).  The write is
    one narrow partition-parallel pass, no shuffle on either side."""
    out = _rt_tmpdir("csv_roundtrip_", sf_dir)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        "event_type",
        "value",
        "props",
    )
    ev.write.mode("overwrite").option("header", True).csv(out)
    schema = "event_id long, ts_str string, event_type string, value double, props string"
    return spark.read.schema(schema).option("header", True).csv(out)


@query(
    "s20_orc_roundtrip",
    oracle="""
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       user_id, event_type, value
FROM events
""",
)
def s20_orc_roundtrip(spark, sf_dir):
    """S-surface ORC sink/source fidelity: native typed round-trip through
    Spark's built-in columnar ORC source (schema embedded in the file, no
    explicit read schema needed) — timestamps keep microsecond precision
    through ORC's TIMESTAMP physical type and are formatted AFTER the
    round trip, so the witness covers the binary encoding itself.  Like
    the parquet path, ORC scans support predicate pushdown and column
    pruning at scale; the write is narrow and partition-parallel."""
    out = _rt_tmpdir("orc_roundtrip_", sf_dir)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        "user_id",
        "event_type",
        "value",
    )


@query(
    "x6_per_key_sample",
    oracle=f"""
WITH ranked AS (
    SELECT event_id, user_id, event_type,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY ((event_id % {sampling._P31}) * {sampling.KNUTH}) % {sampling._P31} ASC,
                        event_id ASC) AS INT) AS sample_rank
    FROM events
)
SELECT event_id, user_id, event_type, sample_rank
FROM ranked WHERE sample_rank <= 5
""",
)
def x6_per_key_sample(spark, sf_dir):
    """X6 deterministic per-key downsample
    (operators/sampling.per_key_sample): at most 5 events per user, chosen
    by rank-over-hash — the reproducible replacement for per-key reservoir
    sampling (a true reservoir depends on row order and partitioning; this
    picks the same rows on any layout).  The canonical 'no key may exceed
    n examples' cap on a dominant user/domain/source.  One shuffle on the
    key; WindowGroupLimit keeps per-key state bounded at n."""
    from ..operators import sampling as sampling_ops

    return sampling_ops.per_key_sample(
        _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type"),
        ["user_id"],
        "event_id",
        n=5,
    )


_MD5POLY = (
    "CAST(list_sum([(strpos('0123456789abcdef', md5({x})[i]) - 1)"
    " * CAST(power(16, 12 - i) AS BIGINT)"
    " for i in generate_series(1, 12)]) % 2147483647 AS BIGINT)"
)


@query(
    "x3_hashing_features",
    oracle=rf"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS tok
    FROM documents
),
h AS (
    SELECT doc_id, {_MD5POLY.format(x='tok')} % 64 AS feature
    FROM toks WHERE tok != ''
)
SELECT doc_id, CAST(feature AS INT) AS feature, COUNT(*) AS tf
FROM h GROUP BY doc_id, feature
""",
)
def x3_hashing_features(spark, sf_dir):
    """X3 feature hashing (operators/text.hashing_trick): tokens map to 64
    hash buckets with NO vocabulary pass — fixed feature space, no string
    dictionary broadcast, no OOV handling; the sparse bag-of-words input a
    linear probe / clustering step consumes.  Narrow projection + one
    (id, feature) aggregation with map-side combine; collisions are the
    accepted Weinberger-et-al trade."""
    return text.hashing_trick(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n_features=64
    )


#: gear/Rabin-style boundary hash, mirrored from operators/dedup.
#: cdc_chunk_rows: Σ_j codepoint(norm[p+j])·31^j over the 8-char window —
#: DuckDB ``unicode`` == Spark ``ascii`` (full code point, BMP + astral).
_CDC_POLY = " + ".join(
    f"CAST(unicode(norm[CAST(p + {j} AS INT)]) AS BIGINT) * {31 ** j}"
    for j in range(8)
)


@query(
    "x1_cdc_chunks",
    oracle=rf"""
WITH n AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
    FROM documents
),
c AS (
    SELECT doc_id, norm,
           [p for p in generate_series(2, greatest(length(norm) - 7, 1))
              if ({_CDC_POLY}) % 2147483647 % 64 = 0] AS cuts
    FROM n
),
ch AS (
    SELECT doc_id, norm,
           unnest(list_concat([CAST(1 AS BIGINT)], cuts)) AS s,
           unnest(list_concat([cc - 1 for cc in cuts],
                              [CAST(length(norm) AS BIGINT)])) AS e
    FROM c
),
chunks AS (
    SELECT doc_id,
           md5(substr(norm, CAST(s AS INT), CAST(e - s + 1 AS INT))) AS chunk_hash,
           e - s + 1 AS clen
    FROM ch
)
SELECT chunk_hash, CAST(MIN(clen) AS INT) AS chunk_len, COUNT(*) AS n_copies,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, MIN(doc_id) AS keep_id
FROM chunks GROUP BY chunk_hash
""",
)
def x1_cdc_chunks(spark, sf_dir):
    """X1 content-defined chunking dedup (operators/dedup.cdc_chunk_dedup):
    documents cut where the rolling 8-char window hash % 64 == 0 —
    boundaries are a function of LOCAL content, so an edit perturbs only
    the chunk it touches and shared regions keep producing identical
    chunks (the storage-dedup trick applied to corpus curation; fixed-
    width chunking shifts every boundary after an insertion).  Boundary
    detection + chunk extraction is ONE narrow array-expression
    projection; the only exchange is the chunk-hash aggregation."""
    return dedup.cdc_chunk_dedup(
        _t(spark, sf_dir, "documents"), "doc_id", "text", window=8, modulus=64
    )


@query(
    "x6_epoch_shuffle",
    oracle=f"""
WITH h AS (
    SELECT doc_id,
           (((doc_id + 1 * 40503) % 2147483647) * {sampling.KNUTH}) % {sampling._P31} AS hh
    FROM documents
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY hh ASC, doc_id ASC) - 1 AS BIGINT)
           AS position
FROM h
""",
)
def x6_epoch_shuffle(spark, sf_dir):
    """X6 epoch shuffle (operators/sampling.epoch_shuffle): a dense global
    permutation 0..N-1 in hash-of-(id, epoch) order — the per-epoch corpus
    shuffle of a training dataloader — WITHOUT a single-partition global
    window: rows rank within 64 contiguous hash RANGES (one 64-way
    parallel shuffle) and the 64-row range totals prefix-sum and broadcast
    back as offsets (the pack_shards two-phase trick).  Pure function of
    (id, epoch): reproducible across restarts, cluster sizes, and
    partitionings."""
    return sampling.epoch_shuffle(
        _t(spark, sf_dir, "documents").select("doc_id"), "doc_id", epoch=1
    )


#: Shared by x2_random_projection (portable HOF fold) and
#: x2_random_projection_fast (codegen multiply-add chain) — the two Spark
#: paths accumulate in the same left-to-right order, so ONE oracle replays
#: both bit-for-bit.
_JL_PROJECTION_ORACLE = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
p AS (
    SELECT e.vec_id, sub.j,
           round(list_sum([e.v[i + 1]
                           * CAST((((sub.j % 2147483647) * 2654435761 + i * 40503 + 42)
                                   % 1000003) % 7 - 3 AS DOUBLE)
                           for i in generate_series(0, len(e.v) - 1)]), 6) AS y
    FROM e CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) sub
)
SELECT vec_id, CAST(j AS INT) AS dim_idx, y FROM p
"""


@query("x2_random_projection", oracle=_JL_PROJECTION_ORACLE)
def x2_random_projection(spark, sf_dir):
    """X2 Johnson-Lindenstrauss random projection
    (operators/similarity.random_projection): 64-dim embeddings reduced to
    16 components against arithmetic integer planes recomputed inline (no
    projection matrix stored or shipped) — the cheap pre-ANN
    dimensionality reduction that cuts index memory and pairwise costs
    ~4x here (~16x at production dims) while preserving pairwise
    distances to (1±eps).  Zero shuffles: a pure per-row projection,
    emitted long-form (vec_id, dim_idx, y) for the oracle hash.  JL
    distance preservation is property-tested in
    tests/test_round4b_ops.py."""
    proj = similarity.random_projection(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", out_dim=16, seed=42
    )
    return proj.select(
        "vec_id", F.posexplode("proj").alias("dim_idx", "_y")
    ).select("vec_id", "dim_idx", F.round("_y", 6).alias("y"))


@query("x2_random_projection_fast", oracle=_JL_PROJECTION_ORACLE)
def x2_random_projection_fast(spark, sf_dir):
    """X2 JL projection, codegen fast path
    (operators/similarity.random_projection_fast): posexplode +
    per-(vec_id, dim_idx) SUM — generate, project, and hash aggregate all
    inside whole-stage codegen instead of the interpreted HOF fold.
    Partial aggregation finishes each sum map-side, so the shuffle
    carries exactly the N x 16 output rows.  The aggregate updates each
    group in exploded row order (i ascending, one partial per group), the
    same left-to-right order as the portable fold — so the result is
    BIT-IDENTICAL to x2_random_projection and shares its oracle
    (hash-checked, not rows-only)."""
    proj = similarity.random_projection_fast(
        _t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        in_dim=64,
        out_dim=16,
        seed=42,
    )
    return proj.select("vec_id", "dim_idx", F.round("y", 6).alias("y"))


@query(
    "s21_jsonl_corrupt_records",
    oracle="""
WITH b AS (
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'parsed' ELSE 'corrupt' END AS bucket,
           CASE WHEN doc_id % 2 = 0 THEN length(text) ELSE 0 END AS chars
    FROM documents
)
SELECT bucket, COUNT(*) AS n_rows, CAST(SUM(chars) AS BIGINT) AS n_chars
FROM b GROUP BY bucket
""",
)
def s21_jsonl_corrupt_records(spark, sf_dir):
    """S-surface malformed-input handling: a JSONL file where every other
    line is deliberately broken, read back in PERMISSIVE mode with an
    explicit ``_corrupt_record`` column — the production posture for
    web-scraped corpora, where a bad line must become a quarantined row,
    not a failed 100-TB job.  Valid lines must parse losslessly (the
    oracle checks parsed-side char volume against the original parquet);
    corrupt lines land in the quarantine bucket with their raw text
    preserved for debugging.  DROPMALFORMED/FAILFAST are the same reader
    one option away."""
    out = _rt_tmpdir("jsonl_corrupt_", sf_dir)
    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(
        F.when(
            F.col("doc_id") % 2 == 0,
            F.to_json(F.struct("doc_id", "text")),
        )
        .otherwise(
            F.concat(F.lit('{"doc_id": '), F.col("doc_id"), F.lit(', "text": broken'))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    back = (
        spark.read.schema("doc_id long, text string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    # the quarantine predicate references doc_id AND _corrupt_record: a
    # projection that referenced ONLY the corrupt column would be rejected
    # by the JSON source (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    # COLUMN) once column pruning strips everything else — e.g. under a
    # bare .count() — and a parse that yields no id belongs in quarantine
    # anyway
    return (
        back.select(
            F.when(
                F.col("doc_id").isNotNull() & F.col("_corrupt_record").isNull(),
                F.lit("parsed"),
            )
            .otherwise(F.lit("corrupt"))
            .alias("bucket"),
            F.coalesce(F.length("text"), F.lit(0)).alias("chars"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("chars").cast("long").alias("n_chars"),
        )
    )


@query(
    "s22_schema_evolution",
    oracle="""
WITH cut AS (SELECT MAX(doc_id) // 2 AS mid FROM documents)
SELECT doc_id, lang,
       CASE WHEN doc_id <= mid THEN NULL ELSE n_chars END AS n_chars
FROM documents CROSS JOIN cut
""",
)
def s22_schema_evolution(spark, sf_dir):
    """S-surface schema evolution: two parquet batches written with
    DIFFERENT schemas (an early batch without ``n_chars``, a later batch
    with it) read back through ``mergeSchema`` into one unified relation —
    the long-lived-corpus reality where columns are added over time and
    old files must keep scanning without a rewrite.  Early-batch rows
    surface NULL for the added column (checked by the oracle); at scale
    mergeSchema costs one footer read per file and scans stay pruned and
    pushed-down per batch."""
    out = _rt_tmpdir("schema_evo_", sf_dir)
    docs = _t(spark, sf_dir, "documents")
    # split point stays a lazy 1-row broadcast (no driver collect/extra
    # job): each batch's write plan embeds the scalar agg as a
    # BroadcastNestedLoopJoin against a provably-1-row relation
    cut = F.broadcast(docs.agg(F.floor(F.max("doc_id") / 2).alias("mid")))
    split = docs.crossJoin(cut)
    split.filter(F.col("doc_id") <= F.col("mid")).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(out + "/b1")
    split.filter(F.col("doc_id") > F.col("mid")).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(out + "/b2")
    return spark.read.option("mergeSchema", True).parquet(out + "/b1", out + "/b2")


def _curation_v3_oracle() -> str:
    """DuckDB replay of the round-4b composed pipeline — Gopher rules,
    Bloom decontamination, per-source cap, epoch shuffle — generated from
    the same constants as the operators so the stages cannot drift."""
    m_bits = 1 << 20
    pos_list = ", ".join(
        f"(x * {dedup._PORT_A[h]} + {dedup._PORT_B[h]}) % {dedup._P_PORT} % {m_bits}"
        for h in range(3)
    )
    probe_pred = " AND ".join(
        f"(t.x * {dedup._PORT_A[h]} + {dedup._PORT_B[h]}) % {dedup._P_PORT}"
        f" % {m_bits} IN (SELECT pos FROM filt)"
        for h in range(3)
    )
    return rf"""
WITH t AS (
    SELECT doc_id, source, text,
           regexp_split_to_array(trim(text), '\s+') AS toks,
           length(regexp_replace(text, '\s', '', 'g')) AS n_nonws
    FROM documents
),
gq AS (
    SELECT doc_id,
           (len(toks) >= 50 AND len(toks) <= 100000
            AND n_nonws::DOUBLE / len(toks)::DOUBLE >= 3.0
            AND n_nonws::DOUBLE / len(toks)::DOUBLE <= 10.0
            AND len(regexp_extract_all(text, '(#|\.\.\.)'))::DOUBLE
                / len(toks)::DOUBLE <= 0.1
            AND len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                / len(toks)::DOUBLE >= 0.8
            AND len(list_filter(toks, x -> list_contains({_STOP_LIST}, x))) >= 2
           ) AS keep
    FROM t
),
ntoks AS (
    SELECT doc_id, source,
           regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS nt
    FROM documents
),
sh AS (
    SELECT doc_id, source,
           unnest(CASE WHEN len(nt) >= 5
                       THEN list_distinct([nt[i] || ' ' || nt[i+1] || ' ' || nt[i+2]
                                           || ' ' || nt[i+3] || ' ' || nt[i+4]
                                           for i in generate_series(1, len(nt) - 4)])
                       ELSE list_distinct(nt) END) AS shingle
    FROM ntoks
),
h AS (
    SELECT doc_id, source,
           CAST(list_sum([(strpos('0123456789abcdef', md5(shingle)[i]) - 1)
                          * CAST(power(16, 12 - i) AS BIGINT)
                          for i in generate_series(1, 12)])
                % {dedup._P_PORT} AS BIGINT) AS x
    FROM sh
),
filt AS (
    SELECT DISTINCT unnest([{pos_list}]) AS pos
    FROM h WHERE source = 'src0'
),
contaminated AS (
    SELECT DISTINCT t.doc_id
    FROM (SELECT doc_id, x FROM h WHERE source != 'src0') t
    WHERE {probe_pred}
),
kept AS (
    SELECT d.doc_id, d.source
    FROM documents d
    JOIN gq ON gq.doc_id = d.doc_id AND gq.keep
    WHERE d.source != 'src0'
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
capped AS (
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY ((doc_id % {sampling._P31}) * {sampling.KNUTH}) % {sampling._P31} ASC,
                            doc_id ASC) AS rn
        FROM kept) WHERE rn <= 30
)
SELECT doc_id, source,
       CAST(ROW_NUMBER() OVER (
           ORDER BY (((doc_id + 40503) % 2147483647) * {sampling.KNUTH}) % {sampling._P31} ASC,
                    doc_id ASC) - 1 AS BIGINT) AS position
FROM capped
"""


@query("x9_curation_v3", oracle=_curation_v3_oracle())
def x9_curation_v3(spark, sf_dir):
    """X9 curation pipeline v3 — the round-4b operators composed end to
    end, the shape a pretraining data refresh actually runs: Gopher
    quality rules gate documents (zero-shuffle signals), the Bloom filter
    drops benchmark-contaminated docs (broadcast probes, constant filter
    memory), a per-source cap bounds any one source's contribution
    (rank-over-hash, WindowGroupLimit), and the survivors get their epoch
    training order (hash-range permutation, no global window).  One
    composed lazy plan; the oracle replays all four stages from the same
    constants."""
    from ..operators import sampling as sampling_ops

    docs = _tp(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    # r13 optimization pass: the Gopher verdict is row-local over the raw
    # text column, so it gates inline — the original built a full
    # gopher_rules relation over a SECOND corpus scan and semi-joined it
    # back (same verdict, one scan and one join fewer).
    clean = (
        dedup.bloom_decontaminate_report(train, bench, "doc_id", "text", n=5)
        .filter(~F.col("contaminated"))
        .select("doc_id")
    )
    kept = (
        train.filter(text.gopher_keep_expr("text"))
        .select("doc_id", "source")
        .join(clean, "doc_id", "left_semi")
    )
    capped = sampling_ops.per_key_sample(kept, ["source"], "doc_id", n=30).select(
        "doc_id", "source"
    )
    return sampling_ops.epoch_shuffle(capped, "doc_id", epoch=1)


@query(
    "s23_binaryfile_scan",
    oracle="""
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS length,
       md5(text) AS content_md5
FROM documents WHERE doc_id < 20
""",
)
def s23_binaryfile_scan(spark, sf_dir):
    """S-surface binary-file ingest: raw files read through Spark's
    ``binaryFile`` source into (path, length, content) rows — the entry
    point for image/audio corpora, where the bytes land in an opaque
    binary column and the X4 decode operators take over.  Contents are
    verified by md5 against the source-of-truth table (byte-for-byte
    fidelity through the filesystem round trip).  The 20-file fixture is
    written driver-side as test scaffolding; the OPERATOR under test is
    the distributed scan, which partitions over files at corpus scale
    (maxPartitionBytes applies; no shuffle)."""
    import os

    out = _rt_tmpdir("binfiles_", sf_dir)
    rows = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .collect()
    )
    for r in rows:
        with open(os.path.join(out, f"{int(r.doc_id):05d}.txt"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    back = spark.read.format("binaryFile").load(out)
    return back.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1).cast("long").alias("doc_id"),
        F.col("length"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "x1_incremental_dedup",
    oracle=r"""
WITH cut AS (SELECT MAX(doc_id) // 2 AS mid FROM documents),
fp AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
),
hist AS (
    SELECT fingerprint, MIN(doc_id) AS dup_of
    FROM fp CROSS JOIN cut WHERE doc_id <= mid GROUP BY fingerprint
)
SELECT fp.doc_id, fp.fingerprint, h.dup_of,
       h.dup_of IS NULL AS is_new_unique
FROM fp CROSS JOIN cut LEFT JOIN hist h USING (fingerprint)
WHERE fp.doc_id > mid
""",
)
def x1_incremental_dedup(spark, sf_dir):
    """X1 incremental dedup — the ingest-time workflow: a NEW batch of
    documents is checked against the HISTORICAL fingerprint store (already
    materialized by earlier runs) instead of re-deduping the whole corpus.
    New docs matching a historical fingerprint report the surviving
    historical id; the rest are genuinely new.  The historical side is the
    slim (fingerprint, min_id) relation — at 100 TB that store lives as a
    bucketed table keyed on the fingerprint, so the daily batch joins
    shuffle-free on the bucket; here it is one equi-join, new-batch-sized
    output, no full-corpus rescan."""
    docs = _t(spark, sf_dir, "documents")
    # lazy 1-row broadcast split point (no driver collect/extra job),
    # the same pattern every other split in this registry uses
    cut = F.broadcast(docs.agg(F.floor(F.max("doc_id") / 2).alias("mid")))
    fp = text.fingerprint_md5(docs).crossJoin(cut)
    hist = (
        fp.filter(F.col("doc_id") <= F.col("mid"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    return (
        fp.filter(F.col("doc_id") > F.col("mid"))
        .drop("mid")
        .join(hist, "fingerprint", "left")
        .select(
            "doc_id",
            "fingerprint",
            "dup_of",
            F.col("dup_of").isNull().alias("is_new_unique"),
        )
    )


@query(
    "x3_bpe_pair_counts",
    oracle=r"""
WITH toks AS (
    SELECT unnest(regexp_split_to_array(
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS w
    FROM documents
),
pairs AS (
    SELECT unnest([w[i:i+1] for i in generate_series(1, length(w) - 1)]) AS pair
    FROM toks WHERE length(w) >= 2
),
counted AS (
    SELECT pair, COUNT(*) AS n_pairs FROM pairs GROUP BY pair
),
ranked AS (
    SELECT pair, n_pairs,
           CAST(ROW_NUMBER() OVER (ORDER BY n_pairs DESC, pair ASC) AS INT) AS rank
    FROM counted
)
SELECT pair, n_pairs, rank FROM ranked WHERE rank <= 50
""",
)
def x3_bpe_pair_counts(spark, sf_dir):
    """X3 BPE merge statistics: corpus-wide adjacent-symbol pair counts —
    the inner loop of byte-pair-encoding tokenizer training (each round
    merges the most frequent pair; this relation IS that argmax, top-50
    for inspection).  Two explodes (words, then in-word adjacent char
    pairs) stay narrow; the only exchange is the pair-count aggregation,
    bounded by |charset|² keys with map-side combine, and the top-50 is a
    TakeOrderedAndProject.  Successive merge rounds re-run this over the
    re-segmented corpus; the per-round cost is one scan + one bounded
    shuffle at any corpus size."""
    toks = _t(spark, sf_dir, "documents").select(
        F.explode(text.tokens(text.normalize_text("text"))).alias("w")
    ).filter(F.length("w") >= 2)
    # per-position substring is fine HERE: words are bounded-length
    # (~5-10 chars), so the prefix re-scan is O(1)-bounded — and measured
    # ~1.5x faster than splitting each short word into a char array (the
    # per-word array allocation dominates).  The linearized char-array
    # form is for unbounded strings (whole documents): text._char_grams_expr.
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_pairs"))
    from pyspark.sql.window import Window

    ranked = (
        counted.orderBy(F.desc("n_pairs"), F.asc("pair"))
        .limit(50)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("n_pairs"), F.asc("pair")))
            .cast("int"),
        )
    )
    return ranked


@query(
    "x4_media_resize",
    oracle=r"""
WITH p AS (
    SELECT doc_id, text, length(text) AS n,
           greatest((length(text) + 15) // 16, 1) AS h
    FROM documents
)
SELECT doc_id,
       CAST(h AS INT) AS src_h, 16 AS src_w, 8 AS out_h, 8 AS out_w,
       array_to_string(
         flatten([[CAST(CASE WHEN (r * h // 8) * 16 + (c * 2) + 1 <= n
                              THEN ascii(text[CAST((r * h // 8) * 16 + (c * 2) + 1 AS INT)])
                              ELSE 0 END AS VARCHAR)
                   for c in generate_series(0, 7)]
                  for r in generate_series(0, 7)]), ',') AS pixels_sig
FROM p
""",
)
def x4_media_resize(spark, sf_dir):
    """X4 multimodal resize plumbing (operators/multimodal.resize_images):
    the media BLOB as a 16-wide 1-channel image, nearest-neighbor
    downsampled to 8x8 inside an Arrow mapInPandas batch — the resolution-
    normalization step of a multimodal preprocessing pipeline (real codec
    path swaps in PIL.Image.resize behind the import guard; the Spark-side
    batch shape is what this verifies).  Pure integer index arithmetic, so
    the DuckDB oracle replays every sampled pixel; no shuffle — a narrow
    Arrow map over the corpus."""
    media = multimodal.documents_as_media(_t(spark, sf_dir, "documents"))
    return multimodal.resize_images(media, src_w=16, out_h=8, out_w=8)


@query(
    "x11_hll_intersection",
    oracle="""
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
m AS (
    SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT COUNT(*) FROM (SELECT user_id FROM a
                                       UNION SELECT user_id FROM b)) AS BIGINT)
               AS n_union,
           CAST((SELECT COUNT(*) FROM a
                 WHERE user_id IN (SELECT user_id FROM b)) AS BIGINT)
               AS n_intersect
    )
SELECT n_a, n_b, n_union, n_intersect, TRUE AS within_tolerance FROM m
""",
)
def x11_hll_intersection(spark, sf_dir):
    """X11 sketch set algebra: |A ∩ B| for two user cohorts estimated by
    inclusion-exclusion over MERGEABLE HLL sketches (|A| + |B| − |A ∪ B|,
    where the union sketch is hll_union_agg of the per-cohort sketches —
    never a rescan of the union).  This is the audience-overlap query a
    100-TB event log answers from pre-built per-segment sketches in
    O(sketch) time; exact intersection needs a shuffle of both cohorts.
    Same accuracy-report pattern as x11_hll_accuracy: exact values are
    the oracle-checked columns, the boolean asserts the estimate within
    tolerance (inclusion-exclusion compounds the error of three
    estimates, so the guard is 3x the single-sketch rsd)."""
    from ..operators import incremental

    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click")
    b = e.filter(F.col("event_type") == "view")
    sk_a = incremental.hll_state(a.withColumn("g", F.lit(1)), ["g"], "user_id")
    sk_b = incremental.hll_state(b.withColumn("g", F.lit(1)), ["g"], "user_id")
    est_a = incremental.finalize_hll_state(sk_a).select(
        F.col("approx_distinct").alias("est_a")
    )
    est_b = incremental.finalize_hll_state(sk_b).select(
        F.col("approx_distinct").alias("est_b")
    )
    est_u = incremental.finalize_hll_state(
        incremental.merge_hll_states(sk_a, sk_b)
    ).select(F.col("approx_distinct").alias("est_u"))
    n_a = a.agg(F.countDistinct("user_id").cast("long").alias("n_a"))
    n_b = b.agg(F.countDistinct("user_id").cast("long").alias("n_b"))
    n_u = (
        a.select("user_id")
        .union(b.select("user_id"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_union"))
    )
    n_i = (
        a.select("user_id")
        .distinct()
        .join(b.select("user_id").distinct(), "user_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_intersect"))
    )
    est = (
        est_a.crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
        .select((F.col("est_a") + F.col("est_b") - F.col("est_u")).alias("est_i"))
    )
    return (
        n_a.crossJoin(F.broadcast(n_b))
        .crossJoin(F.broadcast(n_u))
        .crossJoin(F.broadcast(n_i))
        .crossJoin(F.broadcast(est))
        .select(
            "n_a",
            "n_b",
            "n_union",
            "n_intersect",
            (
                F.abs(F.col("est_i") - F.col("n_intersect"))
                <= F.greatest(
                    F.lit(0.06) * F.col("n_union"), F.lit(3.0)
                )
            ).alias("within_tolerance"),
        )
    )


@query(
    "x7_asof_status_rollup",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _prev
    FROM events
),
changes AS (
    SELECT user_id, ts, event_id, event_type
    FROM ordered WHERE _prev IS NULL OR event_type <> _prev
),
iv AS (
    SELECT user_id, event_type, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM changes
),
pit AS (SELECT TIMESTAMP '2024-01-15 00:00:00' AS d)
SELECT event_type AS status,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM iv CROSS JOIN pit
WHERE valid_from <= d AND (valid_to IS NULL OR valid_to > d)
GROUP BY event_type
""",
)
def x7_asof_status_rollup(spark, sf_dir):
    """X7 point-in-time rollup over the SCD2 intervals — the QUERY side of
    slowly-changing history (x7_scd2_status_intervals is the build side):
    'how many users were in each status as of time D' answered by an
    interval containment filter on the dimension, never a scan of raw
    events up to D.  This is the reference's whole point-in-time cutoff
    pattern (SURVEY §3.3) generalized to an SCD2 table: at 100 TB the
    interval table is ~|keys| rows vs the unbounded event log, and the
    as-of filter prunes to currently-valid rows before the tiny status
    rollup."""
    from ..operators import history

    iv = history.scd2_intervals(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type", tiebreak="event_id"
    )
    d = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return (
        iv.filter((F.col("valid_from") <= d) & (F.col("valid_to").isNull() | (F.col("valid_to") > d)))
        .groupBy(F.col("event_type").alias("status"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "x2_group_centroids",
    oracle="""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
tagged AS (
    SELECT CAST(vec_id % 4 AS INT) AS grp, v FROM e
),
comp AS (
    SELECT grp, CAST(i - 1 AS INT) AS pos, v[i] AS x
    FROM tagged CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
)
SELECT grp, pos, round(AVG(x), 6) AS mean_x, CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM comp GROUP BY grp, pos
""",
)
def x2_group_centroids(spark, sf_dir):
    """X2 per-group embedding centroids — the mean vector per cohort
    (language, source, cluster), the primitive behind domain prototypes,
    SemDeDup seeding, and drift monitoring of embedding spaces.  Columnar
    shape: posexplode to (group, pos, x) rows, ONE (group, pos) hash
    aggregation with map-side combine — shuffle bounded by |groups| x dim
    regardless of corpus size (never collect-and-average on the driver).
    Emitted long-form; AVG is rounded to 6dp for engine-portable hashing
    (mean = sum/count is order-sensitive in the last bits; 6dp absorbs
    it)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 4).cast("int").alias("grp"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    comp = emb.select("grp", F.posexplode("v").alias("pos", "x"))
    return comp.groupBy("grp", "pos").agg(
        F.round(F.avg("x"), 6).alias("mean_x"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


@query(
    "x6_negative_pairs",
    oracle=f"""
WITH d AS (SELECT doc_id FROM documents),
n AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS n_docs FROM documents)
SELECT d.doc_id AS anchor_id,
       CAST(sub.j AS INT) AS neg_idx,
       (d.doc_id + 1 + ((d.doc_id % 2147483647) * {sampling.KNUTH} + sub.j * 40503)
        % (n.n_docs - 1)) % n.n_docs AS negative_id
FROM d CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) sub
       CROSS JOIN n
""",
)
def x6_negative_pairs(spark, sf_dir):
    """X6 deterministic negative sampling for contrastive training: each
    anchor gets 4 pseudo-random negatives as a PURE PROJECTION — negative
    = (anchor + 1 + hash(anchor, j) % (N-1)) % N, which by construction
    never equals the anchor and needs NO join, NO shuffle, and no RNG
    state (same negatives on any cluster layout / re-run, the
    reproducibility a resumable training job needs).  The corpus size N
    is one scalar aggregate crossed in.  Id-space note: assumes dense ids
    (the fixture's); sparse ids compose this with a zipWithIndex-style
    dense rank first."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg((F.max("doc_id") + 1).cast("long").alias("n_docs"))
    return (
        docs.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("neg_idx"),
            "n_docs",
        )
        .select(
            "anchor_id",
            F.col("neg_idx").cast("int").alias("neg_idx"),
            (
                (
                    F.col("anchor_id")
                    + 1
                    + (
                        F.pmod(F.col("anchor_id"), F.lit(sampling._P31))
                        * sampling.KNUTH
                        + F.col("neg_idx") * 40_503
                    )
                    % (F.col("n_docs") - 1)
                )
                % F.col("n_docs")
            ).alias("negative_id"),
        )
    )


@query(
    "x6_shard_manifest",
    oracle="""
WITH t AS (
    SELECT doc_id,
           CAST(greatest(len(regexp_split_to_array(trim(text), '\\s+')), 0)
                AS BIGINT) AS n_tokens
    FROM documents
),
cum AS (
    SELECT doc_id, n_tokens,
           SUM(n_tokens) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS cum_excl
    FROM t
),
sharded AS (
    SELECT doc_id, n_tokens, CAST(cum_excl // 2048 AS INT) AS shard_id FROM cum
)
SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM sharded GROUP BY shard_id
""",
)
def x6_shard_manifest(spark, sf_dir):
    """X6 shard manifest — the rollup a dataloader actually reads: one row
    per shard with doc count, token volume, and the id range, derived from
    the pack_shards assignment (distributed two-phase prefix sum; the
    oracle replays it with a single SQL running sum).  The manifest is
    |shards|-sized — the artifact that lets a trainer plan epochs without
    listing files; one keyed aggregation over the assignment."""
    from ..operators import sampling as sampling_ops
    from ..operators import text as text_ops

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.greatest(
            F.size(text_ops.tokens(F.trim(F.col("text")))), F.lit(0)
        ).cast("long").alias("n_tokens"),
    )
    sharded = sampling_ops.pack_shards(
        docs, id_col="doc_id", size_col="n_tokens", budget=2048
    )
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "a11_winsorize",
    oracle="""
WITH b AS (
    SELECT event_type,
           percentile_cont(0.01) WITHIN GROUP (ORDER BY value) AS lo,
           percentile_cont(0.99) WITHIN GROUP (ORDER BY value) AS hi
    FROM events GROUP BY event_type
),
c AS (
    SELECT e.event_type,
           CASE WHEN e.value < b.lo THEN b.lo
                WHEN e.value > b.hi THEN b.hi
                ELSE e.value END AS w,
           CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END AS clipped
    FROM events e JOIN b USING (event_type)
)
SELECT event_type,
       round(MIN(w), 6) AS min_w, round(MAX(w), 6) AS max_w,
       round(AVG(w), 6) AS mean_w,
       CAST(SUM(clipped) AS BIGINT) AS n_clipped
FROM c GROUP BY event_type
""",
)
def a11_winsorize(spark, sf_dir):
    """A11 per-group winsorization: clip each group's values to its own
    [p1, p99] band — the outlier treatment a quality/feature column gets
    before aggregation so one corrupt reading cannot move the mean.  Two
    passes over the grouped data: exact per-group percentiles (one keyed
    agg; Spark's `percentile` uses the same (n-1)p linear interpolation as
    percentile_cont), broadcast back as the |groups|-row clip table, then
    the clipped rollup — shuffle bounded by |groups|.  At 100 TB swap the
    exact percentile for approx_percentile and keep the identical plan."""
    e = _t(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    w = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    clipped = F.when(
        (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1
    ).otherwise(0)
    return (
        e.join(F.broadcast(b), "event_type")
        .select("event_type", w.alias("w"), clipped.alias("clipped"))
        .groupBy("event_type")
        .agg(
            F.round(F.min("w"), 6).alias("min_w"),
            F.round(F.max("w"), 6).alias("max_w"),
            F.round(F.avg("w"), 6).alias("mean_w"),
            F.sum("clipped").cast("long").alias("n_clipped"),
        )
    )


@query(
    "x11_running_distinct",
    oracle="""
WITH first_touch AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
),
news AS (
    SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new_users
    FROM first_touch GROUP BY first_day
),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
SELECT d.day, COALESCE(n.n_new_users, 0) AS n_new_users,
       CAST(SUM(COALESCE(n.n_new_users, 0)) OVER (
           ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS running_distinct_users
FROM days d LEFT JOIN news n USING (day)
""",
)
def x11_running_distinct(spark, sf_dir):
    """X11 running distinct users by day — the cumulative-uniques metric,
    in its SCALABLE formulation: running COUNT(DISTINCT) is not
    incrementally computable directly (distinct doesn't sum), but each
    user contributes exactly once at their FIRST day, so
    running_distinct(d) = cumulative sum of new-user counts — one
    (user -> min day) aggregation, one per-day rollup, and a running sum
    over the |days|-row relation.  The naive form re-deduplicates an
    ever-growing prefix per day (O(days x corpus)); this is O(corpus).
    The tiny running-sum window runs on the |days|-row aggregate, never
    the data."""
    e = _t(spark, sf_dir, "events")
    first_touch = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    news = first_touch.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    days = e.select(F.to_date("ts").alias("day")).distinct()
    from pyspark.sql.window import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        days.join(news, "day", "left")
        .select("day", F.coalesce("n_new_users", F.lit(0)).alias("n_new_users"))
        .select(
            "day",
            "n_new_users",
            F.sum("n_new_users").over(w).cast("long").alias("running_distinct_users"),
        )
    )


def _mmr_oracle(n_queries: int = 10, n_candidates: int = 20, k: int = 5,
                lam: float = 0.7) -> str:
    """DuckDB replay of the greedy MMR trace, unrolled to ``k`` pick CTEs.

    Replayable because every float the argmax compares is snapped to 6dp
    on both sides via the EXPLICIT ``floor(x*1e6 + 0.5)/1e6`` formula:
    the relevance cosines (brute_force_topk with ``snap6=True`` — also
    what the top-``n_candidates`` cut ranks on), the pairwise candidate
    sims, and the emitted mmr_score (see operators/similarity.mmr_rerank
    — engine round() semantics differ near half-ties: np.round/Python
    round are half-even, DuckDB is half-away, Spark's Round goes through
    the shortest decimal repr with HALF_UP; the explicit
    multiply-add-floor-divide sequence is bit-identical everywhere).
    Scores are then plain IEEE double ops on identical inputs, so the
    per-step (score DESC, cand_id ASC) winner matches NumPy's first-max
    argmax over ascending-id candidates.  ``1 - lam`` is embedded with
    full float repr (0.7 -> 0.30000000000000004) so both engines
    subtract the identical double."""
    om = repr(1.0 - lam)  # exact IEEE repr, e.g. 0.30000000000000004
    lam_s = repr(lam)
    parts = [f"""
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS norm
    FROM embeddings
),
scored AS (
    SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
           floor(list_dot_product(q.v, c.v) / (q.norm * c.norm)
                 * 1000000 + 0.5) / 1000000 AS rel
    FROM base q JOIN base c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {n_queries}
),
cands AS (
    SELECT q_id, cand_id, rel FROM (
        SELECT q_id, cand_id, rel,
               ROW_NUMBER() OVER (
                   PARTITION BY q_id ORDER BY rel DESC, cand_id ASC) AS rnk
        FROM scored) WHERE rnk <= {n_candidates}
),
sims AS (
    SELECT c1.q_id, c1.cand_id AS a, c2.cand_id AS b,
           floor(list_dot_product(ba.v, bb.v) / (ba.norm * bb.norm)
                 * 1000000 + 0.5) / 1000000 AS sim
    FROM cands c1
    JOIN cands c2 ON c1.q_id = c2.q_id AND c1.cand_id != c2.cand_id
    JOIN base ba ON ba.vec_id = c1.cand_id
    JOIN base bb ON bb.vec_id = c2.cand_id
)"""]
    for s in range(1, k + 1):
        if s == 1:
            score = f"CAST({lam_s} AS DOUBLE) * c.rel"
            joins = ""
            excl = ""
        else:
            prev = range(1, s)
            joins = "".join(
                f"\n    JOIN p{i} ON p{i}.q_id = c.q_id" for i in prev
            ) + "".join(
                f"\n    JOIN sims s{i} ON s{i}.q_id = c.q_id"
                f" AND s{i}.a = c.cand_id AND s{i}.b = p{i}.cand_id"
                for i in prev
            )
            pen = (f"s{s - 1}.sim" if s == 2
                   else "GREATEST(" + ", ".join(f"s{i}.sim" for i in prev) + ")")
            score = (f"CAST({lam_s} AS DOUBLE) * c.rel"
                     f" - CAST({om} AS DOUBLE) * {pen}")
            excl = ("\n    WHERE c.cand_id NOT IN ("
                    + ", ".join(f"p{i}.cand_id" for i in prev) + ")")
        parts.append(f""", p{s} AS (
    SELECT q_id, cand_id, score FROM (
        SELECT c.q_id, c.cand_id, {score} AS score,
               ROW_NUMBER() OVER (PARTITION BY c.q_id
                   ORDER BY {score} DESC, c.cand_id ASC) AS rn
        FROM cands c{joins}{excl}
    ) WHERE rn = 1
)""")
    finals = "\nUNION ALL\n".join(
        f"SELECT q_id, cand_id, CAST({s} AS INT) AS mmr_rank,"
        f" floor(score * 1000000 + 0.5) / 1000000 AS mmr_score FROM p{s}"
        for s in range(1, k + 1)
    )
    parts.append("\n" + finals)
    return "".join(parts)


@query("x2_mmr_rerank", oracle=_mmr_oracle())
def x2_mmr_rerank(spark, sf_dir):
    """X2 MMR diversified re-ranking (operators/similarity.mmr_rerank):
    greedy relevance-vs-redundancy selection over each query's bounded
    top-20 candidates, vectorized per group in applyInPandas — the
    diversified-retrieval pass after ANN.  Every float the greedy argmax
    compares is snapped to 6dp (relevance cosines AND pairwise sims), so
    the selection trace is engine-portable and the unrolled k-step
    DuckDB oracle replays it exactly; the same trace is independently
    replayed driver-side by tests/test_round4b_ops.py."""
    return similarity.mmr_rerank(
        _t(spark, sf_dir, "embeddings"), n_queries=10, n_candidates=20, k=5
    )


@query(
    "x12_class_balance",
    oracle="""
WITH c AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY event_type
),
tot AS (
    SELECT CAST(SUM(n) AS DOUBLE) AS total, CAST(COUNT(*) AS DOUBLE) AS k FROM c
)
SELECT c.event_type, c.n,
       round(c.n / tot.total, 6) AS frac,
       round((c.n - tot.total / tot.k) * (c.n - tot.total / tot.k)
             / (tot.total / tot.k), 6) AS chi2_term,
       (c.n / tot.total) BETWEEN 0.5 / tot.k AND 2.0 / tot.k AS balanced
FROM c CROSS JOIN tot
""",
)
def x12_class_balance(spark, sf_dir):
    """X12 label/class-balance report — the pre-training sanity check that
    no class dominates or vanishes: per-class counts, fractions, the
    per-class chi-square term against the uniform expectation, and a
    balanced flag (within [0.5x, 2x] of uniform share).  One keyed
    aggregation (map-side combined) + a |classes|-row broadcast of the
    totals — the event log never moves twice.  A skewed-label corpus
    fails fast here instead of three days into a training run."""
    c = _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    exp = F.col("total") / F.col("k")
    return c.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        F.round(F.col("n") / F.col("total"), 6).alias("frac"),
        F.round((F.col("n") - exp) * (F.col("n") - exp) / exp, 6).alias("chi2_term"),
        (F.col("n") / F.col("total")).between(
            0.5 / F.col("k"), 2.0 / F.col("k")
        ).alias("balanced"),
    )


def _minhash_accuracy_oracle() -> str:
    """DuckDB replay of the MinHash accuracy audit — same constants as
    operators/dedup.minhash_estimate_report."""
    mins = ",\n           ".join(
        f"MIN(({dedup._PORT_A[i]} * x + {dedup._PORT_B[i]}) % {dedup._P_PORT}) AS m_{i}"
        for i in range(16)
    )
    bands = "\n             ".join(
        "WHEN {b} THEN array_to_string([{slots}], ',')".format(
            b=b, slots=", ".join(f"m_{b * 4 + j}" for j in range(4))
        )
        for b in range(4)
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.m_{i} = sb.m_{i} THEN 1 ELSE 0 END" for i in range(16)
    )
    return rf"""
WITH docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s+', '')
    FROM documents WHERE doc_id < 20
),
toks AS (
    SELECT doc_id AS id,
           regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS t
    FROM docs
),
sh AS (
    SELECT id,
           unnest(CASE WHEN len(t) >= 2
                       THEN list_distinct([t[i] || ' ' || t[i+1]
                                           for i in generate_series(1, len(t) - 1)])
                       ELSE list_distinct(t) END) AS shingle
    FROM toks
),
h AS (
    SELECT id, shingle,
           CAST(list_sum([(strpos('0123456789abcdef', md5(shingle)[i]) - 1)
                          * CAST(power(16, 12 - i) AS BIGINT)
                          for i in generate_series(1, 12)])
                % {dedup._P_PORT} AS BIGINT) AS x
    FROM sh
),
sig AS (
    SELECT id, COUNT(*) AS sz,
           {mins}
    FROM h GROUP BY id
),
banded AS (
    SELECT id, band_idx,
           CASE band_idx
             {bands}
           END AS band_key
    FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band_idx)
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
),
est AS (
    SELECT c.id_a, c.id_b, sa.sz AS sz_a, sb.sz AS sz_b,
           round(({match_sum}) / 16.0, 6) AS est_jaccard
    FROM cand c JOIN sig sa ON sa.id = c.id_a JOIN sig sb ON sb.id = c.id_b
),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cand c
    JOIN sh a ON a.id = c.id_a
    JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
    GROUP BY c.id_a, c.id_b
)
SELECT e.id_a, e.id_b, e.est_jaccard,
       round(COALESCE(i.n_inter, 0)
             / CAST(e.sz_a + e.sz_b - COALESCE(i.n_inter, 0) AS DOUBLE), 6)
           AS exact_jaccard,
       abs(e.est_jaccard
           - round(COALESCE(i.n_inter, 0)
                   / CAST(e.sz_a + e.sz_b - COALESCE(i.n_inter, 0) AS DOUBLE), 6))
           <= 0.35 AS within_tolerance
FROM est e LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
"""


@query("x1_minhash_accuracy", oracle=_minhash_accuracy_oracle())
def x1_minhash_accuracy(spark, sf_dir):
    """X1 MinHash accuracy audit (operators/dedup.minhash_estimate_report):
    for every banded candidate pair, the sketch-estimated Jaccard (matching
    signature coordinates / 16 — the unbiased MinHash estimator) next to
    the exact shingle-set Jaccard with a tolerance boolean — the
    x11_hll_accuracy pattern applied to the dedup sketch, fully
    oracle-replayed because the portable hash family is integer end to
    end.  The driver hash-checks the sketch's ERROR BOUND, not just the
    pipeline shape."""
    docs = _with_synthetic_near_dups(_t(spark, sf_dir, "documents"))
    return dedup.minhash_estimate_report(
        docs, n=2, num_hashes=16, n_bands=4, tol=0.35
    )


@query(
    "s24_partition_pruned_read",
    oracle="""
SELECT event_id, user_id, event_type,
       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-10'
""",
)
def s24_partition_pruned_read(spark, sf_dir):
    """S-surface partition pruning witness: the events relation written
    PARTITIONED BY day (the layout every 100-TB event lake uses), then a
    single-day query against the files — the day predicate must resolve at
    PLANNING time to one directory (PartitionFilters in the scan, pinned
    in tests/test_plan_quality.py), so a one-day query over years of data
    lists one partition instead of scanning the lake.  The write is the
    dev-routed parquet sink with partitionBy; at scale add
    partitionOverwriteMode=dynamic for idempotent daily reloads
    (sources/writers.py:91)."""
    out = _rt_tmpdir("part_events_", sf_dir)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    back = read_parquet(spark, out)
    # partition-type inference reads `day` back as DATE; pin the output
    # dtype to the written string so the witness is inference-independent
    return back.filter(F.col("day") == "2024-01-10").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("day").cast("string").alias("day"),
    )


@query(
    "x5_trending_topk",
    oracle="""
WITH hourly AS (
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT window_start, event_type, n_events,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY window_start
               ORDER BY n_events DESC, event_type ASC) AS INT) AS rank
    FROM hourly
)
SELECT window_start, event_type, n_events, rank FROM ranked WHERE rank <= 3
""",
)
def x5_trending_topk(spark, sf_dir):
    """X5 trending top-k: the 3 busiest event types per hour — the
    dashboard rollup behind 'what is trending now'.  One windowed keyed
    aggregation (map-side combined) + a per-window WindowGroupLimit rank
    over the already-aggregated (|windows| x |types|)-row relation — the
    rank never touches raw events.  The streaming twin is the tumbling
    aggregation (streaming/events_stream.tumbling_counts) with the rank
    applied per micro-batch in foreachBatch (streaming rank over updating
    aggregates isn't expressible in pure append mode)."""
    e = _t(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        hourly.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


@query(
    "x1_dup_explain",
    oracle=r"""
WITH toks AS (
    SELECT doc_id AS id,
           regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS t
    FROM documents WHERE doc_id < 200
),
sh AS (
    SELECT id,
           unnest(CASE WHEN len(t) >= 2
                       THEN list_distinct([t[i] || ' ' || t[i+1]
                                           for i in generate_series(1, len(t) - 1)])
                       ELSE list_distinct(t) END) AS shingle
    FROM toks
),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, a.shingle
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
),
scored AS (
    SELECT p.id_a, p.id_b, COUNT(*) AS n_shared
    FROM pairs p GROUP BY p.id_a, p.id_b
),
strong AS (
    SELECT s.id_a, s.id_b, s.n_shared
    FROM scored s
    JOIN sizes za ON za.id = s.id_a JOIN sizes zb ON zb.id = s.id_b
    WHERE round(s.n_shared / CAST(za.sz + zb.sz - s.n_shared AS DOUBLE), 6) >= 0.05
),
expl AS (
    SELECT p.id_a, p.id_b, p.shingle,
           CAST(ROW_NUMBER() OVER (PARTITION BY p.id_a, p.id_b
                                   ORDER BY p.shingle ASC) AS INT) AS shingle_rank
    FROM pairs p JOIN strong USING (id_a, id_b)
)
SELECT e.id_a, e.id_b, s.n_shared, e.shingle, e.shingle_rank
FROM expl e JOIN strong s USING (id_a, id_b)
WHERE e.shingle_rank <= 3
""",
)
def x1_dup_explain(spark, sf_dir):
    """X1 near-dup EXPLANATION rows: for every candidate pair above the
    Jaccard floor, the first 3 shared shingles — the human-auditable
    evidence a dedup reviewer (or an appeals process) needs beyond a bare
    similarity score.  The shared-shingle relation is the same
    shingle-keyed equi-join the verification step already pays; the
    explanation is a per-pair WindowGroupLimit over rows that exist
    anyway.  Bounded to the oracle id range (<200) like the other exact
    all-pairs ground truths."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sh = dedup.shingle_rows(docs, "doc_id", "text", n=2)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sh_a = sh.select(F.col("id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("id").alias("id_b"), "shingle")
    pairs = sh_a.join(sh_b, "shingle").filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_shared"))
    za = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    strong = (
        scored.join(za, "id_a")
        .join(zb, "id_b")
        .filter(
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")).cast("double"),
                6,
            )
            >= 0.05
        )
        .select("id_a", "id_b", "n_shared")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("id_a", "id_b").orderBy(F.asc("shingle"))
    expl = (
        pairs.join(strong.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
        .withColumn("shingle_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("shingle_rank") <= 3)
    )
    return expl.join(strong, ["id_a", "id_b"]).select(
        "id_a", "id_b", "n_shared", "shingle", "shingle_rank"
    )


def _kmeans_elbow_oracle() -> str:
    """DuckDB replay of the elbow report: nearest-centroid assignment and
    summed squared distances for k in {2, 4, 8, 16}, seeds = first-k
    vectors (the x8 seeding)."""
    parts = []
    for k in (2, 4, 8, 16):
        parts.append(f"""
SELECT {k} AS k,
       round(SUM(best), 6) AS inertia,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM (
    SELECT e.vec_id,
           MIN(list_sum([(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
                         for i in generate_series(1, len(e.v))])) AS best
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e
    CROSS JOIN (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings WHERE vec_id < {k}) c
    GROUP BY e.vec_id
)""")
    return "\nUNION ALL\n".join(parts)


@query("x8_kmeans_elbow", oracle=_kmeans_elbow_oracle())
def x8_kmeans_elbow(spark, sf_dir):
    """X8 k-means elbow report: total inertia (sum of squared distance to
    the nearest seed centroid) for k in {2, 4, 8, 16} — the model-
    selection curve that picks k before committing to the full Lloyd's
    loop.  ONE broadcast-literal assignment pass (row-local argmin, zero
    shuffle) + a 1-row aggregate: the k=16 seed set is a superset of the
    smaller ones, so the 16 per-seed distances are computed once as named
    columns and each k's nearest-distance is a ``least`` over its prefix
    (the r13 shape — the original one-pass-per-k union scanned the corpus
    4x and evaluated 2+4+8+16=30 interpreted folds per row vs 16 here;
    the per-row distance values, per-partition partial sums, and merge
    order are unchanged, so the sums are bit-identical).  MIN-of-distances
    equals the assigned cluster's distance, so the DuckDB replay matches
    (sequential double folds both sides)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds16 = [v for _, v in _embedding_head(spark, sf_dir, 16)]
    ks = (2, 4, 8, 16)
    dists = [
        F.aggregate(
            F.zip_with(
                F.col("v"),
                F.array(*[F.lit(float(x)) for x in c]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"_d{i}")
        for i, c in enumerate(seeds16)
    ]
    # distances bound to named columns FIRST: each fold evaluates once per
    # row (CollapseProject keeps multi-referenced non-cheap aliases), then
    # the per-k bests are cheap ``least`` calls over the shared columns
    withd = emb.select(*dists)
    agg = withd.agg(
        *[
            F.round(F.sum(F.least(*[F.col(f"_d{i}") for i in range(k)])), 6).alias(
                f"_inertia_{k}"
            )
            for k in ks
        ],
        F.count(F.lit(1)).alias("_n"),
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("k"),
                    F.col(f"_inertia_{k}").alias("inertia"),
                    F.col("_n").alias("n_vecs"),
                )
                for k in ks
            ]
        )
    ).alias("_r")
    return agg.select(rows).select("_r.k", "_r.inertia", "_r.n_vecs")


@query(
    "j10_abandoned_views",
    oracle="""
SELECT v.event_id AS view_id, v.user_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
FROM events v
WHERE v.event_type = 'view'
  AND NOT EXISTS (
      SELECT 1 FROM events c
      WHERE c.user_id = v.user_id
        AND c.event_type = 'click'
        AND c.ts >= v.ts
        AND c.ts <= v.ts + INTERVAL '30 minutes'
  )
""",
)
def j10_abandoned_views(spark, sf_dir):
    """J10 temporal ANTI-join: views never followed by a same-user click
    within 30 minutes — the abandonment/non-conversion complement of the
    x5 attribution interval join.  Expressed as a LEFT ANTI join with the
    (user equi + time range) condition: the equi part keys ONE user_id
    shuffle shared by both sides and the range predicate evaluates
    post-match, so the anti join costs exactly what the inner interval
    join costs — no second pass, no NOT IN re-scan.  The streaming analog
    is the watermark-closed 'no click arrived' timeout of a stateful
    operator."""
    e = _t(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return v.join(c, cond, "left_anti").select(
        "view_id",
        "user_id",
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
    )


@query(
    "x8_hier_assign",
    oracle="""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (
    SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16
),
d AS (
    SELECT e.vec_id, cent.c_id,
           list_sum([(e.v[i] - cent.cv[i]) * (e.v[i] - cent.cv[i])
                     for i in generate_series(1, len(e.v))]) AS dist
    FROM e CROSS JOIN cent
),
ranked AS (
    SELECT vec_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, c_id ASC) AS rn
    FROM d
)
SELECT vec_id, CAST(c_id AS INT) AS cluster
FROM ranked WHERE rn = 1
""",
)
def x8_hier_assign(spark, sf_dir):
    """X8 two-level (IVF-style) assignment, oracle-checked end to end
    (VERDICT r09 item #7): same pinned-centroid semantics as
    x8_kmeans_assign but with 16 fine centroids routed through
    ``assign_clusters_hierarchical`` — coarse quantization of the
    centroid set, per-row cell probing, per-cell candidate folds, and
    the empty-cell exact fallback all execute, with probes == n_coarse
    pinned so the candidate set covers every fine centroid and the
    output is BIT-IDENTICAL to the flat argmin the DuckDB oracle
    computes (same sequential float64 fold, same lowest-index tie
    rule).  This is the scale path SemDeDup dispatches to past
    k=2048 (flat assignment is N x k x dim with k ~ N/125, i.e.
    latent-quadratic; two-level is N x (sqrt(k) + probes*sqrt(k)) x
    dim), exercised here at sf0.01 by parameter override so the
    kernel itself — not just its dispatch — carries a driver hash
    row."""
    from ..operators import clustering

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = [v for _, v in _embedding_head(spark, sf_dir, 16)]
    return clustering.assign_clusters_hierarchical(
        emb, "v", seeds, probes=4, n_coarse=4
    ).select("vec_id", "cluster")
