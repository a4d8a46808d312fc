"""Physical-plan regression tests: the plan *shape* is part of the product.

Each assertion pins a property that matters at 100 TB (SURVEY.md §4 / the
north star): filters reaching the parquet scan, column pruning, broadcast
choice for bounded dimensions, and shuffle counts.  If a refactor silently
turns a broadcast join into a sort-merge join or widens a scan to all
columns, these tests fail even though results stay correct."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from etl_for_ecol_fusion_database_spark import registry
from etl_for_ecol_fusion_database_spark.catalog import load_table


def _final_plan(df) -> str:
    df.count()  # materialize so AQE reaches its final plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_plan_shape(spark, sf_dir):
    plan = _final_plan(registry.QUERIES["flagship_valid_cohort"](spark, sf_dir))
    # the 2-column orders projection must prune the scan
    m = re.search(r"ReadSchema: struct<o_orderkey:bigint,o_orderpriority:string>", plan)
    assert m, "orders scan not pruned to the 2 needed columns"
    # the case_nbr IS NOT NULL filter must be pushed to the orders scan
    assert re.search(r"PushedFilters: \[.*IsNotNull\(o_orderpriority\)", plan)
    # cutoff dim and collisions side are broadcast (bounded build sides)
    assert plan.count("BroadcastHashJoin") >= 2
    # the status log shuffles on collision_id for the join and both window
    # passes reuse it: at most 2 data exchanges before the final sort
    n_shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert n_shuffles <= 3, f"too many shuffles in flagship plan: {n_shuffles}\n{plan}"


def test_q1_filter_pushdown(spark, sf_dir):
    plan = _final_plan(registry.QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # map-side partial aggregation before the shuffle (partial_sum below the
    # Exchange, final above) — the combine that keeps the shuffle tiny
    assert "partial_sum" in plan and plan.count("HashAggregate") >= 2
    assert plan.index("partial_sum") > plan.index("Exchange hashpartitioning")


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _final_plan(registry.QUERIES["q5_star_join_revenue"](spark, sf_dir))
    # nation + region are broadcast; customer may be too at test scale
    assert plan.count("BroadcastHashJoin") >= 2


def test_decode_chain_all_broadcast(spark, sf_dir):
    plan = _final_plan(registry.QUERIES["j6_decode_chain"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_media_meta_scan_prunes_to_text(spark, sf_dir):
    plan = _final_plan(registry.QUERIES["x4_media_meta_summary"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1) == "text:string", (
        f"metadata summary should scan only text, got {m and m.group(1)}"
    )


def test_a4_single_shuffle(spark, sf_dir):
    plan = _final_plan(registry.QUERIES["a4_argmax_latest_event"](spark, sf_dir))
    n_shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert n_shuffles == 1, f"max_by argmax should be one shuffle, got {n_shuffles}"


def test_semi_join_pushes_projection(spark, sf_dir):
    plan = _final_plan(registry.QUERIES["j4_semi_filter"](spark, sf_dir))
    # customer side scans only the 2 columns the semi-join needs
    assert re.search(r"ReadSchema: struct<c_custkey:bigint,c_acctbal:double>", plan)
    assert "LeftSemi" in plan


def test_vocab_topk_plan_shape(spark, sf_dir):
    """Vocabulary top-k: partial count below the shuffle (map-side combine
    over each partition's token multiset) and TakeOrderedAndProject instead
    of a global sort."""
    plan = _final_plan(registry.QUERIES["x3_vocab_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan
    assert plan.index("partial_count") > plan.index("Exchange hashpartitioning")
    n_shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert n_shuffles == 1, f"vocab build should be one shuffle, got {n_shuffles}"


def test_training_data_prep_single_shuffle(spark, sf_dir):
    """The composed curation pipeline computes quality + lang-ID + dedup key
    in one narrow projection — exactly one shuffle (the dedup groupBy)."""
    plan = _final_plan(registry.QUERIES["x1_training_data_prep"](spark, sf_dir))
    n_shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert n_shuffles == 1, f"prep pipeline should be one shuffle, got {n_shuffles}"
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_lsh_signature_uses_codegen_aggregation(spark, sf_dir):
    """Hyperplane signatures must be the explode + per-bit SUM shape
    (HashAggregate, codegen) — not nested interpreted aggregate() folds."""
    from etl_for_ecol_fusion_database_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    sigs = similarity.hyperplane_signatures_df(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")),
        n_bits=8,
    )
    plan = _final_plan(sigs)
    assert "HashAggregate" in plan and "partial_sum" in plan
    assert "aggregate(" not in plan, "interpreted HOF fold crept back in"


def test_window_reuses_join_partitioning(spark, sf_dir):
    """Both flagship window passes run on the collision_id partitioning of
    the join output — no extra exchange between W1 and W2."""
    df = registry.QUERIES["w2_p10_latest_status"](spark, sf_dir)
    plan = _final_plan(df)
    # the tree prints W2 first, W1 deeper; the region between the two Window
    # operators must contain no Exchange (only a local Sort)
    lines = plan.splitlines()
    window_idx = [i for i, l in enumerate(lines) if re.search(r"\bWindow \[", l)]
    assert len(window_idx) == 2, f"expected 2 window passes, got {len(window_idx)}"
    between = lines[window_idx[0] + 1 : window_idx[1]]
    assert not any("Exchange" in l for l in between), (
        "W2 re-rank introduced an extra shuffle; it must reuse W1's partitioning:\n"
        + "\n".join(between)
    )
    # and the whole two-window pipeline rides on <= 2 key shuffles overall
    n_shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_shuffles <= 2, f"too many shuffles: {n_shuffles}"


def test_q6_pure_pushdown_scan(spark, sf_dir):
    """Q6 is the pushdown benchmark: all predicates reach the parquet scan,
    only the needed columns are read, and no data-row shuffle exists (the
    single global agg exchanges one partial row per task)."""
    plan = _final_plan(registry.QUERIES["q6_revenue_delta"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    for pushed in ("l_shipdate", "l_discount", "l_quantity"):
        assert re.search(rf"PushedFilters: \[[^\]]*{pushed}", plan), f"{pushed} not pushed"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(f.split(":")[0] for f in m.group(1).split(","))
    assert cols == ["l_discount", "l_extendedprice", "l_quantity", "l_shipdate"], cols
    assert not re.findall(r"Exchange (?:hash|range)partitioning", plan)


def test_q4_semi_join_slim_build_side(spark, sf_dir):
    """EXISTS decorrelates to a LEFT SEMI join whose build side scans only
    the join key + pushed flag filter."""
    plan = _final_plan(registry.QUERIES["q4_priority_exists"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", plan)
    assert re.search(r"ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>", plan)


def test_hash_split_no_shuffle(spark, sf_dir):
    """The split assignment is a narrow projection — zero exchanges; this is
    what makes it free at 100 TB."""
    from etl_for_ecol_fusion_database_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    plan = _final_plan(sampling.hash_split(docs, "doc_id"))
    assert "Exchange" not in plan, f"hash_split must not shuffle:\n{plan}"


def test_stratified_sample_single_shuffle(spark, sf_dir):
    """Rank + stratum-count windows share one lang partitioning."""
    plan = _final_plan(registry.QUERIES["x6_stratified_sample"](spark, sf_dir))
    n = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert n == 1, f"stratified sample should be one shuffle, got {n}\n{plan}"


def test_scd2_single_shuffle(spark, sf_dir):
    """Change-detection lag and interval-closing lead share one (user_id)
    partitioning — the filter between them preserves partitioning and sort
    order, so no second exchange (and no second sort)."""
    plan = _final_plan(registry.QUERIES["x7_scd2_status_intervals"](spark, sf_dir))
    n = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert n == 1, f"SCD2 derivation should be one shuffle, got {n}\n{plan}"
    assert plan.count("Sort ") <= 1, f"lead window re-sorted:\n{plan}"


def test_subquery_queries_scan_facts_once(spark, sf_dir):
    """The scalar/correlated-subquery TPC-H queries must not re-plan their
    fact-aggregation subtree per branch (Catalyst has no cross-branch CTE
    reuse) — each was rewritten onto a window so lineitem/orders are
    scanned the minimum number of times."""
    expected = {
        "q2_min_cost_supplier": 1,
        "q11_important_value": 1,
        "q15_top_supplier": 1,
        "q17_small_qty_revenue": 1,
        "q21_waiting_supplier": 2,  # one lineitem + one orders
    }
    for name, n in expected.items():
        plan = registry.QUERIES[name](spark, sf_dir)._jdf.queryExecution().simpleString()
        scans = plan.count("lineitem.parquet") + plan.count("orders.parquet")
        assert scans == n, f"{name}: {scans} fact scans (want {n})"


def test_gap_fill_shuffle_budget(spark, sf_dir):
    """Gap fill: hourly agg + spine join + fill window all key on user_id —
    the plan must stay within a small fixed shuffle budget (the per-user
    bounds side is tiny and broadcast/AQE-coalesced), and the user_id
    filter must reach the events scan."""
    plan = _final_plan(registry.QUERIES["x5_gap_fill_hourly"](spark, sf_dir))
    assert re.search(r"PushedFilters: \[.*LessThan\(user_id,20\)", plan), plan[:2000]
    n_shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert n_shuffles <= 4, f"gap-fill plan shuffles too much: {n_shuffles}"


def test_interval_join_single_key_shuffle(spark, sf_dir):
    """The batch interval join shuffles both event sides on user_id only
    (the range predicate evaluates post-join, not as a cartesian)."""
    plan = _final_plan(registry.QUERIES["x5_view_click_attribution"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"PushedFilters: \[.*EqualTo\(event_type,view\)", plan)
    assert re.search(r"PushedFilters: \[.*EqualTo\(event_type,click\)", plan)


def test_levenshtein_block_join_not_cartesian(spark, sf_dir):
    """Fuzzy matching must plan as an equi-join on the block key — the
    levenshtein predicate is a post-join filter, never a nested loop over
    all pairs.  The stream side must also keep its explicit fixed-count
    repartition (REPARTITION_BY_NUM): the relation is tiny in bytes but
    the probe stage explodes ~100 levenshtein evals per row, and AQE's
    bytes-based coalescing collapsed it to ONE partition at sf10 (28 s
    single-threaded of a 30 s cell) before the pin."""
    plan = _final_plan(registry.QUERIES["f9_levenshtein_match"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"REPARTITION_BY_NUM", plan), (
        "f9's explicit repartition(32, blk) is gone — AQE byte-coalescing "
        "will single-thread the levenshtein stage at scale"
    )


def test_cube_single_scan_single_shuffle(spark, sf_dir):
    """CUBE expands grouping sets map-side: one scan of orders, partial
    aggregation below the single exchange."""
    plan = _final_plan(registry.QUERIES["a7_cube_summary"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan  # grouping-set expansion operator
    n_shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert n_shuffles <= 1, f"cube should need one shuffle, got {n_shuffles}"


def test_doc_chunks_zero_shuffle(spark, sf_dir):
    """Chunking must stay a pure narrow transform: one pruned scan, a
    Generate (posexplode), and NO exchange — at 100 TB it runs at scan
    speed with no shuffle barrier."""
    plan = _final_plan(registry.QUERIES["x3_doc_chunks"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Generate posexplode" in plan
    assert re.search(r"ReadSchema: struct<doc_id:bigint,text:string>", plan)


def test_funnel_pushes_step_filters(spark, sf_dir):
    """The single-scan funnel (r13): exactly ONE event scan whose pushed
    filter keeps only the step types, every data shuffle hashes on
    user_id (the single funnel key), and the step recurrence runs as
    user-partitioned window minima — no per-step re-scan, no global
    repartition."""
    plan = _final_plan(registry.QUERIES["x5_funnel_steps"](spark, sf_dir))
    assert "In(event_type, [click,purchase,signup,view])" in plan, plan
    assert len(re.findall(r"Scan parquet", plan)) == 1, plan
    parts = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert parts and all(p == "user_id" for p in parts), parts
    assert len(re.findall(r"\bWindow\b", plan)) >= 4, plan


def test_point_in_time_single_key_shuffle(spark, sf_dir):
    """The SCD2 derivation and the interval join share ONE user_id hash
    partitioning; the fact-side event_type filter reaches the scan."""
    plan = _final_plan(registry.QUERIES["j9_point_in_time"](spark, sf_dir))
    assert "EqualTo(event_type,purchase)" in plan
    assert "In(event_type, [click,view])" in plan
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 1, f"expected the one SCD2 user_id shuffle, got {n}\n{plan}"


def test_quantized_topk_broadcasts_queries(spark, sf_dir):
    """Scoring is the Arrow batch kernel with the bounded query matrix in
    the closure (round 13 — no join at all for scoring; the earlier
    BroadcastNestedLoopJoin evaluated every quantize/dot fold interpreted
    per pair); the corpus never shuffles before the one q_id ranking
    exchange, and no row-at-a-time Python node may appear."""
    plan = _final_plan(registry.QUERIES["x2_quantized_topk"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 1, plan


def test_bm25_query_term_filter_reaches_scan(spark, sf_dir):
    """The query-term isin filter must apply before the tf aggregation (the
    full vocabulary never shuffles) and df/avgdl enter via broadcast."""
    plan = _final_plan(registry.QUERIES["x3_bm25_topk"](spark, sf_dir))
    assert "In(token" in plan or "token#" in plan  # filter present post-explode
    assert "BroadcastExchange" in plan
    # top-k must be TakeOrderedAndProject, not a global Sort
    assert "TakeOrderedAndProject" in plan


def test_curation_v2_shuffle_budget(spark, sf_dir):
    """The deduplicated survivors relation is persisted and BOTH mixture
    consumers (domain counts and the final keyed join) must read the
    cache — the fingerprint shuffle runs once, not once per consumer;
    rates enter broadcast.  (Exchange text-counting is meaningless here:
    each InMemoryTableScan prints the cached subtree's plan again.)"""
    plan = _final_plan(registry.QUERIES["x9_curation_v2"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert plan.count("InMemoryTableScan") >= 2, "survivors cache not reused"


def test_zorder_assignment_is_narrow(spark, sf_dir):
    """The Morton assignment is a pure projection: NO exchange of any
    kind in the plan."""
    plan = _final_plan(registry.QUERIES["x9_zorder_layout"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_pq_encode_zero_shuffle(spark, sf_dir):
    """PQ encoding must be one scan wide: codebooks are literals, the
    per-subspace assignments union at plan level — NO exchange anywhere."""
    plan = _final_plan(registry.QUERIES["x2_pq_encode"](spark, sf_dir))
    assert "Exchange" not in plan, f"pq_encode shuffles:\n{plan[:1500]}"


def test_profile_sketch_percentiles_avoid_expand(spark, sf_dir):
    """No count-distinct Expand ANYWHERE in the plan (r13: each exact
    distinct is its own single-distinct aggregate, so
    RewriteDistinctAggregates never fires — row multiplication gone
    entirely), and the percentile/sketch buffers stay in separate 1-row
    aggregates recombined via broadcast cross join (the r04/r11 splits:
    28s -> 6.5s, then 5.4s -> 3.3s at sf0.1)."""
    plan = _final_plan(registry.QUERIES["x3_profile_sketch"](spark, sf_dir))
    assert "Expand" not in plan, "a distinct-aggregate rewrite re-introduced Expand"
    assert "BroadcastNestedLoopJoin" in plan  # 1-row x 1-row recombine
    # the percentile aggregates sit in a broadcast subtree, separate from
    # the cardinality aggregates
    assert plan.index("percentile(") > plan.index("BroadcastExchange"), (
        "percentile subtree not separated from the count-distinct side"
    )


def test_drift_psi_single_scan_tiny_shuffle(spark, sf_dir):
    """PSI report: ONE orders scan, one 10-bin aggregation shuffle, totals
    from a bounded window over the aggregated bins — no second pass over
    the fact table (a separate totals aggregate re-planned the subtree and
    re-scanned orders)."""
    plan = _final_plan(registry.QUERIES["x12_drift_psi"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, "orders scanned more than once"
    assert "Window" in plan  # totals via the post-agg window


def test_zipf_slope_head_is_bounded(spark, sf_dir):
    """The vocabulary head must be a TakeOrderedAndProject (top-1000), so
    the global rank window downstream runs over a bounded relation."""
    plan = _final_plan(registry.QUERIES["x3_zipf_slope"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, f"head not TakeOrdered:\n{plan[:1500]}"


def test_ngram_lm_model_is_capped_takeordered(spark, sf_dir):
    """The round-4 vocabulary cap: the broadcast LM build side must plan as
    a TakeOrderedAndProject (top-4096), bounding it at any corpus size."""
    plan = _final_plan(registry.QUERIES["x3_ngram_lm_score"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # model still broadcasts to scoring


def test_gopher_rules_zero_shuffle_pruned_scan(spark, sf_dir):
    """Round-4 X3k: the Gopher rule report is a single narrow projection —
    no exchange of any kind, scan pruned to (doc_id, text)."""
    plan = _final_plan(registry.QUERIES["x3_gopher_rules"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string" in plan


def test_dsir_bucket_table_broadcasts(spark, sf_dir):
    """Round-4 X3l: the 256-row log-ratio table joins back to the bigram
    stream as a BROADCAST hash join (never a data-sized shuffle), and the
    bigram-totals cross is a 1-row BNLJ."""
    plan = _final_plan(registry.QUERIES["x3_dsir_logweights"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("BroadcastNestedLoopJoin") == 1
    # bucket agg + per-doc agg + the doc-keyed result join: <= 4 data shuffles
    assert plan.count("Exchange hashpartitioning") <= 4


def test_pq_adc_windowgrouplimit_and_bounded_bnlj(spark, sf_dir):
    """Round-4 X2f: the per-query rank must be optimizer-capped
    (WindowGroupLimit partial+final), the 10-row distance table is the only
    BNLJ, and the whole search costs <= 2 data shuffles (code pivot +
    per-query rank)."""
    plan = _final_plan(registry.QUERIES["x2_pq_adc_topk"](spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 1
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan


def test_scd2_apply_history_consumed_once(spark, sf_dir):
    """Round-4 X7b: the tagged history materializes once (localCheckpoint)
    and feeds both the pass-through and the replayed-open-rows branches —
    the events parquet is scanned ONCE and only the bounded mini-log
    re-derivation windows over batch keys remain live."""
    plan = _final_plan(registry.QUERIES["x10_scd2_apply"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("ExistingRDD") >= 1  # the checkpointed tagged history


def test_partition_completeness_aggregates_before_spine_join(spark, sf_dir):
    """Round-4 X12f: the fact table must reduce to per-day rows BEFORE any
    join — the spine join and the mean-volume cross operate on day-count-
    sized relations only (one data-sized shuffle total)."""
    plan = _final_plan(registry.QUERIES["x12_partition_completeness"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2
    # events scan pruned to the timestamp column only
    assert "ReadSchema: struct<ts:timestamp" in plan


def test_dataset_card_two_keyed_shuffles(spark, sf_dir):
    """Round-4 X12g: one text-keyed dup-group aggregation + one per-lang
    rollup — both with map-side partial aggregation; no window, no BNLJ."""
    plan = _final_plan(registry.QUERIES["x12_dataset_card"](spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# round 4b
# ---------------------------------------------------------------------------


def test_bloom_filter_probes_are_broadcast(spark, sf_dir):
    """The Bloom membership probes must be broadcast joins (the whole point
    — the filter ships to executors; benchmark grams never shuffle), and
    the only data exchange is the final per-doc aggregation."""
    plan = _final_plan(registry.QUERIES["x1_bloom_decontaminate"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_knn_join_bucket_equi_join_no_cartesian(spark, sf_dir):
    """The kNN self-join must be an equi-join on the bucket id (the
    structural bound on the pair space) with the top-k window group-limited."""
    plan = _final_plan(registry.QUERIES["x2_knn_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_per_key_sample_single_shuffle_grouplimit(spark, sf_dir):
    plan = _final_plan(registry.QUERIES["x6_per_key_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    n_shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert n_shuffles == 1, f"per-key sample should shuffle once\n{plan}"


def test_cdc_chunks_fold_witness_span_window_is_slim(spark, sf_dir):
    """The fold witness (``kernel="fold"``, the ANSI/oracle-replayable
    shape) must partition the span window by id over slim (id, p) cut rows
    — never carry the document text (quadratic shuffle bytes) — and the
    text re-attaches through exactly one join."""
    from etl_for_ecol_fusion_database_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    rows = dedup.cdc_chunk_rows(docs, "doc_id", "text", kernel="fold")
    plan = _final_plan(rows)
    # the window's input exchange carries no text column
    m = re.search(r"Exchange hashpartitioning\(id#\d+L", plan)
    assert m, plan
    assert "WindowGroupLimit" not in plan  # plain lead/row_number window
    # boundary detection posexplodes the per-doc position-hash array into
    # slim (i, h) long rows — the Generate must carry only the doc id, not
    # the text or a char array (O(len²) per-row copies otherwise)
    m = re.search(r"Generate posexplode\([^\n]*\), \[id#\d+L\]", plan)
    assert m, plan


def test_cdc_chunks_auto_path_is_one_pass_arrow(spark, sf_dir):
    """The production path (``kernel="auto"`` with numpy/pandas/pyarrow
    present) is the one-pass Arrow kernel: scan → mapInPandas → project.
    Chunk extraction itself must be zero-shuffle (all work is row-local per
    doc), and the registered ``x1_cdc_chunks`` dedup on top of it must add
    exactly one exchange — the chunk-hash aggregation."""
    from etl_for_ecol_fusion_database_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    rows_plan = _final_plan(dedup.cdc_chunk_rows(docs, "doc_id", "text"))
    assert "MapInPandas" in rows_plan, rows_plan
    assert "Exchange" not in rows_plan, f"chunking must be narrow\n{rows_plan}"
    # no remnant of the fold DAG on the auto path
    assert "Generate posexplode" not in rows_plan
    assert "Window" not in rows_plan

    dedup_plan = _final_plan(registry.QUERIES["x1_cdc_chunks"](spark, sf_dir))
    assert "MapInPandas" in dedup_plan, dedup_plan
    # countDistinct(id) expands to Spark's two-phase distinct aggregate:
    # partial on (chunk_hash, id) → exchange → merge → exchange on
    # chunk_hash.  Both exchanges carry slim aggregate rows, never text.
    n_shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", dedup_plan))
    assert n_shuffles <= 2, f"cdc dedup grew extra shuffles\n{dedup_plan}"


def test_epoch_shuffle_no_global_data_window(spark, sf_dir):
    """The only single-partition exchange may feed the 64-row range-totals
    window; the full relation must rank inside hash-range partitions."""
    plan = _final_plan(registry.QUERIES["x6_epoch_shuffle"](spark, sf_dir))
    assert plan.count("Exchange SinglePartition") <= 1
    assert re.search(r"Exchange hashpartitioning\(_rng", plan), plan


def test_random_projection_zero_shuffle(spark, sf_dir):
    plan = _final_plan(registry.QUERIES["x2_random_projection"](spark, sf_dir))
    assert "Exchange" not in plan, f"projection must be narrow\n{plan}"


def test_hashing_features_single_aggregation_exchange(spark, sf_dir):
    plan = _final_plan(registry.QUERIES["x3_hashing_features"](spark, sf_dir))
    n_shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert n_shuffles == 1, f"hashing trick should shuffle once\n{plan}"
    assert "partial_count" in plan  # map-side combine before the exchange


def test_partition_pruned_read_prunes_to_one_day(spark, sf_dir):
    """The day predicate must resolve to PartitionFilters (planning-time
    directory pruning), never a post-scan filter over all partitions."""
    plan = _final_plan(registry.QUERIES["s24_partition_pruned_read"](spark, sf_dir))
    assert re.search(r"PartitionFilters: \[[^\]]*day", plan), plan


def test_knn_join_plan_construction_runs_no_spark_jobs(spark, sf_dir):
    """Round 7 (round-5/6 ADVICE): x2_knn_join's adaptive signature width
    now comes from parquet footer metadata (catalog.table_row_count), not
    an eager count() job — plan rendering must be side-effect-free.  Table
    loads read their schemas from parquet footers on the driver
    (catalog.read_parquet), so construction runs no Spark job at all."""
    from etl_for_ecol_fusion_database_spark.registry_ext import q14_r4b_scale

    q14_r4b_scale._KNN_CORPUS_COUNT.clear()

    before = _job_names(spark)
    df = registry.QUERIES["x2_knn_join"](spark, sf_dir)
    # force full physical planning without execution
    df._jdf.queryExecution().executedPlan().toString()
    new = _job_names(spark) - before
    assert not new, f"plan construction ran Spark jobs: {sorted(new)}"


def _job_names(spark) -> set[tuple[int, str]]:
    jl = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return {(jl.apply(i).jobId(), str(jl.apply(i).name())) for i in range(jl.size())}


def test_cosine_topk_build_runs_one_job(spark, sf_dir):
    """Building x2_cosine_topk collects its query vectors, the Arrow
    kernel's closure, in one job: they are sorted on the driver, where a
    Spark ``orderBy`` would add a range-sampling job and a shuffle."""
    before = _job_names(spark)
    df = registry.QUERIES["x2_cosine_topk"](spark, sf_dir)
    new = _job_names(spark) - before
    assert len(new) == 1, f"x2_cosine_topk build ran {len(new)} jobs: {sorted(new)}"
    assert df.count() > 0


def test_table_row_count_matches_spark_count(spark, sf_dir):
    from etl_for_ecol_fusion_database_spark.catalog import table_row_count

    for tbl in ("embeddings", "documents", "nation"):
        assert table_row_count(sf_dir, tbl) == load_table(spark, sf_dir, tbl).count()


def test_table_row_count_skips_hidden_and_staging_files(tmp_path):
    """ADVICE r07: footer counting must ignore '.'/'_'-prefixed files and
    dirs (aborted-write staging debris) exactly as Spark readers do —
    otherwise a leftover '.part-….parquet' inflates knn_join's derived
    signature width."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_for_ecol_fusion_database_spark.catalog import table_row_count

    tdir = tmp_path / "t.parquet"
    tdir.mkdir()
    pq.write_table(pa.table({"a": list(range(7))}), tdir / "part-0.parquet")
    shutil.copy(tdir / "part-0.parquet", tdir / ".part-1.parquet")
    shutil.copy(tdir / "part-0.parquet", tdir / "_committed.parquet")
    staging = tdir / "_temporary"
    staging.mkdir()
    shutil.copy(tdir / "part-0.parquet", staging / "part-2.parquet")
    assert table_row_count(str(tmp_path), "t") == 7


def test_sort_free_banded_joins(spark, sf_dir):
    """Round-9 rewrite pin: every banded/bucketed/blocked self-join and
    big-meets-small-candidate verify join runs as a sort-free
    ShuffledHashJoin — small matched groups (capped band buckets,
    ~target_bucket_rows per hyperplane bucket, 16-bit simhash blocks,
    near-unique FK keys) never justify SortMergeJoin's O(n log n) sorts
    of corpus-sized inputs.  Measured at the sf10 decade: 3.7x on the
    MinHash band join; a Spark upgrade or refactor that silently reverts
    any of these to SMJ fails here."""
    # minimum hinted-SHJ count per query; SMJ is allowed ONLY on
    # candidate-sized relations (minhash's final cand-joins-inter left
    # join), never on a corpus-sized input — pinned via the SHJ floor
    for name, min_shj, max_smj in (
        ("x1_minhash_near_dup", 3, 1),
        ("x2_knn_join", 2, 0),
        ("x1_simhash_near_pairs", 1, 0),
        # round 10: prefix-blocked levenshtein self-join (blocks <= 100
        # rows; candidates exactly 100/row at every SF — the 9.9x sf10
        # decade ratio was the two corpus sorts)
        ("f9_levenshtein_match", 1, 0),
    ):
        plan = _final_plan(registry.QUERIES[name](spark, sf_dir))
        n_shj = plan.count("ShuffledHashJoin")
        n_smj = plan.count("SortMergeJoin")
        assert n_shj >= min_shj, f"{name}: hint lost ({n_shj} SHJ)\n{plan[:500]}"
        assert n_smj <= max_smj, f"{name}: SMJ crept back ({n_smj})"


def test_data_quality_fk_check_never_broadcasts_fact_parent(spark, sf_dir):
    """Round-9 sf10 audit: x12_data_quality's FK orphan check joins
    lineitem against ORDERS keys — a fact-sized parent whose forced
    broadcast is the referential_check docstring's own documented OOM
    hazard at scale.  Pin the declined broadcast: the anti-join must be
    the hinted shuffled-hash path, with no forced-broadcast of the
    parent keys and no sort."""
    plan = _final_plan(registry.QUERIES["x12_data_quality"](spark, sf_dir))
    assert re.search(r"ShuffledHashJoin .*LeftAnti", plan), plan[:600]
    assert "SortMergeJoin" not in plan


def test_minhash_width_pins_are_noops_at_small_corpus(spark, sf_dir):
    """The corpus-derived SHJ-bounding pins (operators/dedup.
    minhash_lsh_pairs corpus_count) must only fire when the derived width
    EXCEEDS the session shuffle width: at small corpora the explicit
    REPARTITION_BY_NUM exchange would be pure overhead, and a refactor
    that makes the pins unconditional silently taxes every small-scale
    run.  Conversely a forced-large corpus_count MUST plant the pins —
    they are the sf100 OOM fix (un-spillable SHJ builds grow corpus-linear
    at fixed partition count)."""
    from etl_for_ecol_fusion_database_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # small corpus: derived widths (ceil(n*64/262144), ceil(n*8/262144))
    # land at or under the session default -> both pins must be absent
    small = dedup.minhash_lsh_pairs(
        docs, n=2, num_hashes=32, n_bands=8, threshold=0.4, corpus_count=100
    )
    plan_small = small._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" not in plan_small, (
        "minhash width pins fired at a 100-doc corpus — the pins must be "
        "no-ops when the derived width <= the session shuffle width"
    )

    # forced-large corpus: both the band join and the verify join must be
    # explicitly width-pinned (REPARTITION_BY_NUM survives AQE coalescing)
    big = dedup.minhash_lsh_pairs(
        docs, n=2, num_hashes=32, n_bands=8, threshold=0.4,
        corpus_count=50_000_000,
    )
    plan_big = big._jdf.queryExecution().optimizedPlan().toString()
    n_pins = len(set(re.findall(r"RepartitionByExpression \[\w+", plan_big)))
    # band pin (band_idx, band_hash) on both self-join sides + verify pin
    # (id, shingle-hash) on both verify sides -> >= 2 DISTINCT pin keys
    assert n_pins >= 2, (
        f"expected band + verify width pins at a 50M-doc corpus, found "
        f"{n_pins} distinct RepartitionByExpression keys\n{plan_big[:800]}"
    )


def test_single_extraction_barriers_hold(spark, sf_dir):
    """Round-11 fix pins: dsir / oov / count-min each tokenize the corpus
    EXACTLY ONCE into a lineage-barriered (localCheckpoint) relation that
    both downstream consumers read back as an RDD scan.  If a refactor
    drops the barrier, each consumer becomes its own parquet subtree and
    the extraction work doubles (the regression the noop-sink bench
    exposed: dsir 2.36s -> 0.57s at sf0.1 with the barrier)."""
    cases = {
        # name -> (max parquet scans in the final plan, min RDD scans)
        # dsir's one allowed parquet scan is the slim id-only projection
        # on the final left join; the extraction itself must be hidden
        # behind the checkpoint
        "x3_dsir_logweights": (1, 2),
        "x3_oov_rate": (0, 2),
        "x11_countmin_freq": (0, 2),
    }
    for name, (max_parquet, min_rdd) in cases.items():
        df = registry.QUERIES[name](spark, sf_dir)
        plan = _final_plan(df)
        n_parquet = plan.count("Scan parquet")
        n_rdd = plan.count("Scan ExistingRDD")
        assert n_parquet <= max_parquet, (
            f"{name}: {n_parquet} parquet scans — the extraction barrier "
            f"is gone and the corpus is being re-tokenized per consumer"
        )
        assert n_rdd >= min_rdd, (
            f"{name}: only {n_rdd} RDD scans — expected both consumers "
            f"to read the checkpointed extraction"
        )

def test_extraction_barrier_persist_mode(spark, sf_dir):
    """operators/barrier.extraction_barrier(mode='persist') — the
    fault-tolerant barrier for preemptible fleets (DISK_ONLY persist keeps
    lineage, so a lost executor recomputes instead of failing the query) —
    must keep values identical to the default localCheckpoint barrier and
    still evaluate the extraction once: both consumers read the cached
    relation instead of their own parquet subtree."""
    from etl_for_ecol_fusion_database_spark.operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    pred = F.col("doc_id") % 3 == 0
    local = sorted(map(tuple, text_ops.dsir_logweights(docs, pred).collect()))
    persisted = text_ops.dsir_logweights(docs, pred, barrier="persist")
    try:
        plan = _final_plan(persisted)
        # both consumers read the DISK_ONLY cache.  (Unlike localCheckpoint,
        # persist KEEPS lineage — that is its fault-tolerance — so the plan
        # text still displays the extraction subtree inside each
        # InMemoryRelation definition; the cached scan nodes are the pin.)
        assert plan.count("InMemoryTableScan") >= 2, plan
        assert "StorageLevel(disk" in plan, plan
        assert sorted(map(tuple, persisted.collect())) == local
    finally:
        spark.catalog.clearCache()

def test_incremental_minhash_single_extraction_equi_join(spark, sf_dir):
    """x1_incremental_minhash (round 12): both signature relations are
    extracted ONCE behind barriers (each feeds the band projection AND the
    candidate-scoring join — without the barrier Catalyst re-runs the
    shingle/hash extraction per consumer), the candidate space is bounded
    by the band EQUI-join (never batch x corpus), and no shingle
    re-extraction survives into the final plan."""
    plan = _final_plan(registry.QUERIES["x1_incremental_minhash"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # 2 barriers x 2 consumers
    assert plan.count("Scan ExistingRDD") >= 4, plan
    # the shingle extraction (array_distinct over the bigram transform)
    # must be hidden behind the barriers, not inlined per consumer
    assert "array_distinct" not in plan, plan

def test_duplicated_spans_slim_rows_keyed_shuffles(spark, sf_dir):
    """x1_duplicated_spans (round 12): every exchange is keyed (gram agg,
    optional join, per-doc islands window), the pair machinery is
    join-based — never a cartesian or a count-over-window that would
    buffer a hot gram's whole partition group — and the production auto
    path hashes positions in the Arrow kernel (the fold witness's
    posexplode Generate must carry only the doc id, never text/char
    arrays: O(len²) row copies otherwise)."""
    from etl_for_ecol_fusion_database_spark.operators import dedup

    plan = _final_plan(registry.QUERIES["x1_duplicated_spans"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange SinglePartition") == 0, plan
    assert "MapInPandas" in plan, plan

    docs = load_table(spark, sf_dir, "documents")
    fold_plan = _final_plan(dedup.duplicated_spans(docs, kernel="fold"))
    assert "CartesianProduct" not in fold_plan
    m = re.search(r"Generate posexplode\([^\n]*?\), \[(\w+)#\d+L?\]", fold_plan)
    assert m and m.group(1) == "id", f"Generate must carry only the id\n{fold_plan}"


def test_literal_tables_are_jvm_local_relations(spark, sf_dir):
    """Driver-local literal tables (the flagship family's cutoff dim, the
    x5 dimension, the PQ distance/probe tables) must plan as a JVM
    ``LocalTableScan``: a ``createDataFrame(list)`` Python-RDD scan would
    fork Python workers in otherwise JVM-only plans just to broadcast a
    few literals (catalog.local_relation)."""
    for name in (
        "flagship_valid_cohort",
        "fusion_etl_collisions",
        "x5_enriched_events",
        "x2_pq_adc_topk",
    ):
        plan = _final_plan(registry.QUERIES[name](spark, sf_dir))
        assert "LocalTableScan" in plan, f"{name}: literal table is not a LocalTableScan\n{plan}"
        assert "applySchemaToPythonRDD" not in plan and "Scan ExistingRDD" not in plan, (
            f"{name}: plan still scans a Python RDD\n{plan}"
        )
