#!/usr/bin/env python
"""Regenerate docs/PLANS.md: formatted physical plans of the headline
queries at sf0.01, as reviewable evidence of pushdown/pruning/broadcast/
shuffle behavior (the properties tests/test_plan_quality.py pins).

Each section is stamped with its query's witness fingerprint, so
tests/test_doc_counts.py fails once a query's code moves past the plan
shown here; rerun this script then.

Usage:  python scripts/gen_plans.py"""

from __future__ import annotations

import os
import re

import measure

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", f"{measure.FIXTURES}/sf0.01")
#: a temp dir named in a FileScan location: the queries that write and read
#: back their own files make a fresh, randomly named one per session
TMP_DIR = re.compile(
    r"(?:file:)?/[^\s\[\](),]*?/((?:stream_replay_sink|part_events)_)[a-z0-9_]{8}"
)
#: numbers a session hands out in the order it plans and runs things:
#: expression ids, exchange plan ids, AQE query stages, codegen stages
SESSION_IDS = (r"#(\d+)", r"plan_id=(\d+)", r"QueryStage (\d+)", r"\*\((\d+)\)")


def canonical_plan(plan: str) -> str:
    """``plan`` with its temp dirs replaced by a placeholder and each kind
    of session id renumbered in order of first appearance, so an unchanged
    plan prints the same text in every session."""
    plan = TMP_DIR.sub(r"<tmp>/\1*", plan)
    for pattern in SESSION_IDS:
        ids: dict[str, int] = {}

        def renumber(m: re.Match) -> str:
            n = ids.setdefault(m.group(1), len(ids) + 1)
            start, end = m.span(1)
            return m.string[m.start():start] + str(n) + m.string[end:m.end()]

        plan = re.sub(pattern, renumber, plan)
    return plan

SHOWCASE = [
    "flagship_valid_cohort",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_star_join_revenue",
    "q18_large_orders",
    "a4_argmax_latest_event",
    "asof_last_purchase",
    "x1_minhash_near_dup",
    "x2_cosine_topk",
    "x5_session_windows",
    "flagship_valid_flag_cohort",
    "x1_training_data_prep",
    "x3_vocab_topk",
    "x2_lsh_bucketed_ann",
    # round 2 additions
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_value",
    "q17_small_qty_revenue",
    "q21_waiting_supplier",
    "x6_decontaminate",
    "x6_pack_shards",
    "x3_tfidf_top_terms",
    # round 2 late additions
    "x5_gap_fill_hourly",
    "x5_view_click_attribution",
    "x3_grouped_median",
    "a7_cube_summary",
    "f9_levenshtein_match",
    "x10_cdc_merge",
    "x3_ngram_lm_score",
    # round 2 final additions
    "x5_funnel_steps",
    "x5_retention_cohorts",
    "x3_doc_chunks",
    "x2_quantized_topk",
    "j9_point_in_time",
    "a8_mad_anomaly",
    "x3_quality_threshold_filter",
    "x1_chunk_dedup",
    "x11_incremental_rollup",
    # round 3 additions
    "x1_minhash_portable",
    "x4_media_decode",
    "x6_domain_mixture",
    "x9_zorder_layout",
    "x5_interval_overlap",
    "x12_data_quality",
    "x3_bm25_topk",
    "x2_hybrid_rrf",
    "x3_inverted_index",
    "x11_countmin_freq",
    "x13_salted_agg",
    "x10_snapshot_diff",
    "x3_char_entropy",
    "x8_kmeans_assign",
    "x2_lsh_portable",
    # round 4
    "x3_profile_sketch",
    "x5_stream_curation_replay",
    "x2_pq_encode",
    "x3_zipf_slope",
    "x12_drift_psi",
    "x1_semdedup",
    "x6_curriculum_buckets",
    "x3_gopher_rules",
    "x3_dsir_logweights",
    "x2_pq_adc_topk",
    "x10_scd2_apply",
    "x6_concat_chunks",
    "x2_ivf_pq_ann",
    "x12_partition_completeness",
    "x12_dataset_card",
    "x3_oov_rate",
    "x13_skew_report",
    # round 4b
    "x1_bloom_decontaminate",
    "x2_knn_join",
    "x6_per_key_sample",
    "x3_hashing_features",
    "x1_cdc_chunks",
    "x6_epoch_shuffle",
    "x2_random_projection",
    "x9_curation_v3",
    "x1_incremental_dedup",
    "x3_bpe_pair_counts",
    "x1_minhash_accuracy",
    "x11_running_distinct",
    "x2_mmr_rerank",
    "s24_partition_pruned_read",
    # round 6: the codegen JL-projection twin (one whole-stage span,
    # map-side partial sums) next to the interpreted portable fold above
    "x2_random_projection_fast",
    # round 12/13: the substring-dedup family (finder, scrub, curation
    # chain), the incremental MinHash gate + its store maintenance, and
    # the greedy BPE encode (merges table compiled into the plan)
    "x1_incremental_minhash",
    "x1_duplicated_spans",
    "x1_span_scrub",
    "x9_curation_v4",
    "x1_minhash_store_update",
    "x3_bpe_encode",
]


def main() -> None:
    from etl_for_ecol_fusion_database_spark import registry, witness

    fingerprints = witness.current_fingerprints()
    spark = measure.session("gen-plans", shuffle_partitions=8)
    out = [
        "# Physical plans (generated by scripts/gen_plans.py — do not edit)",
        "",
        f"Scale factor dir: `{SF_DIR}`.  Things to read for: `PushedFilters`",
        "reaching the scans, `ReadSchema` pruned to used columns,",
        "`BroadcastHashJoin` on bounded dimensions, partial/final",
        "`HashAggregate` splits, and exchange counts.",
        "",
    ]
    for name in SHOWCASE:
        df = registry.QUERIES[name](spark, SF_DIR)
        df.collect()  # run df's own plan so AQE finalizes it (count() plans another query)
        plan = canonical_plan(measure.plan_text(df, "executed"))
        out += [f"## {name}", f"Witness fingerprint: `{fingerprints[name]}`", ""]
        out += ["```", plan.rstrip(), "```", ""]
    dest = os.path.join(measure.REPO, "docs", "PLANS.md")
    with open(dest, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {dest} ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
