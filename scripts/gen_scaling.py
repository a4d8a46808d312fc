#!/usr/bin/env python
"""Generate docs/SCALING.md: per-query wall times across scale factors.

Runs every bench headline query at sf0.001 / sf0.01 / sf0.1 in ONE Spark
session and reports the sf0.01->sf0.1 time ratio next to the 10x data-growth
factor.  A query whose ratio is far above the data growth is scaling
super-linearly — the regression signal the 100 TB posture cares about
(quadratic candidate generation, unpruned scans, driver-side work).

Round 8 adds the sf1 decade (VERDICT r07 item #1): the most expensive /
highest-ratio queries get one more 10x step, measured on the derived
``.scaling/sf1`` fixture (``scripts/gen_sf1.py`` — deterministic key
offsets + per-replica letter rotation + hash-regenerated embeddings, so
dedup/ANN pair spaces scale like real data instead of degenerating).
sf0.1 and sf1 cells for those queries are median-of-3 (the ratio is the
evidence; single runs carry ±0.5 s noise on the embedding-heavy heads);
every cell follows ``measure.timed_runs``'s smoke-scale warm-up.

Usage: python scripts/gen_scaling.py   (writes docs/SCALING.md)
"""

from __future__ import annotations

import datetime
import os

import measure

SFS = ["0.001", "0.01", "0.1"]
SF1_DIR = os.path.join(measure.REPO, ".scaling", "sf1")

#: the sf1 decade panel — the queries whose 0.01->0.1 ratios looked
#: super-linear (fixed overhead no longer explains them) plus the most
#: expensive heads (VERDICT r07 "Next round" #1).
SF1_QUERIES = [
    "x1_semdedup",
    "x1_cdc_chunks",
    "x2_random_projection",
    "x2_knn_join",
    "x3_bpe_pair_counts",
    "x3_hashing_features",
    "x2_ivf_pq_ann",
    "x3_ngram_lm_score",
    "x1_minhash_near_dup",
    "x1_minhash_accuracy",
    "x9_curation_v3",
    "x3_profile_sketch",
    "x1_dup_clusters",
    "x2_index_persist",
    # round-8 widening: the remaining expensive heads / structurally
    # interesting shapes take the decade test too
    "x8_kmeans_clusters",
    "x8_kmeans_elbow",
    "x2_pq_adc_topk",
    "x2_quantized_topk",
    "x1_minhash_portable",
    "x2_lsh_bucketed_ann",
    "x1_training_data_prep",
    "x2_hybrid_rrf",
    "x2_cosine_topk",
    "x5_stream_curation_replay",
    # round-9 widening (VERDICT r08 item #2): every query whose
    # 0.01->0.1 step ratio was >= 2.0 but had no sf1 cell — exactly the
    # overhead-masked shapes where the x1_semdedup-class blowups hide
    "x3_quality_threshold_filter",
    "x6_decontaminate",
    "x3_inverted_index",
    "x3_tfidf_top_terms",
    "x12_data_quality",
    "x7_scd2_status_intervals",
    "f9_levenshtein_match",
]


def _timed(fn, spark, sf_dir: str, runs: int = 1) -> float:
    return measure.median(measure.timed_runs(spark, fn, sf_dir, runs)[0])


def main() -> None:
    from bench import HEADLINE
    from etl_for_ecol_fusion_database_spark import registry

    spark = measure.session("scaling")

    have_sf1 = os.path.isdir(SF1_DIR)
    sf1_panel = [n for n in SF1_QUERIES if n in registry.QUERIES]
    names = list(HEADLINE) + [n for n in sf1_panel if n not in HEADLINE]

    rows: list[tuple[str, dict[str, float]]] = []
    for name in names:
        fn = registry.QUERIES.get(name)
        if fn is None:
            continue
        in_panel = have_sf1 and name in sf1_panel
        per_sf: dict[str, float] = {}
        for sf in SFS:
            runs = 3 if (in_panel and sf == "0.1") else 1
            per_sf[sf] = _timed(fn, spark, f"/root/testdata/sf{sf}", runs)
        if in_panel:
            per_sf["1"] = _timed(fn, spark, SF1_DIR, runs=3)
        rows.append((name, per_sf))
        print(name, per_sf, flush=True)

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    out = [
        "# SCALING — per-query wall time vs scale factor",
        "",
        f"Generated by `scripts/gen_scaling.py` on {stamp}.",
        "",
        "Data grows 10x per step; each `->` column is the time ratio over",
        "that step.  Ratios well under 10 mean fixed overhead (scheduling,",
        "codegen) still dominates at these sizes; ratios ABOVE ~10 flag",
        "super-linear work that would not survive 100 TB.",
        "",
        "The sf1 column (fixture: `.scaling/sf1`, 10x sf0.1, derived by",
        "`scripts/gen_sf1.py` with distinct-per-replica text/embeddings so",
        "dedup/ANN workloads don't degenerate) covers the panel of the most",
        "expensive / highest-ratio queries; those cells and their sf0.1",
        "cells are median-of-3, everything else is a single timed run in",
        "one warm session (each cell after a smoke-scale warm-up run).",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | 0.01->0.1 | sf1 s | 0.1->1 |",
        "|---|---|---|---|---|---|---|",
    ]
    flagged: list[str] = []
    for name, per_sf in rows:
        r1 = per_sf["0.1"] / per_sf["0.01"] if per_sf["0.01"] else float("nan")
        if "1" in per_sf:
            r2 = per_sf["1"] / per_sf["0.1"] if per_sf["0.1"] else float("nan")
            sf1_cell, r2_cell = f"{per_sf['1']}", f"{r2:.1f}x"
            if r2 > 10:
                flagged.append(name)
        else:
            sf1_cell, r2_cell = "—", "—"
        out.append(
            f"| {name} | {per_sf['0.001']} | {per_sf['0.01']} | {per_sf['0.1']} "
            f"| {r1:.1f}x | {sf1_cell} | {r2_cell} |"
        )
    out.append("")
    if have_sf1:
        out.append(
            "Super-linear flags at the sf1 decade (ratio > 10x): "
            + (", ".join(f"`{n}`" for n in flagged) if flagged else "none")
            + "."
        )
        out.append("")
        out.append(
            "Known on-the-line entry: `x2_random_projection` is the"
            " deliberately-INTERPRETED ANSI-replayable witness (per-row"
            " higher-order-function folds, zero amortizable overhead), so"
            " its true decade ratio is exactly 10x and single-session"
            " noise flips it across the flag line (9.5x / 10.1x on"
            " consecutive round-9 sessions).  The production path is"
            " `x2_random_projection_fast` — same math, whole-stage"
            " codegen, bit-identical output, ~12x faster and"
            " overhead-dominated (1.2x step ratio)."
        )
        out.append("")
    with open(os.path.join(measure.REPO, "docs", "SCALING.md"), "w") as f:
        f.write("\n".join(out))
    print("\n".join(out[-6:]))
    spark.stop()


if __name__ == "__main__":
    main()
