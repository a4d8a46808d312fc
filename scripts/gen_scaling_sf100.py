#!/usr/bin/env python
"""Generate docs/SCALING_SF100.md: the third-decade scaling panel.

docs/SCALING_SF10.md pins two consecutive measured decades (sf0.1 ->
sf1 -> sf10) for 20 heads; this buys the THIRD (sf10 -> sf100, on the
1000x subset fixture from scripts/gen_sf100.py) for the structurally
riskiest subset — the queries whose pair spaces, bucket occupancies,
or adaptive parameters could secretly grow super-linearly:

- x1_semdedup: adaptive k = N/125 crosses the hierarchical dispatch at
  sf10; sf100 (k = 16000, n_coarse = 127) is deep inside the
  N x sqrt(k) regime the two-level kernel exists for.
- x1_minhash_near_dup: banded LSH self-join — candidate volume must
  track corpus size, not pair space.
- x2_knn_join: derive_n_bits grows the signature with the corpus to
  hold bucket occupancy ~constant; the third decade is where a
  correlated plane family or a stale bucket budget would show.
- x2_cosine_topk / x2_lsh_bucketed_ann: the exact and bucketed ANN
  serving paths (bounded query set, corpus-linear).
- f9_levenshtein_match: prefix blocking with block sizes bounded at
  ~100 regardless of corpus size, plus the REPARTITION_BY_NUM pin
  against AQE byte-coalescing of its compute-heavy probe stage.

Cells are measured in one session after a smoke-scale warm-up; sf1 and
sf10 are re-measured fresh so the ratio columns compare like with like.
A ratio above ~10 per decade flags super-linear work.

Usage: python scripts/gen_scaling_sf100.py  (writes docs/SCALING_SF100.md;
requires .scaling/sf1, .scaling/sf10 and .scaling/sf100 fixtures)
"""

from __future__ import annotations

import datetime
import os

import measure

SF1_DIR = os.path.join(measure.REPO, ".scaling", "sf1")
SF10_DIR = os.path.join(measure.REPO, ".scaling", "sf10")
SF100_DIR = os.path.join(measure.REPO, ".scaling", "sf100")
OUT = os.path.join(measure.REPO, "docs", "SCALING_SF100.md")

PANEL = [
    "x1_semdedup",
    "x1_minhash_near_dup",
    "x2_knn_join",
    "x2_cosine_topk",
    "x2_lsh_bucketed_ann",
    "f9_levenshtein_match",
]


def main() -> None:
    from etl_for_ecol_fusion_database_spark import registry

    for d in (SF1_DIR, SF10_DIR, SF100_DIR):
        if not os.path.isdir(d):
            print(f"missing fixture {d}; run the gen_sf* scripts")
            return

    spark = measure.session("scaling-sf100")

    rows: list[tuple[str, float, float, float]] = []
    for name in PANEL:
        fn = registry.QUERIES[name]
        t1, t10, t100 = (measure.timed_runs(spark, fn, d, 1)[0][0]
                         for d in (SF1_DIR, SF10_DIR, SF100_DIR))
        rows.append((name, t1, t10, t100))
        print(f"{name:32s} sf1={t1:8.2f} sf10={t10:8.2f} sf100={t100:8.2f} "
              f"ratios {t10 / t1:.1f}x {t100 / t10:.1f}x", flush=True)

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%d %H:%M UTC")
    flags = [n for n, a, b, c in rows if b / a > 10 or c / b > 10]
    lines = [
        "# SCALING_SF100 — the third measured decade",
        "",
        f"Generated by `scripts/gen_scaling_sf100.py` on {stamp}.",
        "",
        "Wall time for the structurally riskiest heads across",
        "sf1 -> sf10 -> sf100 (the 1000x subset fixture from",
        "scripts/gen_sf100.py: documents / embeddings / supplier at",
        "1000 structure-preserving replicas).  Together with",
        "docs/SCALING_SF10.md (sf0.1 -> sf1 -> sf10, 20 heads) the",
        "linearity evidence now spans THREE consecutive measured",
        "decades — 1000x measured, 10000x above the sf0.01",
        "correctness scale.  Data grows 10x per step; a ratio above",
        "~10 flags super-linear work.  Single timed run per cell",
        "after a smoke-scale warm-up, machine otherwise idle.",
        "",
        "| query | sf1 s | sf10 s | sf100 s | 1->10 | 10->100 |",
        "|---|---|---|---|---|---|",
    ]
    for name, a, b, c in rows:
        lines.append(
            f"| {name} | {a} | {b} | {c} | {b / a:.1f}x | {c / b:.1f}x |"
        )
    lines += [
        "",
        f"Super-linear flags (either decade > 10x): "
        f"{', '.join(flags) if flags else 'none'}.",
        "",
        "Adaptive parameters at sf100: x1_semdedup runs k = 16000 fine",
        "centroids (n_coarse = 127, probes = 8) through the two-level",
        "hierarchical assignment and the Arrow pair kernel;",
        "x2_knn_join derives its signature width from the 2M-row",
        "corpus footer count (bucket occupancy stays ~constant by",
        "construction); f9 blocks 1M supplier names into 10k",
        "bounded-size prefix blocks.",
        "",
    ]
    with open(OUT, "w") as fh:
        fh.write("\n".join(lines))
    print(f"\nwrote {OUT}; flags: {flags or 'none'}")


if __name__ == "__main__":
    main()
