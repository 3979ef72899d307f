"""Scaling-slope spot bench (VERDICT r2 items 1/2/4): run the heavy-tail
queries at $SPARK_GRAFT_SF_DIR (sf0.1) and at a generated scaled copy
(tools/gen_scaledata.py), print per-query times, the big/small ratio,
and MEASURED shuffle volume (total + peak single stage, metrics.timed)
— so scale claims ride on shuffle bytes, not wall-time alone.

A ratio near the data factor is linear; super-linear ratios flag an
operator whose plan won't survive a further scale-up. The scaled
documents table plants a 30-docs-per-copy exact-dup cluster (3000 docs
at 100x) — the degenerate-bucket case the MinHash/SimHash star-edge
guards bound.

Usage:
  python tools/scale_bench.py [--big DIR] [--factor N] [query ...]
  # 10x:  python tools/scale_bench.py
  # 100x: python tools/scale_bench.py --big _scaledata/sf10 --factor 100
"""

from __future__ import annotations

import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from mapreducecore_spark import metrics  # noqa: E402
from mapreducecore_spark.catalog import DEFAULT_SF_DIR as SMALL  # noqa: E402

HEAVY = [
    "dedup_minhash_lsh",
    "dedup_connected_components",
    "dedup_neardup_keeper",
    "dedup_ngram_jaccard",
    "dedup_lsh_verified_pairs",
    "simhash_neardup_pairs",
    "ann_lsh_bucketed",
    "ann_ivf_trained",
    "corpus_curation_pipeline",
    "basket_part_pairs",
    "tfidf_top_terms",
    "q1_pricing_summary",
    "q5_nation_revenue",
    # Round-3 part-3 curation operators.
    "semdedup_prune",
    "dedup_substring_spans",
    "quality_classifier_hashed",
    "domain_cap_documents",
    "minhash_estimate_accuracy",
    # Round-4 additions: kept-set domain cap (WindowGroupLimit path),
    # newline line dedup, linearized entropy.
    "domain_cap_kept",
    "dedup_lines_newline",
    # Round-5 additions: persisted band index, incremental-vs-index,
    # survivor-trained DSIR pipeline, per-batch ingest composition.
    "dedup_band_index_build",
    "dedup_incremental_persisted",
    "corpus_curation_pipeline_v3",
    "corpus_ingest_incremental",
    "ann_pq_topk",
    "ann_pq_trained",
    "classifier_lr_train",
    "dedup_lines_ccnet",
    "quality_token_entropy",
]


def main() -> None:
    args = sys.argv[1:]
    big = os.path.join(ROOT, "_scaledata", "sf1")
    factor = 10.0
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--big":
            big = args[i + 1]
            i += 2
        elif args[i] == "--factor":
            factor = float(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1
    names = names or HEAVY

    spark = metrics.timing_session("scale-bench")
    # Warm JVM + both catalogs + Python worker pools.
    for sf in (SMALL, big):
        metrics.timed(spark, "q1_pricing_summary", sf)

    out = {}
    for name in names:
        t_small = min(metrics.timed(spark, name, SMALL)["sec"] for _ in range(2))
        first, second = (metrics.timed(spark, name, big) for _ in range(2))
        t_big = min(first["sec"], second["sec"])
        ratio = round(t_big / t_small, 2) if t_small > 0 else None
        # Per-decade slope: linear scaling is 10x per decade of data, so
        # a factor-100 run has two decades -> slope = sqrt(ratio).
        per_decade = (
            round(ratio ** (1.0 / math.log10(factor)), 2)
            if ratio is not None and factor > 1
            else ratio
        )
        out[name] = {
            "small_sec": round(t_small, 2),
            "big_sec": round(t_big, 2),
            f"ratio_{int(factor)}x": ratio,
            "ratio_per_decade": per_decade,
            "shuffle_mb": first["shuffle_mb"],
            "peak_stage_shuffle_mb": first["peak_stage_shuffle_mb"],
        }
        print(
            f"{name:32s} {t_small:6.2f}s -> {t_big:7.2f}s  ratio {ratio}"
            f"  (per-decade {per_decade})  shuffle {first['shuffle_mb']} MB"
            f"  peak-stage {first['peak_stage_shuffle_mb']} MB"
        )
    print(json.dumps({"big_dir": big, "factor": factor, "queries": out}))


if __name__ == "__main__":
    main()
