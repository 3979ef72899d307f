"""Dump formatted physical plans for the headline queries into PLANS.md.

Run: python tools/explain_all.py
The output file is a reviewable artifact: each plan shows the properties
the engine is designed around — PushedFilters/ReadSchema on scans
(pushdown + pruning), BroadcastHashJoin on dimension joins, paired
HashAggregates (map-side partial agg), single Exchanges on the
merge-asof/sessionize paths, TakeOrderedAndProject for top-k.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWN = [
    "q1_pricing_summary",
    "q5_nation_revenue",
    "q10_returned_items",
    "join_asof_last_order",
    "events_sessionize_batch",
    "topk_per_group",
    "orderby_limit_multikey",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "ann_ivf_coarse",
    "tfidf_top_terms",
    "decontam_ngram_overlap",
    "kmeans_assign_seeded",
    "graph_triangle_count",
    "corpus_curation_pipeline",
    "boilerplate_ngram_flag",
    "quality_gopher_rules",
    "simhash_neardup_pairs",
    "graph_pagerank_converged",
    # Round 3: guarded pair generators + trained IVF.
    "dedup_ngram_jaccard",
    "ann_ivf_trained",
    # Round 3 part 2: line-level dedup + zero-shuffle quality scans.
    "dedup_lines_ccnet",
    "pii_redact_scrub",
    "quality_token_entropy",
    # Round 3 part 3: curation operators (curation.py).
    "semdedup_prune",
    "dedup_substring_spans",
    "quality_classifier_hashed",
    "domain_cap_documents",
    "minhash_estimate_accuracy",
    "quality_perplexity_bigram",
    # The rest of the vector family (llm/similarity.py).
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "ann_pq_topk",
    "ann_pq_trained",
    "ann_pq_recall",
    "ann_recall_eval",
    "embedding_neardup_pairs",
    "ann_cosine_quantized",
    # The curation family (llm/curation.py).
    "text_quality_score",
    "dedup_exact_normalized",
    "dedup_keep_best_quality",
    "split_train_val_test",
    "sample_weighted_by_source",
    "corpus_curation_pipeline_v2",
    "corpus_curation_pipeline_v3",
    "corpus_ingest_incremental",
    "dsir_importance_weights",
]


# Parts of a printed plan that differ from run to run of one tree. An RDD's
# call site from Python reads ``<op> at NativeMethodAccessorImpl.java:0`` or
# ``<op> at <unknown>:0`` depending on how the JVM dispatched that call. An
# attribute's ``#id``, an RDD's ``[id]`` and an exchange's ``plan_id`` count
# everything the session has built, which earlier queries move (adaptive
# re-planning, iterations run to convergence).
_PY4J_CALL_SITE = re.compile(r"\b(\w+) at (?:NativeMethodAccessorImpl\.java|<unknown>):0\b")
_SESSION_COUNTERS = (
    re.compile(r"(?<=#)\d+"),
    re.compile(r"(?<=RDD\[)\d+(?=\])"),
    re.compile(r"(?<=\[plan_id=)\d+(?=\])"),
)


def stable_plan(plan: str) -> str:
    """``plan`` with each Python-made RDD's call site cut to its operation
    (``localCheckpoint``) and each session counter renumbered 1, 2, ... in
    order of first appearance, so one tree always gives the same PLANS.md
    and equal ids stay equal."""
    plan = _PY4J_CALL_SITE.sub(r"\1", plan)
    for counter in _SESSION_COUNTERS:
        ids: dict[str, int] = {}
        plan = counter.sub(lambda m: str(ids.setdefault(m.group(), len(ids) + 1)), plan)
    return plan


def main() -> None:
    from mapreducecore_spark.queries import REGISTRY, _load_all
    from mapreducecore_spark.session import default_master, get_spark

    _load_all()
    spark = get_spark(app_name="explain-all", master=default_master())
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.001"

    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Generated by `python tools/explain_all.py` (sf0.001, plans are",
        "size-independent apart from AQE runtime re-optimization).",
        "",
    ]
    for name in SHOWN:
        df = REGISTRY[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n")
        out.append("```")
        out.append(stable_plan(buf.getvalue().rstrip()))
        out.append("```")
        out.append("")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(SHOWN)} plans")


if __name__ == "__main__":
    main()
