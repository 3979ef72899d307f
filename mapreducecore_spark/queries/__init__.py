"""Query registry: every operator from SURVEY.md §2 as a named query.

Each entry pairs a Spark DataFrame program with (where SQL-expressible)
an equivalent DuckDB oracle SQL string over the same parquet tables.
The driver hash-compares the two at sf0.01 (CORRECTNESS_r{N}.json);
tests/test_oracle_parity.py does the same comparison at sf0.001.

Determinism rules every query follows so the cross-engine value-hash
matches:
- every computed column is aliased identically in Spark and SQL;
- money/quantity aggregates are summed in DECIMAL(18,2) (exact,
  order-independent) then cast to DOUBLE — never raw double sums whose
  low bits depend on reduction order;
- timestamps in outputs are formatted to strings (second precision);
- window/rank queries order by a key set that is provably total
  (no ties), so ranks are engine-independent.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


# The external driver verifies queries in dict order and has a bounded
# window (~50 entries / round). Emit the registry in an explicit
# priority order so the window always covers the flagship LLM-pipeline
# operators (dedup/ANN) and live streaming; everything else follows in
# registration order (_load_all's module order).
# ROUND-12 ROTATION (VERDICT r11 #6, deferred from r10 #1): exactly 50
# names, counted by tests/test_registry_window.py. Composition: 5
# flagship keepers; all 15 stream_live entries (every one is touched
# this round: _drain's state width 8->4 and explicit tmpfs checkpoint
# reach every drain consumer, the two sink queries share
# _stream_scratch, and the wm/cdc re-lays were restructured); and all
# 30 remaining entries whose newest driver-green attestation is r4/r5
# (staleness computed from CORRECTNESS_r01-r11; the two r4s deferred at
# r10 — dedup_exact_normalized, doc_fingerprint — lead the stale set).
# Rotated OUT are r10's 37 r4-stale refreshes (now r11-green) and the
# minhash scorer family (r11-green; this round's reclaim()/spread()
# edits are I/O-timing-only and width-rounding that provably leaves
# sf0.01 plans byte-identical — the sf0.001 oracle-parity suite still
# covers all 227 oracle-backed entries every round).
_PRIORITY: tuple[str, ...] = (
    "dedup_minhash_lsh",
    "dedup_neardup_keeper",
    "ann_lsh_bucketed",
    "dedup_exact",
    "ann_cosine_topk",
    "stream_live_tumbling_counts",
    "stream_live_user_totals",
    "stream_live_dedup_totals",
    "stream_live_tws_distinct_types",
    "stream_live_append_watermark",
    "stream_live_session_append",
    "stream_live_foreachbatch_sink",
    "stream_live_enrich_static",
    "stream_live_interval_join",
    "stream_live_doc_dedup",
    "stream_live_dedup_within_watermark",
    "stream_live_cdc_merge",
    "stream_live_incremental_dedup",
    "stream_live_incremental_dedup_wm",
    "stream_live_quality_gate",
    "dedup_exact_normalized",
    "doc_fingerprint",
    "agg_approx_top_k",
    "agg_bool_countif",
    "agg_corr_covar",
    "agg_filter_clause",
    "agg_listagg_sorted",
    "ann_pq_recall",
    "ann_pq_topk",
    "ann_pq_trained",
    "classifier_lr_train",
    "corpus_curation_pipeline_v2",
    "corpus_curation_pipeline_v3",
    "dedup_lines_newline",
    "doc_fingerprint_winnow",
    "domain_cap_kept",
    "dsir_importance_weights",
    "events_debounce",
    "events_hourly_profile",
    "events_sessionize_batch",
    "events_stateful_counts",
    "events_weekly_cohort_retention",
    "quality_classifier_trained",
    "quality_percentile_by_source",
    "sample_deterministic_hash",
    "sample_per_group_hash",
    "set_except",
    "set_intersect_all",
    "subquery_correlated_avg",
    "subquery_scalar_threshold",
)


def _ordered() -> dict[str, QuerySpec]:
    _load_all()
    out: dict[str, QuerySpec] = {}
    for name in _PRIORITY:
        if name in REGISTRY:
            out[name] = REGISTRY[name]
    for name, spec in REGISTRY.items():
        if name not in out:
            out[name] = spec
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _ordered().items()}


def all_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every query module exactly once (they self-register)."""
    global _LOADED
    if _LOADED:
        return
    # LLM-pipeline / streaming / UDF modules first so that even the
    # fallback (registration-order) tail keeps the high-value families
    # early; _PRIORITY above controls the authoritative ordering.
    from mapreducecore_spark.queries import (  # noqa: F401
        llm,
        pipeline,
        curation,
        streaming_live,
        streaming_batch,
        udfs,
        scalars,
        mapreduce_queries,
        relational,
        windows,
        setops,
        advanced,
        tpch_full,
        graph,
        maintenance,
        quality,
    )

    _LOADED = True
