"""Benchmark harness — runs the full query registry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with the noop sink (full pipeline runs, nothing is
collected to the driver). Headline queries get 5 timed runs (median
taken; full run lists + the min/max spread envelope are published so
round-over-round deltas smaller than the spread read as noise); the
long tail gets 1 run. Concurrent JVMs at start are counted and
recorded — timing beside another Spark workload is the main source of
spread. The first recorded run of this protocol is the baseline
(BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_concurrent_jvms = -1  # set in main() before any timing

# The queries that define the headline metric: one per operator family,
# weighted toward shuffle-heavy shapes that dominate at scale.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders_by_revenue",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "join_inner_customer_orders",
    "window_row_number",
    "topk_per_group",
    "wordcount_documents",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "events_session_window",
]


def _count_other_jvms() -> int:
    """Count java processes already running before the bench starts its
    own JVM: timing next to a concurrent Spark/JVM workload is the
    single biggest source of run-to-run spread (VERDICT r3 #8). The
    count is recorded in the output so a noisy record is identifiable."""
    import subprocess

    try:
        out = subprocess.run(
            ["ps", "-eo", "comm="], capture_output=True, text=True, timeout=10
        ).stdout
    except Exception:
        return -1
    return sum(1 for line in out.splitlines() if line.strip() == "java")


def main() -> None:
    global _concurrent_jvms
    from mapreducecore_spark import metrics
    from mapreducecore_spark.queries import REGISTRY
    from mapreducecore_spark.streaming.tws import HAS_TWS_PROTOCOL as _tws_native

    # Wait for a solo slot instead of recording a noisy run (VERDICT
    # r6 #5: the official round record must be solo_run=true). Bounded
    # wait so an abandoned JVM can't deadlock the bench; disable with
    # SPARK_GRAFT_BENCH_NO_WAIT=1 for quick iteration runs.
    wait_budget = 0 if os.environ.get("SPARK_GRAFT_BENCH_NO_WAIT") else 600
    waited = 0
    _concurrent_jvms = _count_other_jvms()
    while _concurrent_jvms > 0 and waited < wait_budget:
        print(
            f"bench: {_concurrent_jvms} JVM(s) running - waiting for a solo "
            f"slot ({waited}/{wait_budget}s)",
            file=sys.stderr,
        )
        time.sleep(15)
        waited += 15
        _concurrent_jvms = _count_other_jvms()
    if _concurrent_jvms > 0:
        print(
            f"bench: WARNING {_concurrent_jvms} JVM(s) already running - "
            "timings will carry their load",
            file=sys.stderr,
        )
    spark = metrics.timing_session("mapreducecore-bench", f"local[{CPUS}]")

    # Warm the JVM + parquet footers once before timing anything.
    metrics.timed(spark, "q1_pricing_summary", SF_DIR)

    # Warm the Python/Arrow worker pools too: the first use of each UDF
    # eval type forks workers and imports pandas/pyarrow (~3-5 s across
    # a 32-thread pool) — session-startup cost, not query throughput.
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    def _warm_fn(s):
        return s

    # (no type hints: postponed annotations would stringify them;
    # hint-less pandas_udf falls back to scalar eval, which is the
    # worker pool we want warmed)
    _warm_vec = F.pandas_udf(_warm_fn, "long")

    warm = spark.range(256).repartition(int(CPUS))
    warm.select(_warm_vec("id").alias("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    warm.groupBy((F.col("id") % int(CPUS)).alias("g")).applyInPandas(
        lambda p: p[["id"]], "id long"
    ).write.format("noop").mode("overwrite").save()
    warm.mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    warm.select(
        F.udf(lambda x: x, "long")("id").alias("id")
    ).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    headline_runs: dict[str, list[float]] = {}
    shuffle_bytes: dict[str, dict[str, float]] = {}
    for name in sorted(REGISTRY):
        try:
            if name in HEADLINE:
                # median-of-5 (VERDICT r3 #8): the round-2/3 protocol's
                # min-of-3 left a ~20% run-to-run spread on unchanged
                # code — larger than real round deltas. The median is
                # robust to one-sided GC/scheduler noise, and the full
                # run list is published so the spread is auditable.
                # Shuffle volume is measured on the first run (bytes
                # are identical across runs).
                runs = [metrics.timed(spark, name, SF_DIR) for _ in range(5)]
                shuffle_bytes[name] = {
                    k: runs[0][k] for k in ("shuffle_mb", "peak_stage_shuffle_mb")
                }
                headline_runs[name] = sorted(r["sec"] for r in runs)
                timings[name] = headline_runs[name][2]
            else:
                timings[name] = metrics.timed(spark, name, SF_DIR)["sec"]
        except Exception as e:  # a broken query must not kill the bench
            print(f"bench: {name} failed: {e}", file=sys.stderr)
            timings[name] = -1.0

    # Outlier re-run: a long sequential sweep occasionally hits a GC /
    # block-manager-churn pause that charges one query 5-15 s it doesn't
    # deserve (observed: same query 1 s standalone, 17 s mid-sweep).
    # Re-time anything far above the median once and keep the min —
    # bounded extra cost, kills one-off noise in the recorded tail.
    ok = sorted(t for t in timings.values() if t >= 0)
    retimed: dict[str, dict[str, float]] = {}
    if ok:
        median = ok[len(ok) // 2]
        cutoff = max(4.0, 4 * median)
        for name, t in list(timings.items()):
            if t > cutoff:
                try:
                    rerun = metrics.timed(spark, name, SF_DIR)["sec"]
                except Exception:
                    continue
                # Keep the record auditable: both values are published
                # and the entry is flagged as re-timed.
                timings[name] = min(t, rerun)
                retimed[name] = {"original": t, "rerun": rerun}

    headline_total = sum(timings[n] for n in HEADLINE if timings.get(n, -1) >= 0)
    # Spread envelope over the 5-run lists: best-case vs worst-case
    # headline totals. Round-over-round comparisons smaller than this
    # number are noise, not signal (VERDICT r3 #8).
    spread = round(
        sum(r[-1] for r in headline_runs.values())
        - sum(r[0] for r in headline_runs.values()),
        3,
    )
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "headline_12q_total_sec",
        "value": round(headline_total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "total_all_queries_sec": round(sum(t for t in timings.values() if t >= 0), 3),
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "retimed": retimed,
        "headline_shuffle": shuffle_bytes,
        "headline_runs": headline_runs,
        "headline_spread_sec": spread,
        "concurrent_jvms_at_start": _concurrent_jvms,
        # Counted again AFTER the sweep, minus this bench's own JVM: a
        # record where either count is nonzero timed beside another JVM
        # workload and its spread is suspect (VERDICT r4 #8) — the
        # flag makes a noisy record identifiable instead of silently
        # authoritative.
        # -1 sentinel (ps probe failed) must survive the minus-self
        # adjustment, or a record whose end probe never ran could claim
        # solo_run=true (ADVICE r5).
        "concurrent_jvms_at_end": (
            n_end if (n_end := _count_other_jvms()) < 0 else max(n_end - 1, 0)
        ),
        # Which TWS runtime executed the stream_live_tws_* entries —
        # native transformWithStateInPandas needs the protobuf state
        # protocol; recording the selected path makes a silent fallback
        # regression visible in the round record (VERDICT r4 #7).
        "tws_runtime": "native" if _tws_native else "fallback",
    }
    # Both probes must have RUN (>= 0) and counted zero: a failed probe
    # is unknown, not clean.
    full["solo_run"] = (
        full["concurrent_jvms_at_start"] == 0 and full["concurrent_jvms_at_end"] == 0
    )
    # Stamp the core count (VERDICT r11 cosmetic note): BENCH_FULL.json
    # holds whichever sweep ran last, and without the cpus a committed
    # 8-core artifact diffs against a 32-core one as a phantom 2-4x
    # regression. Additive field; the compact line and all existing
    # entries are unchanged.
    full["cpus"] = int(CPUS)
    # Full per-query map goes to a file; stdout gets a COMPACT line only
    # (headline breakdown, ~0.5 KB) so the driver's bounded tail capture
    # always parses it (round-1 record was lost to a 6 KB line).
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    compact = dict(full)
    compact["queries"] = {n: timings[n] for n in HEADLINE if n in timings}
    compact["retimed"] = sorted(retimed)  # names only; values in BENCH_FULL.json
    compact.pop("headline_shuffle", None)  # full map in BENCH_FULL.json
    compact.pop("headline_runs", None)  # full 5-run lists in BENCH_FULL.json
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
