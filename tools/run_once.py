"""Single-run timing: one query, one fresh JVM, one measured run.

The min-of-two-same-JVM protocol in scale_bench.py is right for warm
comparisons at sf0.1..1000x, but at the FOURTH decade a query can run
within ~1 run of the default 8g heap's ceiling, where residual
block/cleaner/UI state from a prior same-JVM run tips the second run
into OOM while a fresh run completes. A fresh-JVM single run is also
the honest model of a production job. Prints one JSON line
(BASELINE.md round-7 fourth-decade notes use this protocol).

Usage: python tools/run_once.py <sf_dir> <query> [factor]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducecore_spark import metrics  # noqa: E402


def main() -> None:
    sf, name = sys.argv[1], sys.argv[2]
    factor = float(sys.argv[3]) if len(sys.argv) > 3 else None

    from mapreducecore_spark.queries import REGISTRY, _load_all
    from mapreducecore_spark.session import default_master, get_spark

    _load_all()
    # SPARK_GRAFT_MASTER lets the round-9 multi-executor attestation
    # reuse this exact protocol under local-cluster[W,C,M] (real
    # separate executor JVMs, cross-process shuffle). Executor sizing
    # for that mode goes through SPARK_GRAFT_EXTRA_CONF
    # (spark.executor.memory=...); local[SPARK_GRAFT_CPUS] is the default.
    spark = get_spark(
        app_name="run-once",
        master=default_master(),
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(metrics.DEFAULT_UI_PORT),
            # SPARK_GRAFT_EXTRA_CONF="k=v;k=v" for run-scoped knobs the
            # sweep needs (e.g. spark.cleaner.periodicGC.interval=120s
            # at the fifth decade: one job's early-stage shuffle files
            # are dead after the banded checkpoint truncates lineage,
            # but only a driver GC lets the ContextCleaner delete them
            # — without it the 10000x run filled the disk).
            **dict(
                kv.split("=", 1)
                for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";")
                if "=" in kv
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    before_max, _ = metrics.snapshot(app_id)
    t0 = time.time()
    REGISTRY[name].fn(spark, sf).write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    total, peak = metrics.delta(app_id, before_max)
    out = {
        "query": name,
        "sf_dir": sf,
        "sec": round(dt, 2),
        "shuffle_mb": round(total / 1e6, 1),
        "peak_stage_shuffle_mb": round(peak / 1e6, 1),
    }
    if factor:
        out["factor"] = factor
    try:
        import urllib.request

        stages = json.loads(
            urllib.request.urlopen(
                f"http://localhost:{metrics.DEFAULT_UI_PORT}/api/v1/applications/"
                f"{app_id}/stages?status=complete",
                timeout=10,
            ).read()
        )
        top = sorted(stages, key=lambda s: -s.get("executorRunTime", 0))[:8]
        out["top_stages"] = [
            {
                "id": s["stageId"],
                "core_sec": round(s.get("executorRunTime", 0) / 1000.0, 1),
                "tasks": s["numTasks"],
                "in_gb": round(s.get("inputBytes", 0) / 1e9, 2),
                "sr_gb": round(s.get("shuffleReadBytes", 0) / 1e9, 2),
                "sw_gb": round(s.get("shuffleWriteBytes", 0) / 1e9, 2),
                "spill_gb": round(s.get("diskBytesSpilled", 0) / 1e9, 2),
                "name": s.get("name", "").split(" at ")[0][:50],
            }
            for s in top
        ]
    except Exception:
        pass
    print(json.dumps(out))


if __name__ == "__main__":
    main()
