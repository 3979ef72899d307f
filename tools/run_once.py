"""Single-run timing: one query, one fresh JVM, one measured run.

The min-of-two-same-JVM protocol in scale_bench.py is right for warm
comparisons at sf0.1..1000x, but at the FOURTH decade a query can run
within ~1 run of the default 8g heap's ceiling, where residual
block/cleaner/UI state from a prior same-JVM run tips the second run
into OOM while a fresh run completes. A fresh-JVM single run is also
the honest model of a production job. Prints one JSON line
(BASELINE.md round-7 fourth-decade notes use this protocol).
SPARK_GRAFT_MASTER runs it under local-cluster[W,C,M]; executor sizing
for that mode goes through SPARK_GRAFT_EXTRA_CONF
(spark.executor.memory=...).

Usage: python tools/run_once.py <sf_dir> <query> [factor]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducecore_spark import metrics  # noqa: E402


def main() -> None:
    sf, name = sys.argv[1], sys.argv[2]
    spark = metrics.timing_session("run-once")
    out = {"query": name, "sf_dir": sf, **metrics.timed(spark, name, sf)}
    if len(sys.argv) > 3:
        out["factor"] = float(sys.argv[3])
    print(json.dumps(out))


if __name__ == "__main__":
    main()
