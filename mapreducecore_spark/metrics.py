"""The one timing harness: a UI-on session and a timed, measured run.

`timed` runs one registry query into the noop sink and reports its
wall seconds, the shuffle bytes its stages wrote (total and peak
stage) and its costliest stages. The figures come from the stage list
of Spark's UI REST API, read once before and once after the run, both
outside the timed window. A run owns every stage whose id is above the
highest id of the first read, so stages a streaming drain starts count
too.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from urllib.parse import urlparse

from pyspark.sql import SparkSession

from mapreducecore_spark.queries import REGISTRY, _load_all
from mapreducecore_spark.session import get_spark

# Bounded UI retention: the defaults (1000 executions with plan graphs,
# 1000 jobs/stages, 100k tasks) pile up in driver old-gen over a long
# sweep, and the full GCs land on whatever query runs; bounding them
# cut bench.py's headline spread 16.9 -> 4.3 s (BASELINE.md
# "source_custom_pyds_scan drift resolved"). The windows are far wider
# than one query needs, and no plan or result depends on them.
_RETENTION = {
    "spark.sql.ui.retainedExecutions": "30",
    "spark.ui.retainedJobs": "200",
    "spark.ui.retainedStages": "400",
    "spark.ui.retainedTasks": "20000",
}


def timing_session(app_name: str, master: str | None = None) -> SparkSession:
    """A `get_spark` session with the UI on (on whatever port Spark
    binds), bounded retention and the `k=v;k=v` confs of
    SPARK_GRAFT_EXTRA_CONF, which win; the registry is loaded."""
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    spark = get_spark(
        app_name=app_name,
        master=master,
        extra_conf={
            "spark.ui.enabled": "true",
            **_RETENTION,
            **dict(kv.split("=", 1) for kv in extra.split(";") if "=" in kv),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    _load_all()
    return spark


def _stages(spark: SparkSession) -> list[dict]:
    sc = spark.sparkContext
    port = urlparse(sc.uiWebUrl).port
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.load(resp)


def _summary(stages: list[dict], before_max: int) -> dict:
    """Shuffle MB (total, peak stage; to the byte, so a small shuffle
    does not read 0) and the 8 completed stages with the most executor
    run time, over the stages with id > `before_max`."""
    new = {s["stageId"]: s for s in stages if s["stageId"] > before_max}
    written = [int(s.get("shuffleWriteBytes", 0) or 0) for s in new.values()]
    done = [s for s in new.values() if s.get("status") == "COMPLETE"]
    top = sorted(done, key=lambda s: -s.get("executorRunTime", 0))[:8]
    return {
        "shuffle_mb": round(sum(written) / 1e6, 6),
        "peak_stage_shuffle_mb": round(max(written, default=0) / 1e6, 6),
        "top_stages": [
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
        ],
    }


def timed(spark: SparkSession, name: str, sf_dir: str) -> dict:
    """Run query `name` on `sf_dir` into the noop sink once:
    {"sec", "shuffle_mb", "peak_stage_shuffle_mb", "top_stages"}."""
    before_max = max((s["stageId"] for s in _stages(spark)), default=-1)
    t0 = time.time()
    REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    sec = time.time() - t0
    stages = _stages(spark)
    # A run whose stage count nears the retention window ages its own
    # first stages out of the REST view and under-reports its shuffle.
    window = int(spark.sparkContext.getConf().get("spark.ui.retainedStages", "1000"))
    n_new = len({s["stageId"] for s in stages if s["stageId"] > before_max})
    if n_new > window // 2:
        print(
            f"metrics: WARNING {name} left {n_new} stages in a "
            f"retainedStages={window} window; its shuffle bytes may be low",
            file=sys.stderr,
        )
    return {"sec": round(sec, 3), **_summary(stages, before_max)}
