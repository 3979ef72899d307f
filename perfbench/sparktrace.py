"""Reads Spark's own telemetry in a traced worker: the UI's REST API."""

from __future__ import annotations

import json
import time
import urllib.request
from urllib.parse import urlparse

from perfbench.trace import build_spans, longest_stages, stage_table


class SparkTracer:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.api = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=60) as resp:
            return json.load(resp)

    def collect(self, passes, setup_spans) -> dict:
        """Read the REST store once every job has finished; return the
        spans, the stage figures and each pass's task skew."""
        deadline = time.monotonic() + 30
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = self._get("/stages")
        spans = build_spans(passes, setup_spans, jobs, stages)
        skew = {}
        for p, s in longest_stages(spans).items():
            a = s["attrs"]
            q = self._get(f"/stages/{a['stage_id']}/{a['attempt_id']}/taskSummary?quantiles=0.5,1.0")
            p50, top = q["executorRunTime"]
            skew[p] = top / p50 if p50 > 0 else 1.0
        return {"spans": spans, "stages": stage_table(stages),
                "task_skew": [skew.get(p, 1.0) for p in range(len(passes))]}
