"""The timing harness (`mapreducecore_spark.metrics`).

`tools/run_once.py` must measure through whatever UI port Spark binds,
also when other servers hold the usual ones; `_summary` must attribute
stages by id and rank them by executor run time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

from mapreducecore_spark import metrics

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_run_once_measures_beside_servers_on_the_usual_ui_ports(sf_dir):
    # 4040 is Spark's default UI port, 4049 the one the tools used to
    # pin. Each dummy answers every GET with HTTP 501.
    servers = []
    for port in (4040, 4049):
        try:
            servers.append(HTTPServer(("", port), BaseHTTPRequestHandler))
        except OSError:
            pass  # already held by another process, which serves as well
    for srv in servers:
        threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        proc = subprocess.run(
            [sys.executable, "tools/run_once.py", sf_dir, "mr_wordcount_contract"],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=600,
        )
    finally:
        for srv in servers:
            srv.shutdown()
            srv.server_close()
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert list(out) == [
        "query", "sf_dir", "sec", "shuffle_mb", "peak_stage_shuffle_mb", "top_stages",
    ]
    assert out["shuffle_mb"] > 0
    assert out["top_stages"]


def _stage(sid, status, run_ms, written, attempt=0):
    return {
        "stageId": sid,
        "attemptId": attempt,
        "status": status,
        "executorRunTime": run_ms,
        "numTasks": 4,
        "inputBytes": 0,
        "shuffleReadBytes": 0,
        "shuffleWriteBytes": written,
        "diskBytesSpilled": 0,
        "name": f"stage{sid} at NativeMethodAccessorImpl.java:0",
    }


def test_summary_cuts_by_stage_id_and_ranks_by_run_time():
    stages = [
        # The REST list is newest first; 7 and 6 belong to an earlier run.
        _stage(12, "COMPLETE", 300, 1_000_000),
        _stage(11, "SKIPPED", 0, 0),
        _stage(10, "COMPLETE", 5_000, 4_000_000),
        _stage(9, "COMPLETE", 800, 2_500_000),
        _stage(8, "COMPLETE", 1_200, 0),
        _stage(7, "COMPLETE", 90_000, 50_000_000),
        _stage(6, "COMPLETE", 10, 9_000_000),
    ]
    got = metrics._summary(stages, before_max=7)
    assert got["shuffle_mb"] == 7.5
    assert got["peak_stage_shuffle_mb"] == 4.0
    assert [s["id"] for s in got["top_stages"]] == [10, 8, 9, 12]
    assert got["top_stages"][0] == {
        "id": 10, "core_sec": 5.0, "tasks": 4, "in_gb": 0.0, "sr_gb": 0.0,
        "sw_gb": 0.0, "spill_gb": 0.0, "name": "stage10",
    }
    assert metrics._summary(stages, before_max=12) == {
        "shuffle_mb": 0.0, "peak_stage_shuffle_mb": 0.0, "top_stages": [],
    }
