"""MapReduce contract surface under local-cluster (VERDICT r9 #3).

The S1-S3/D1-D7 fidelity path — the `mapreduce.py` RDD pipeline behind
`run_job`/`run_mapreduce`, its md5 partitioner and tokenizer closures —
had only ever executed in pure local mode, where executor python
workers inherit the driver's cwd and the repo package resolves by
accident of layout. On any real cluster the closures deserialize on
executor-side workers that can only import the package through the
`_ship_package` addPyFile zip. This test runs the two registered MR
contract queries (`mr_wordcount_contract`, `mr_sorted_partition_sink`)
through tools/driver_sim.py — full DuckDB value-hash parity, not just
"it ran" — under `local-cluster[2,4,2048]`: two separate
worker-launched executor JVMs, cross-process shuffle, shipped-package
imports.

Subprocess (a JVM cannot switch master mid-process and the suite's
shared session is local[32]); marked slow; skips cleanly where
local-cluster standalone machinery is unavailable.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_mapreduce_contract_under_local_cluster():
    env = dict(os.environ)
    env["SPARK_GRAFT_SIM_MASTER"] = "local-cluster[2,4,2048]"
    env["SPARK_GRAFT_EXECUTOR_MEM"] = "1536m"
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "driver_sim.py"),
            "/root/testdata/sf0.01",
            "mr_wordcount_contract",
            "mr_sorted_partition_sink",
        ],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    combined = proc.stdout + proc.stderr
    if proc.returncode != 0 and (
        "Failed to start" in combined
        or "standalone" in combined.lower()
        and "PASS" not in combined
    ):
        pytest.skip("local-cluster mode unavailable in this environment")
    assert "2 pass / 0 fail" in proc.stdout, (
        f"MR contract under local-cluster failed\n"
        f"stdout:{proc.stdout[-2000:]}\nstderr:{proc.stderr[-2000:]}"
    )
    assert proc.returncode == 0
