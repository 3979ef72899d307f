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
imports. A second test runs the job path's CLI there, whose reduce
tasks write their part files from executor Python workers, and holds
the files to a local run of the same config.

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


def _skip_without_local_cluster(proc: subprocess.CompletedProcess, marker: str) -> None:
    combined = proc.stdout + proc.stderr
    if proc.returncode != 0 and (
        "Failed to start" in combined
        or "standalone" in combined.lower()
        and marker not in combined
    ):
        pytest.skip("local-cluster mode unavailable in this environment")


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
    _skip_without_local_cluster(proc, "PASS")
    assert "2 pass / 0 fail" in proc.stdout, (
        f"MR contract under local-cluster failed\n"
        f"stdout:{proc.stdout[-2000:]}\nstderr:{proc.stderr[-2000:]}"
    )
    assert proc.returncode == 0


@pytest.mark.slow
def test_run_job_cli_under_local_cluster(spark, mr_corpus, tmp_path):
    """``python -m mapreducecore_spark`` under ``local-cluster[2,2,1024]``
    (the package reaches the executors as the ``_ship_package`` zip):
    its R part files equal, byte for byte, those of the same config run
    on the suite's local session."""
    from mapreducecore_spark.__main__ import run_cli_job

    def config(name: str) -> str:
        path = tmp_path / f"{name}.ini"
        path.write_text(
            "n_workers=2\n"
            "worker_ipaddr_ports=localhost:50051,localhost:50052\n"
            f"input_files={','.join(mr_corpus[0])}\n"
            f"output_dir={tmp_path / name}\n"
            "n_output_files=4\n"
            "map_kilobytes=64\n"
            "user_id=cluster_wordcount\n"
        )
        return str(path)

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-m", "mapreducecore_spark", config("cluster"),
         "--master", "local-cluster[2,2,1024]"],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=REPO,
    )
    _skip_without_local_cluster(proc, "wrote")
    assert proc.returncode == 0, f"stdout:{proc.stdout[-2000:]}\nstderr:{proc.stderr[-2000:]}"
    assert "wrote 4 partition files" in proc.stdout
    assert run_cli_job(spark, config("local")) == 0
    names = [f"part-{i:05d}" for i in range(4)]
    assert sorted(os.listdir(tmp_path / "cluster")) == names
    assert sorted(os.listdir(tmp_path / "local")) == names
    for name in names:
        got = (tmp_path / "cluster" / name).read_bytes()
        assert got == (tmp_path / "local" / name).read_bytes(), name
    assert sum(len((tmp_path / "local" / n).read_bytes()) for n in names) > 0
