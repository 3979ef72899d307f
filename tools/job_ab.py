"""Same-JVM interleaved A/B of two versions of the job path.

    python tools/job_ab.py --a OTHER/mapreducecore_spark/mapreduce.py \\
        [--b mapreducecore_spark/mapreduce.py] [--workload mr_index] \\
        [--seed 12] [--pairs 8] [--cores 4]

Loads the two ``mapreduce.py`` files as two modules (``job_ab_A``,
``job_ab_B``) in one ``metrics.timing_session`` (UI on), generates a
perfbench corpus (``perfbench.workloads.prepare``), runs three untimed
warm jobs per side, then ``pairs`` pairs of ``run(config)`` calls,
alternating which side goes first, and checks every output against the
corpus's answer. Each side parses its config with the ``config.py``
beside its ``mapreduce.py``. Session confs come from
``SPARK_GRAFT_EXTRA_CONF`` as in every timing session
(``spark.python.unix.domain.socket.enabled=false`` runs both sides over
TCP).

It prints one line per side: the median and quartiles of a call's wall
time, then the median per call of perfbench's per-layer figures, read
from the UI's REST jobs and stages by ``perfbench.sparktrace`` and
``perfbench.trace.layer_metrics``; then the pairs side B won.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
WARM_JOBS = 3
# ``spark.driver_gap_s`` is call time outside its job; the executor
# figures sum both stages' tasks, and CPU is the JVM's only.
LAYERS = (
    "mr.map_stage_s",
    "mr.reduce_stage_s",
    "spark.driver_gap_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.tasks",
    "mr.output_mb",
)


def _load(name: str, path: str):
    from pyspark import cloudpickle

    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    # The Python workers cannot import this module by name.
    cloudpickle.register_pickle_by_value(mod)
    return mod


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="side A's mapreduce.py")
    ap.add_argument("--b", default=os.path.join(ROOT, "mapreducecore_spark", "mapreduce.py"))
    ap.add_argument("--workload", default="mr_index")
    ap.add_argument("--seed", type=int, default=12)
    ap.add_argument("--pairs", type=int, default=8)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)
    # The timing session keeps 400 stages; each call runs two.
    if not 2 <= args.pairs <= 90:
        ap.error("--pairs must be between 2 and 90")

    from perfbench import corpus, trace, workloads
    from perfbench.sparktrace import SparkTracer

    # Spark's Python workers import perfbench's task functions.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    w = workloads.WORKLOADS[args.workload]
    work = tempfile.mkdtemp(prefix="job_ab_")
    inputs = workloads.prepare(w, work, args.seed)
    with open(inputs["answer_path"], encoding="utf-8") as fh:
        answer = json.load(fh)
    sides, configs = {}, {}
    for side, path in (("A", args.a), ("B", args.b)):
        configs[side] = _load(f"job_ab_{side}_config", os.path.join(os.path.dirname(path), "config.py"))
        sides[side] = _load(f"job_ab_{side}", path)
        sides[side].register_tasks(w.user_id, *workloads._tasks(w.user_id))

    from mapreducecore_spark.metrics import timing_session

    spark = timing_session("job-ab", master=f"local[{args.cores}]")
    tracer = SparkTracer(spark)
    n = [0]

    def call(side: str) -> dict:
        n[0] += 1
        out_dir = os.path.join(work, f"out{n[0]}")
        cfg = os.path.join(work, "config.ini")
        with open(cfg, "w", encoding="utf-8") as fh:
            fh.write(
                f"n_workers={args.cores}\n"
                f"worker_ipaddr_ports={','.join(f'localhost:{50051 + i}' for i in range(args.cores))}\n"
                f"input_files={','.join(inputs['paths'])}\n"
                f"output_dir={out_dir}\n"
                f"n_output_files={workloads.MR_OUTPUTS}\n"
                f"map_kilobytes={w.split_kb}\n"
                f"user_id={w.user_id}\n"
            )
        # ``run`` imports its config module by this name.
        sys.modules["mapreducecore_spark.config"] = configs[side]
        t0 = time.time()
        sides[side].run(spark, cfg)
        seconds = time.time() - t0
        corpus.check_job(out_dir, workloads.MR_OUTPUTS, answer)
        out_mb = sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)) / 1e6
        # One item as ``perfbench.trace.build_spans`` reads it.
        return {"side": side, "name": w.name, "start": t0, "seconds": seconds, "ok": True,
                "output_mb": out_mb}

    try:
        for _ in range(WARM_JOBS):
            call("A"), call("B")
        calls = []
        for i in range(args.pairs):
            order = "AB" if i % 2 == 0 else "BA"
            calls.extend(call(s) for s in order)
        layers = {}
        for side in "AB":
            # Each call is one pass, so the figures are medians per call.
            passes = [[c] for c in calls if c["side"] == side]
            result = {"passes": passes, "setup_spans": [], "trace": tracer.collect(passes, [])}
            layers[side] = trace.layer_metrics(result, inputs, args.cores)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(f"{w.name} seed {args.seed}, {args.pairs} pairs, local[{args.cores}], every output checked")
    walls = {side: [c["seconds"] for c in calls if c["side"] == side] for side in "AB"}
    for side in "AB":
        q1, _, q3 = statistics.quantiles(walls[side], n=4)
        cells = [f"{k} {layers[side][k]:.3f}" for k in LAYERS]
        print(f"{side}: wall_s {statistics.median(walls[side]):.3f} [{q1:.3f}-{q3:.3f}], " + ", ".join(cells))
    won = sum(b < a for a, b in zip(walls["A"], walls["B"]))
    print(f"B faster in {won}/{args.pairs} pairs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
