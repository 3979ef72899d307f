"""Benchmark of the reference job path, ``mapreduce.run``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates the workload's inputs
from the seed under ``.perfbench_work/``, then starts worker processes one
after another (``perfbench/worker.py``); each starts Spark on
``local[<cores>]``, sets up, runs one untimed warm job and then timed
jobs for its share of ``--seconds``. Every job's output is checked.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones (UI off); with ``--trace 1`` one untraced and one
traced worker run, and the metrics are the per-layer ones plus the
tracing overhead. The line before it, ``perfbench-meta {...}``, stamps
the run: seed, nproc, concurrent JVMs, versions, sample counts.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_LIMIT_S = 170  # a run must end within 180 s
TAIL_PCT = 90


def main(argv=None) -> int:
    t_run = time.monotonic()
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    pkg = importlib.util.find_spec("mapreducecore_spark")
    if pkg is None or not (pkg.origin or "").startswith(os.path.join(ROOT, "")):
        print(f"perfbench: the mapreducecore_spark package is not under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import procs, trace

    w = workloads.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    jvms_start = procs.other_jvms(os.getpid())
    cpu_start = procs.cpu_ticks()
    inputs = workloads.prepare(w, work, args.seed)
    cores = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_STREAM_SCRATCH=tmp,
        SPARK_GRAFT_CPUS=str(cores),
    )
    if args.trace:
        plan = [(False, args.seconds / 2), (True, args.seconds / 2)]
    else:
        plan = [(False, args.seconds)]
    results = []
    for i, (traced, secs) in enumerate(plan):
        tag = f"w{i}"
        spec = {
            "workload": w.name, "trace": traced, "in_traced_run": bool(args.trace),
            "seconds": secs, "cores": cores, "inputs": inputs, "work": run_dir, "tag": tag, "tmp": tmp,
            "result": os.path.join(run_dir, f"{tag}.json"),
        }
        budget = RUN_LIMIT_S - (time.monotonic() - t_run)
        results.append(_run_worker(spec, env, budget, os.path.join(run_dir, f"{tag}.log")))
    jvms_end = procs.other_jvms(os.getpid())
    cpu_end = procs.cpu_ticks()

    warm = [r for res in results for r in res["warm"]]
    timed = [r for res in results for p in res["passes"] for r in p]
    failed_items = [r for r in warm + timed if not r["ok"]]
    failed, attempted = len(failed_items), len(warm) + len(timed)
    failures = sorted({r["error"] for r in failed_items if r["error"]})

    untraced = [res for res, (traced, _) in zip(results, plan) if not traced]
    wall = _wall(untraced)
    if args.trace:
        traced_res = results[-1]
        metrics = trace.layer_metrics(traced_res, inputs, cores)
        metrics["trace.overhead_s"] = _wall([traced_res]) - wall
        units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
        with open(os.path.join(work, f"trace-{w.name}-{args.seed}.json"), "w", encoding="utf-8") as fh:
            json.dump(dict(traced_res["trace"], cover=trace.coverage(traced_res)), fh)
    else:
        item_s = [r["seconds"] for res in untraced for p in res["passes"] for r in p]
        metrics = {
            "setup_s": statistics.median(res["setup_s"] for res in untraced),
            "wall_s": wall,
            "item_tail_s": hd_quantile(item_s, TAIL_PCT / 100),
            "mb_per_s": inputs["input_mb"] / wall,
            "peak_rss_mb": statistics.median(sum(res["peak_rss_mb"].values()) for res in untraced),
        }
        units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    meta = {
        "workload": w.name, "seed": args.seed, "trace": args.trace, "nproc": cores,
        "other_jvms_start": jvms_start, "other_jvms_end": jvms_end,
        "solo": jvms_start == 0 and jvms_end == 0, "versions": _versions(),
        "steal_frac": procs.steal_frac(cpu_start, cpu_end),
        "passes": sum(len(res["passes"]) for res in untraced),
        "items": sum(len(p) for res in untraced for p in res["passes"]),
        "item_tail_pct": None if args.trace else TAIL_PCT,
        "peak_rss_by_process_mb": untraced[0]["peak_rss_mb"],
        "failed_frac": failed / attempted, "failures": failures[:10],
        "run_s": time.monotonic() - t_run,
        "pass_s": [round(sum(r["seconds"] for r in p), 4) for res in untraced for p in res["passes"]],
    }
    with open(os.path.join(work, f"result-{w.name}-{args.seed}-t{args.trace}.json"), "w",
              encoding="utf-8") as fh:
        json.dump({"meta": meta, "metrics": metrics,
                   "items": [[(r["name"], r["seconds"]) for r in p]
                             for res in results for p in res["passes"]]}, fh)
    print("perfbench-meta " + json.dumps(meta))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


def _run_worker(spec: dict, env: dict, budget: float, log_path: str) -> dict:
    """Run one worker to completion in its own process group, and wait
    until every process it started (JVM, Python workers) has ended."""
    spec_path = spec["result"] + ".spec"
    with open(log_path, "w", encoding="utf-8") as log:
        spec["spawn_t"] = time.monotonic()
        with open(spec_path, "w", encoding="utf-8") as fh:
            json.dump(spec, fh)
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", spec_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            code = None
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        _reap(proc.pid)
    if code != 0:
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: worker {spec['tag']} "
                         + ("timed out" if code is None else f"exited with {code}"))
    with open(spec["result"], encoding="utf-8") as fh:
        return json.load(fh)


def _reap(pgid: int) -> None:
    """Wait for the process group to end; after 10 s terminate it, and
    after 5 s more kill it."""
    for sig, grace in ((0, 10.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        end = time.monotonic() + grace
        try:
            os.killpg(pgid, sig)
            while time.monotonic() < end:
                time.sleep(0.1)
                os.killpg(pgid, 0)
        except ProcessLookupError:
            return


def _wall(results: list) -> float:
    return statistics.median(
        sum(r["seconds"] for r in p) for res in results for p in res["passes"]
    )


def hd_quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean
    of all order statistics, steadier than a single order statistic. With
    a few samples the p90 leans on the slowest of them."""
    import numpy as np

    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid))
    cdf = np.concatenate(([0.0], np.cumsum(pdf)))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, len(cdf)), cdf)
    return float(np.dot(np.diff(edges), xs))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _versions() -> dict:
    import platform

    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": platform.python_version()}


if __name__ == "__main__":
    sys.exit(main())
