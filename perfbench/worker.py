"""One benchmark process: start Spark, set up, warm up, run timed passes.

Run by ``perfbench/run.py`` as ``python3 -m perfbench.worker <spec.json>``
with the checkout root on ``PYTHONPATH``, so the Spark driver and Spark's
Python workers import the package and the benchmark's own task functions
wherever the benchmark is launched from. The result goes to the JSON
file the spec names.
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench import procs, workloads

# Untimed warm jobs: the first two timed jobs after a single warm job
# still ran 10-25 % slower than the third and later ones on a 4-vCPU VM.
WARM_JOBS = 3
# Timed jobs at least, in a run of its own and in each of the two
# workers of a traced run.
MIN_PASSES = {False: 3, True: 2}


def main(spec_path: str) -> int:
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    w = workloads.WORKLOADS[spec["workload"]]
    traced = bool(spec["trace"])
    setup_spans = []

    def timed(name, fn):
        t0, p0 = time.time(), time.perf_counter()
        out = fn()
        setup_spans.append({"name": name, "start": t0, "end": t0 + time.perf_counter() - p0})
        return out

    from mapreducecore_spark.session import get_spark

    spark = timed("session.start", lambda: get_spark(
        app_name=f"perfbench-{w.name}",
        master=f"local[{spec['cores']}]",
        extra_conf=_conf(spec, traced),
    ))
    tracer = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if traced:
            from perfbench.sparktrace import SparkTracer

            tracer = SparkTracer(spark)
        t0 = time.perf_counter()
        run = workloads.MrRunner(w, spec["inputs"], spec["work"], spec["tag"])
        answer_s = time.perf_counter() - t0  # loading the expected output
        # Every job's output is checked; the time spent comparing is the
        # benchmark's own and is taken out of set-up.
        warm = timed("warmup", lambda: [run.run_item(spark) for _ in range(WARM_JOBS)])
        setup_spans[-1]["end"] -= sum(r.check_s for r in warm)
        check_s = answer_s + sum(r.check_s for r in warm)
        sc = spark.sparkContext
        n_group = [0]

        def on_start(name: str) -> str:
            n_group[0] += 1
            group = f"{spec['tag']}:{n_group[0]}:{name}"
            sc.setJobGroup(group, name)
            return group

        first_item = time.monotonic()
        deadline = first_item + spec["seconds"]
        passes, pass_wall = [], []
        while len(passes) < MIN_PASSES[spec["in_traced_run"]] or time.monotonic() < deadline:
            p0 = time.perf_counter()
            passes.append([run.run_item(spark, on_start if tracer else None)])
            pass_wall.append(time.perf_counter() - p0)
        if tracer:
            for p in passes:
                for r in p:
                    r.attrs["group_jobs"] = len(sc.statusTracker().getJobIdsForGroup(r.group))
        rss = procs.tree_hwm_mb(os.getpid())
        trace = tracer.collect(passes, setup_spans) if tracer else None
    finally:
        spark.stop()
    result = {
        "setup_s": first_item - spec["spawn_t"] - check_s,
        "setup_spans": setup_spans,
        "warm": [r.__dict__ for r in warm],
        "passes": [[r.__dict__ for r in p] for p in passes],
        "pass_wall_s": pass_wall,
        "peak_rss_mb": rss,
        "trace": trace,
    }
    with open(spec["result"], "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


def _conf(spec: dict, traced: bool) -> dict[str, str]:
    tmp = spec["tmp"]
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        })
    return conf


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
