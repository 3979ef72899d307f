"""The benchmark's workloads: their inputs, their jobs and their checks.

Both workloads run the reference job path, ``mapreduce.run`` on a
``config.ini``, over a seeded corpus (``corpus.py``), one job at a time
in a closed loop with a single client; one pass runs one job. Inputs and
expected outputs are made by ``prepare`` in the orchestrating process,
before any worker starts, so their cost never lands in a timed figure.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import corpus

MR_OUTPUTS = 8  # R, the reference's n_output_files


@dataclass(frozen=True)
class Workload:
    """Why each workload was chosen is in BENCHMARK.json."""

    name: str
    user_id: str  # the registered (mapper, reducer) pair
    corpus_mb: float
    split_kb: int  # map_kilobytes: more than one wave of map tasks on four cores


WORKLOADS = {
    w.name: w
    for w in (
        Workload("mr_wordcount", "wordcount", corpus_mb=4.0, split_kb=256),
        Workload("mr_index", "index", corpus_mb=12.0, split_kb=768),
    )
}


def index_mapper(line: str):
    """Emits each line under a 64-bit digest of it: nearly unique keys,
    and output as large as the input."""
    yield hashlib.md5(line.encode("utf-8")).hexdigest()[:16], line


def index_reducer(key: str, values: list[str]):
    """Keeps the first line of each key; equal keys carry equal lines."""
    yield key, values[0]


def _tasks(user_id: str):
    if user_id == "index":
        return index_mapper, index_reducer
    from mapreducecore_spark.functions.text import wordcount_mapper, wordcount_reducer

    return wordcount_mapper, wordcount_reducer


# --- inputs, made by the orchestrator --------------------------------------


def prepare(w: Workload, work: str, seed: int) -> dict:
    """Generate the workload's corpus and expected output under ``work``;
    return what the workers and the checks need, as JSON-able data."""
    cdir = os.path.join(work, "corpus")
    shutil.rmtree(cdir, ignore_errors=True)
    c = corpus.generate(cdir, seed, w.corpus_mb)
    if w.user_id == "index":
        answer = {}
        for p in c.paths:
            with open(p, encoding="utf-8") as fh:
                for line in fh:
                    key, line = next(index_mapper(line.rstrip("\n")))
                    answer[key] = line
        emits, distinct = c.lines, len(answer)
    else:
        answer = {k: str(v) for k, v in c.word_counts.items()}
        emits, distinct = c.emits, c.distinct_keys
    answer_path = os.path.join(work, "answer.json")
    with open(answer_path, "w", encoding="utf-8") as fh:
        json.dump(answer, fh)
    return {
        "paths": c.paths,
        "input_mb": c.n_bytes / 1e6,
        "answer_path": answer_path,
        "emits": emits,
        "distinct_keys": distinct,
    }


# --- jobs, run by the worker -----------------------------------------------


@dataclass
class ItemResult:
    name: str
    start: float  # time.time() at the call
    seconds: float  # perf_counter duration of the mapreduce.run call
    ok: bool = True
    error: str = ""
    output_mb: float = 0.0
    check_s: float = 0.0  # time spent checking the output: the benchmark's own work
    group: str = ""
    attrs: dict = field(default_factory=dict)


class MrRunner:
    """Runs the reference job: write config.ini, ``mapreduce.run``,
    check the R output files against the expected output, delete them."""

    def __init__(self, w: Workload, inputs: dict, work: str, tag: str):
        from mapreducecore_spark.mapreduce import register_tasks

        register_tasks(w.user_id, *_tasks(w.user_id))
        self.w, self.inputs = w, inputs
        self.out_root = os.path.join(work, f"out-{tag}")
        os.makedirs(self.out_root, exist_ok=True)
        with open(inputs["answer_path"], encoding="utf-8") as fh:
            self.answer = json.load(fh)
        self.n = 0

    def _config(self, out_dir: str) -> str:
        path = os.path.join(self.out_root, "config.ini")
        cores = len(os.sched_getaffinity(0))
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(
                f"n_workers={cores}\n"
                f"worker_ipaddr_ports={','.join(f'localhost:{50051 + i}' for i in range(cores))}\n"
                f"input_files={','.join(self.inputs['paths'])}\n"
                f"output_dir={out_dir}\n"
                f"n_output_files={MR_OUTPUTS}\n"
                f"map_kilobytes={self.w.split_kb}\n"
                f"user_id={self.w.user_id}\n"
            )
        return path

    def run_item(self, spark, on_start=None) -> ItemResult:
        """One job. Its output is checked outside the job's time."""
        from mapreducecore_spark.mapreduce import run

        self.n += 1
        out_dir = os.path.join(self.out_root, f"job{self.n}")
        cfg = self._config(out_dir)
        r = ItemResult(name=self.w.user_id, start=0.0, seconds=0.0)
        if on_start:
            r.group = on_start(r.name)
        r.start = time.time()
        t0 = time.perf_counter()
        try:
            run(spark, cfg)
        except Exception as e:  # a failed job is a failed item, not a crash
            r.ok, r.error = False, f"{type(e).__name__}: {str(e)[:300]}"
        r.seconds = time.perf_counter() - t0
        t1 = time.perf_counter()
        if r.ok:
            r.output_mb = _dir_bytes(out_dir) / 1e6
            try:
                corpus.check_job(out_dir, MR_OUTPUTS, self.answer)
            except (corpus.OutputMismatch, OSError, UnicodeDecodeError) as e:
                r.ok, r.error = False, f"check: {e}"
        shutil.rmtree(out_dir, ignore_errors=True)
        r.check_s = time.perf_counter() - t1
        return r


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
