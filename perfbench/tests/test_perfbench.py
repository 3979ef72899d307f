"""The benchmark's own tests: inputs, output checks, metric names, spans.

    python3 -m pytest perfbench/tests -q

None of them starts Spark.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import pytest

from perfbench import corpus, trace
from perfbench.corpus import OutputMismatch, check_job

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _tokens(paths):
    from mapreducecore_spark.functions.text import tokenize

    out = Counter()
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                out.update(tokenize(line.rstrip("\n")))
    return out


def test_same_seed_same_corpus_other_seed_other_corpus(tmp_path):
    a = corpus.generate(str(tmp_path / "a"), 7, 0.3)
    b = corpus.generate(str(tmp_path / "b"), 7, 0.3)
    c = corpus.generate(str(tmp_path / "c"), 8, 0.3)
    assert corpus.corpus_digest(a.paths) == corpus.corpus_digest(b.paths)
    assert (a.word_counts, a.emits, a.distinct_keys) == (b.word_counts, b.emits, b.distinct_keys)
    assert corpus.corpus_digest(a.paths) != corpus.corpus_digest(c.paths)
    assert a.word_counts != c.word_counts


def test_corpus_answer_is_what_strtok_sees(tmp_path):
    c = corpus.generate(str(tmp_path / "c"), 3, 0.3)
    counts = _tokens(c.paths)
    assert counts == Counter(c.word_counts)
    assert sum(counts.values()) == c.emits > 0
    assert len(counts) == c.distinct_keys
    text = "".join(open(p, encoding="utf-8").read() for p in c.paths)
    for d in corpus.DELIMS:
        assert d * 2 in text or any(d in s and len(s) > 1 for s in corpus.SEPARATORS)
    assert {"Spark", "spark", "SPARK"} <= counts.keys()  # case variants
    assert any(ord(ch) > 127 for w in counts for ch in w)  # non-ASCII words
    assert counts.most_common(1)[0][0] == "the"  # the hot key
    longest = max(len(line) for p in c.paths for line in open(p, encoding="utf-8"))
    assert longest > 8 * 1024  # straddles a split of a few kilobytes


def _write_parts(out_dir, parts):
    os.makedirs(out_dir)
    for i, rows in enumerate(parts):
        with open(os.path.join(out_dir, f"part-{i:05d}"), "w", encoding="utf-8") as fh:
            fh.writelines(f"{k} {v}\n" for k, v in rows)


def test_verifier_accepts_right_output_and_rejects_wrong_ones(tmp_path):
    answer = {"a": "2", "b": "1", "c": "5", "日本": "1"}
    _write_parts(tmp_path / "ok", [[("a", "2"), ("c", "5")], [("b", "1"), ("日本", "1")]])
    check_job(str(tmp_path / "ok"), 2, answer)

    _write_parts(tmp_path / "count", [[("a", "2"), ("c", "4")], [("b", "1"), ("日本", "1")]])
    with pytest.raises(OutputMismatch, match="output differs"):
        check_job(str(tmp_path / "count"), 2, answer)

    _write_parts(tmp_path / "order", [[("c", "5"), ("a", "2")], [("b", "1"), ("日本", "1")]])
    with pytest.raises(OutputMismatch, match="not sorted"):
        check_job(str(tmp_path / "order"), 2, answer)

    with pytest.raises(OutputMismatch, match="part files"):
        check_job(str(tmp_path / "ok"), 3, answer)

    # index output: values hold spaces, and an empty line is an empty value
    lines = {"0f": "a b  c", "1e": "", "2d": " lead"}
    _write_parts(tmp_path / "index", [sorted(lines.items())])
    check_job(str(tmp_path / "index"), 1, lines)


T0 = 1_000_000.0


def iso(x):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(x, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"


def _synthetic_trace():
    """A warm job, then two timed passes of one job each, with a map stage
    that writes a shuffle and a reduce stage that reads it."""
    t = T0
    setup = [{"name": "session.start", "start": t, "end": t + 5},
             {"name": "warmup", "start": t + 5, "end": t + 8}]
    passes = [
        [{"name": "wordcount", "start": t + 10, "seconds": 2.0, "ok": True,
          "output_mb": 0.4, "check_s": 0.3, "attrs": {}}],
        [{"name": "wordcount", "start": t + 12.5, "seconds": 1.0, "ok": True,
          "output_mb": 0.4, "check_s": 0.3, "attrs": {}}],
    ]
    jobs = [
        {"jobId": 0, "submissionTime": iso(t + 6), "completionTime": iso(t + 7), "stageIds": [0],
         "status": "SUCCEEDED"},  # the warm job: under no item
        {"jobId": 1, "submissionTime": iso(t + 10.05), "completionTime": iso(t + 11.95),
         "stageIds": [1, 2], "status": "SUCCEEDED"},
        {"jobId": 2, "submissionTime": iso(t + 12.52), "completionTime": iso(t + 13.48),
         "stageIds": [3, 4], "status": "SUCCEEDED"},
    ]
    stage_fields = dict(
        executorRunTime=800, executorCpuTime=10**8, jvmGcTime=5, executorDeserializeTime=3,
        shuffleWriteBytes=0, shuffleReadBytes=0, shuffleWriteTime=0, shuffleFetchWaitTime=0,
        memoryBytesSpilled=0, diskBytesSpilled=0, peakExecutionMemory=0, numTasks=4,
        numFailedTasks=0, status="COMPLETE", attemptId=0,
    )
    windows = {0: (6, 7), 1: (10.05, 11.0), 2: (11.0, 11.95), 3: (12.52, 13.0), 4: (13.0, 13.48)}
    stages = [dict(stage_fields, stageId=k, submissionTime=iso(t + a), completionTime=iso(t + b))
              for k, (a, b) in windows.items()]
    for k in (1, 3):
        stages[k]["shuffleWriteBytes"] = 4000
        stages[k + 1]["shuffleReadBytes"] = 4000
    return passes, setup, jobs, stages


def test_traced_spans_nest_by_parent():
    passes, setup, jobs, stages = _synthetic_trace()
    spans = trace.build_spans(passes, setup, jobs, stages)
    assert trace.nest_violations(spans) == []
    by_id = {s["id"]: s for s in spans}
    names = Counter(s["name"] for s in spans)
    assert names["spark.job"] == 2  # the warm job belongs to no item
    assert names["spark.stage"] == 4 and names["mapreduce.run"] == 2
    for s in spans:
        if s["name"] == "spark.stage":
            assert by_id[s["parent"]]["name"] == "spark.job"
        elif s["name"] == "spark.job":
            assert by_id[s["parent"]]["name"] == "mapreduce.run"

    late = [dict(s) for s in spans]
    late[-1]["end"] += 5.0  # a child that outlives its parent
    assert len(trace.nest_violations(late)) == 1


def _result(jobs=None, setup_s=8.5, pass_wall=(2.35, 1.35)):
    passes, setup, jobs0, stages = _synthetic_trace()
    spans = trace.build_spans(passes, setup, jobs or jobs0, stages)
    return {"passes": passes, "setup_spans": setup, "setup_s": setup_s,
            "pass_wall_s": list(pass_wall),
            "trace": {"spans": spans, "stages": trace.stage_table(stages), "task_skew": [1.5, 1.2]}}


def test_layer_metrics_from_spans():
    m = trace.layer_metrics(_result(), {"emits": 1000, "distinct_keys": 10}, cores=4)
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2 and m["spark.tasks"] == 8
    assert m["mapreduce.run_s"] == pytest.approx(1.5)
    assert m["mr.map_stage_s"] == pytest.approx((0.95 + 0.48) / 2)
    assert m["mr.shuffle_bytes_per_emit"] == pytest.approx(4.0)
    assert m["spark.driver_gap_s"] == pytest.approx((0.1 + 0.04) / 2, abs=0.005)
    assert m["trace.nest_violations"] == 0
    assert m["trace.cover_misses"] == 0 and m["trace.cover_err"] < 0.1
    assert all(NAME.fullmatch(k) for k in m)


def test_coverage_check_can_fail():
    """Each check compares spans with a clock read on its own: a set-up,
    a pass or a job path that the spans do not account for is a miss."""
    names = dict(trace.coverage(_result()))
    assert set(names) == {"setup", "pass 0", "pass 1", "mapreduce.run 4", "mapreduce.run 6"}
    assert all(abs(r - 1) < 0.1 for r in names.values())

    for bad in (_result(setup_s=12.0), _result(pass_wall=(2.35, 1.8))):
        m = trace.layer_metrics(bad, {}, cores=4)
        assert m["trace.cover_misses"] == 1 and m["trace.cover_err"] > 0.1

    # the second job's REST interval covers half of its mapreduce.run call
    _, _, jobs, _ = _synthetic_trace()
    jobs[2]["completionTime"] = iso(T0 + 13.02)
    short = dict(trace.coverage(_result(jobs=jobs)))
    assert short["mapreduce.run 6"] == pytest.approx(0.5, abs=0.01)


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    produced = set(trace.layer_metrics(_result(), {}, cores=4)) | {"trace.overhead_s"}
    assert produced == {m["name"] for m in spec["per_layer"]}
    from perfbench import workloads

    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
