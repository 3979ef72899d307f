"""Spans and per-layer metrics of a traced run, from Spark's public telemetry.

The worker times each call into a layer (session start, the warm job,
each item and, inside it, ``mapreduce.run``). After the timed passes this
module reads the Spark UI's REST ``/jobs`` and ``/stages`` endpoints and
hangs each job and stage under the span it ran in. Items run one at a
time, so a job belongs to the item whose window holds its submission.
"""

from __future__ import annotations

import statistics
from datetime import datetime, timezone

TOL = 0.005  # REST times are whole milliseconds
COVER_TOL = 0.10  # a coverage ratio further than this from 1 is a miss


def parse_time(s: str | None) -> float | None:
    """Epoch seconds of a REST ("...GMT") or progress ("...Z") time."""
    if not s:
        return None
    s = s.replace("GMT", "").replace("Z", "")
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


def stage_table(stages: list) -> dict:
    keep = (
        "executorRunTime", "executorCpuTime", "jvmGcTime", "executorDeserializeTime",
        "shuffleWriteBytes", "shuffleReadBytes", "shuffleWriteTime", "shuffleFetchWaitTime",
        "memoryBytesSpilled", "diskBytesSpilled", "peakExecutionMemory", "numTasks",
        "numFailedTasks",
    )
    return {
        f"{s['stageId']}.{s['attemptId']}": {k: s.get(k, 0) for k in keep}
        for s in stages if s.get("status") != "SKIPPED"
    }


def build_spans(passes, setup_spans, jobs, stages) -> list[dict]:
    """One span per call into a layer; every span names its parent.

    ``passes`` holds the worker's item results, as objects or dicts."""
    spans: list[dict] = []

    def add(layer, name, start, end, parent, **attrs):
        spans.append({
            "id": len(spans), "parent": parent, "layer": layer, "name": name,
            "start": start, "end": end, "attrs": attrs,
        })
        return len(spans) - 1

    items = [(i, _as_dict(r)) for i, p in enumerate(passes) for r in p]
    starts = [s["start"] for s in setup_spans] + [r["start"] for _, r in items]
    ends = [s["end"] for s in setup_spans] + [r["start"] + r["seconds"] for _, r in items]
    root = add("worker", "worker", min(starts), max(ends), None)
    for s in setup_spans:
        add("setup", s["name"], s["start"], s["end"], root)
    inner = []  # (span id) of spans a job can run under
    for i, r in items:
        t0, t1 = r["start"], r["start"] + r["seconds"]
        item = add("item", r["name"], t0, t1, root, pass_no=i, ok=r["ok"],
                   group_jobs=r.get("attrs", {}).get("group_jobs"))
        inner.append(add("mapreduce", "mapreduce.run", t0, t1, item))

    def under(t: float) -> int | None:
        for sid in inner:
            if spans[sid]["start"] - TOL <= t <= spans[sid]["end"] + TOL:
                return sid
        return None

    by_stage = {}
    for s in stages:
        if s.get("status") != "SKIPPED" and s.get("submissionTime"):
            by_stage.setdefault(s["stageId"], []).append(s)
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        t0, t1 = parse_time(j.get("submissionTime")), parse_time(j.get("completionTime"))
        parent = under(t0) if t0 is not None else None
        if parent is None or t1 is None:
            continue
        jid = add("spark", "spark.job", t0, t1, parent, job_id=j["jobId"],
                  group=j.get("jobGroup"), status=j["status"])
        for sid in j["stageIds"]:
            for s in by_stage.get(sid, ()):
                add("spark", "spark.stage", parse_time(s["submissionTime"]),
                    parse_time(s.get("completionTime")) or t1, jid,
                    stage_id=sid, attempt_id=s["attemptId"],
                    key=f"{sid}.{s['attemptId']}")
    return spans


def _as_dict(r) -> dict:
    return r if isinstance(r, dict) else r.__dict__


def pass_of(spans: list[dict]) -> dict[int, int]:
    """Span id -> the timed pass it ran in, for spans under an item."""
    out: dict[int, int] = {}
    for s in spans:  # parents always precede their children
        if s["layer"] == "item":
            out[s["id"]] = s["attrs"]["pass_no"]
        elif s["parent"] in out:
            out[s["id"]] = out[s["parent"]]
    return out


def longest_stages(spans: list[dict]) -> dict[int, dict]:
    """The longest stage span of each pass."""
    where = pass_of(spans)
    best: dict[int, dict] = {}
    for s in spans:
        if s["name"] == "spark.stage" and s["id"] in where:
            p = where[s["id"]]
            if p not in best or s["end"] - s["start"] > best[p]["end"] - best[p]["start"]:
                best[p] = s
    return best


def nest_violations(spans: list[dict], tol: float = TOL) -> list[str]:
    """Spans whose parent is missing or whose window leaves the parent's."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        if s["parent"] is None:
            continue
        p = by_id.get(s["parent"])
        if p is None:
            bad.append(f"span {s['id']} has no parent {s['parent']}")
        elif s["start"] < p["start"] - tol or s["end"] > p["end"] + tol:
            bad.append(f"{s['name']} {s['id']} leaves {p['name']} {p['id']}")
    return bad


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def coverage(result: dict) -> list[tuple[str, float]]:
    """Checks that the spans account for the time measured around them,
    each a ratio that should be 1: the set-up spans against ``setup_s``,
    which the orchestrator times from the worker's spawn; each pass's
    items plus their output checks against a clock read around the whole
    pass; and each ``mapreduce.run`` call against the union of the REST
    job intervals under it, which the JVM times on its own clock."""
    out = []
    setup = sum(s["end"] - s["start"] for s in result["setup_spans"])
    if result.get("setup_s"):
        out.append(("setup", setup / result["setup_s"]))
    for i, (p, wall) in enumerate(zip(result["passes"], result.get("pass_wall_s", ()))):
        out.append((f"pass {i}", sum(r["seconds"] + r["check_s"] for r in p) / wall))
    spans = result["trace"]["spans"]
    jobs: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["name"] == "spark.job":
            jobs.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        if s["name"] == "mapreduce.run" and s["end"] > s["start"]:
            busy = union_seconds(jobs.get(s["id"], []))
            out.append((f"mapreduce.run {s['id']}", busy / (s["end"] - s["start"])))
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(result: dict, inputs: dict, cores: int) -> dict[str, float]:
    """Per-layer figures of one traced worker: the median over its timed
    passes of each pass's total, plus its set-up spans."""
    spans, stages = result["trace"]["spans"], result["trace"]["stages"]
    by_id = {s["id"]: s for s in spans}
    where = pass_of(spans)
    passes = result["passes"]
    per = [dict.fromkeys(PASS_KEYS, 0.0) for _ in passes]
    jobs_of: dict[int, list[tuple[float, float]]] = {}
    for i, p in enumerate(passes):
        for r in p:
            per[i]["item_s"] += r["seconds"]
            per[i]["output_mb"] += r["output_mb"]
    for s in spans:
        if s["id"] not in where:
            continue
        acc = per[where[s["id"]]]
        dur = s["end"] - s["start"]
        if s["name"] == "spark.job":
            acc["jobs"] += 1
            item = by_id[s["parent"]]["parent"]
            jobs_of.setdefault(item, []).append((s["start"], s["end"]))
        elif s["name"] == "spark.stage":
            st = stages.get(s["attrs"]["key"])
            if st is None:
                continue
            acc["stages"] += 1
            acc["tasks"] += st["numTasks"]
            acc["run"] += st["executorRunTime"] / 1e3
            acc["cpu"] += st["executorCpuTime"] / 1e9
            acc["gc"] += st["jvmGcTime"] / 1e3
            acc["deser"] += st["executorDeserializeTime"] / 1e3
            acc["sw_mb"] += st["shuffleWriteBytes"] / 1e6
            acc["sr_mb"] += st["shuffleReadBytes"] / 1e6
            acc["sw_s"] += st["shuffleWriteTime"] / 1e9
            acc["fetch_s"] += st["shuffleFetchWaitTime"] / 1e3
            acc["spill_mb"] += st["diskBytesSpilled"] / 1e6
            acc["peak_mb"] = max(acc["peak_mb"], st["peakExecutionMemory"] / 1e6)
            acc["failed_tasks"] += st["numFailedTasks"]
            if st["shuffleWriteBytes"] > 0:
                acc["map_stage_s"] += dur
            elif st["shuffleReadBytes"] > 0:
                acc["reduce_stage_s"] += dur
    for s in spans:
        if s["layer"] == "item":
            busy = union_seconds([
                (max(a, s["start"]), min(b, s["end"])) for a, b in jobs_of.get(s["id"], ())
            ])
            per[s["attrs"]["pass_no"]]["gap_s"] += max(s["end"] - s["start"] - busy, 0.0)

    def m(key, f=None):
        return median(f(acc) if f else acc[key] for acc in per)

    setup = {s["name"]: s["end"] - s["start"] for s in result["setup_spans"]}
    cover = [ratio for _, ratio in coverage(result)]
    emits = inputs.get("emits", 0)
    return {
        "session.start_s": setup.get("session.start", 0.0),
        "warmup_s": setup.get("warmup", 0.0),
        "mapreduce.run_s": m("item_s"),
        "mr.map_stage_s": m("map_stage_s"),
        "mr.reduce_stage_s": m("reduce_stage_s"),
        "mr.emits": emits,
        "mr.distinct_keys": inputs.get("distinct_keys", 0),
        "mr.shuffle_bytes_per_emit": m("sw_mb") * 1e6 / emits if emits else 0.0,
        "mr.output_mb": m("output_mb"),
        "spark.jobs": m("jobs"),
        "spark.stages": m("stages"),
        "spark.tasks": m("tasks"),
        "spark.driver_gap_s": m("gap_s"),
        "spark.executor_run_s": m("run"),
        "spark.executor_cpu_s": m("cpu"),
        "spark.offcpu_s": m(None, lambda a: a["run"] - a["cpu"]),
        "spark.gc_s": m("gc"),
        "spark.deserialize_s": m("deser"),
        "spark.core_busy": m(None, lambda a: a["run"] / (a["item_s"] * cores) if a["item_s"] else 0.0),
        "spark.shuffle_write_mb": m("sw_mb"),
        "spark.shuffle_read_mb": m("sr_mb"),
        "spark.shuffle_write_s": m("sw_s"),
        "spark.fetch_wait_s": m("fetch_s"),
        "spark.spill_mb": m("spill_mb"),
        "spark.peak_exec_mem_mb": m("peak_mb"),
        "spark.task_skew": median(result["trace"]["task_skew"]),
        "spark.failed_tasks": m("failed_tasks"),
        "trace.cover_err": max((abs(x - 1.0) for x in cover), default=0.0),
        "trace.cover_misses": sum(abs(x - 1.0) > COVER_TOL for x in cover),
        "trace.nest_violations": len(nest_violations(spans)),
    }


PASS_KEYS = (
    "item_s", "output_mb", "jobs", "stages", "tasks", "run", "cpu", "gc", "deser",
    "sw_mb", "sr_mb", "sw_s", "fetch_s", "spill_mb", "peak_mb", "failed_tasks",
    "map_stage_s", "reduce_stage_s", "gap_s",
)
