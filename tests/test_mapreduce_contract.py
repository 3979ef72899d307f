"""Reference-fidelity tests for the MapReduce contract layer
(SURVEY §5 items 1 & 3): word count on real text inputs (the
``mr_corpus`` fixture) vs an exact oracle, output-contract invariants,
one pipeline behind both sinks, tokenizer properties."""

from __future__ import annotations

import collections
import importlib
import inspect
import os
import sys
import uuid
import zipfile
import zipimport

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreducecore_spark.functions.text import (
    STRTOK_DELIMS,
    tokenize,
    wordcount_mapper,
    wordcount_reducer,
)
from mapreducecore_spark.mapreduce import (
    _grouped_reduce,
    _map_partition,
    _route,
    register_tasks,
    run_job,
    run_mapreduce,
)


def test_wordcount_matches_reference_inputs(spark, mr_corpus):
    """Exact (word,count) multiset + R partitions + per-partition
    key-sortedness on real text inputs (the rubric's correctness
    criteria, description.md:56,70-76)."""
    paths, oracle = mr_corpus
    assert oracle, "empty input proves nothing"
    lines = spark.read.text(paths)
    out = run_mapreduce(
        spark, lines, wordcount_mapper, wordcount_reducer, n_outputs=8, with_partition_id=True
    )
    rows = out.collect()
    got = {r["key"]: int(r["value"]) for r in rows}
    assert got == oracle

    by_part = collections.defaultdict(list)
    for r in rows:
        by_part[r["partition_id"]].append(r["key"])
    assert set(by_part) <= set(range(8))
    for pid, keys in by_part.items():
        assert keys == sorted(keys), f"partition {pid} not key-sorted"

    # Every key lives in exactly one partition (hash partitioning).
    all_keys = [k for keys in by_part.values() for k in keys]
    assert len(all_keys) == len(set(all_keys))


def test_partition_count_invariance(spark, mr_corpus):
    """Result multiset is independent of R (shard/partition-count
    invariance, mirrors file_shard.h's every-line-consumed contract)."""
    lines = spark.read.text(mr_corpus[0][:1])
    results = []
    for r in (1, 3, 8):
        out = run_mapreduce(spark, lines, wordcount_mapper, wordcount_reducer, n_outputs=r)
        results.append(sorted((row["key"], row["value"]) for row in out.collect()))
    assert results[0], "empty input proves nothing"
    assert results[0] == results[1] == results[2]


def test_one_core_two_sinks(spark, mr_corpus, tmp_path):
    """run_job's text files and run_mapreduce's rows come from one
    pipeline: part-0000i holds, line for line and in order, the
    partition_id == i rows. The S2 sink contract rides along: R files,
    each key-sorted, content equal to the oracle."""
    paths, oracle = mr_corpus
    r = 4
    register_tasks("one_core_wordcount", wordcount_mapper, wordcount_reducer)
    out_dir = str(tmp_path / "job")
    run_job(spark, paths, "one_core_wordcount", out_dir, n_outputs=r)
    files = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    assert len(files) == r

    rows = run_mapreduce(
        spark,
        spark.read.text(paths),
        wordcount_mapper,
        wordcount_reducer,
        n_outputs=r,
        with_partition_id=True,
    ).collect()
    seen: dict[str, int] = {}
    for i, name in enumerate(files):
        with open(os.path.join(out_dir, name), encoding="utf-8") as f:
            text_lines = f.read().splitlines()
        keys = [ln.split(" ", 1)[0] for ln in text_lines]
        assert keys == sorted(keys), f"{name} not key-sorted"
        assert text_lines == [
            f"{row['key']} {row['value']}" for row in rows if row["partition_id"] == i
        ], f"{name} differs from partition {i} of run_mapreduce"
        for ln in text_lines:
            k, v = ln.split(" ", 1)
            seen[k] = int(v)
    assert oracle, "empty input proves nothing"
    assert seen == oracle


def test_undecodable_bytes_reach_the_mapper_as_replacement_chars(spark, tmp_path):
    """The job path decodes its text input as UTF-8: the job completes
    and each undecodable byte becomes one U+FFFD inside its token."""
    src = tmp_path / "bad.txt"
    src.write_bytes(b"alpha be\xfft gamma\nalpha \xc3( delta\n")
    register_tasks("wordcount_bad_bytes", wordcount_mapper, wordcount_reducer)
    out_dir = str(tmp_path / "job")
    run_job(spark, [str(src)], "wordcount_bad_bytes", out_dir, n_outputs=2)
    got: dict[str, int] = {}
    for name in os.listdir(out_dir):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name), encoding="utf-8") as f:
                for ln in f.read().splitlines():
                    k, v = ln.split(" ", 1)
                    got[k] = int(v)
    assert got == {"alpha": 2, "be\ufffdt": 1, "gamma": 1, "\ufffd(": 1, "delta": 1}


def test_null_lines_never_reach_the_mapper(spark):
    def strict_mapper(line):
        if not isinstance(line, str):
            raise TypeError(f"mapper got {line!r}")
        return wordcount_mapper(line)

    lines = spark.createDataFrame([("a b",), (None,), ("b",)], "value string")
    out = run_mapreduce(spark, lines, strict_mapper, wordcount_reducer, n_outputs=2)
    assert sorted(map(tuple, out.collect())) == [("a", "1"), ("b", "2")]


def _zip_finders() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


@pytest.mark.parametrize("close_early", [False, True], ids=["to_the_end", "closed_early"])
def test_partition_functions_leave_no_zip_finder(tmp_path, monkeypatch, close_early):
    """Both partition functions drop every zip finder when they finish
    or are closed, so the worker's next task has no archive to re-read;
    modules imported from a zip before the drop keep working, and a
    zip module first imported after it still imports."""
    pkg = f"zpkg_{uuid.uuid4().hex[:8]}"
    zpath = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/before.py", "def value():\n    return 'before'\n")
        zf.writestr(f"{pkg}/after.py", "VALUE = 'after'\n")
    # The map side checks PYTHONHASHSEED, which Spark sets on its workers.
    monkeypatch.setenv("PYTHONHASHSEED", os.environ.get("PYTHONHASHSEED", "0"))
    monkeypatch.syspath_prepend(zpath)
    try:
        before = importlib.import_module(f"{pkg}.before")
        runs = [
            (_map_partition(wordcount_mapper), [("a b",), (None,), ("c",)]),
            (_grouped_reduce(wordcount_reducer), [("a", "1"), ("a", "1"), ("b", "1")]),
        ]
        for fn, rows in runs:
            sys.path_importer_cache[zpath] = zipimport.zipimporter(zpath)
            assert zpath in _zip_finders()
            gen = fn(iter(rows))
            if close_early:
                next(gen)
                gen.close()
            else:
                assert list(gen)
            assert _zip_finders() == []
        assert before.value() == "before"
        assert "def value" in before.__loader__.get_source(before.__name__)
        assert importlib.import_module(f"{pkg}.after").VALUE == "after"
    finally:
        for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
            del sys.modules[name]


def test_pyspark_still_invalidates_import_caches_per_task():
    """Pins why ``_drop_zip_finders`` exists: PySpark's worker calls
    ``importlib.invalidate_caches()`` before every task. When this
    fails, PySpark has stopped per-task invalidation, so delete
    ``_drop_zip_finders`` and this test."""
    from pyspark import worker_util

    assert "invalidate_caches" in inspect.getsource(worker_util.setup_spark_files)


def test_route_matches_portable_hash(spark):
    """The default route equals ``portable_hash`` on every key type, so
    each key lands in the same partition. Checked inside a Spark task,
    where PYTHONHASHSEED is set as on any worker."""
    from pyspark.rdd import portable_hash

    keys = ["", "alpha", "Grüße 日本", "\ufffd", "be\ufffdt", None, 42, ("a", None, 7)]

    def both(_):
        assert "PYTHONHASHSEED" in os.environ
        return [(repr(k), _route(k), portable_hash(k)) for k in keys]

    got = spark.sparkContext.parallelize([0], 1).flatMap(both).collect()
    assert len(got) == len(keys)
    for key, routed, portable in got:
        assert routed == portable, key


def test_reducer_sees_ascending_keys(spark):
    """The reduce contract: called per distinct key in ascending order
    within each partition (worker.h:150-152)."""

    def spy_reducer(key, values):
        # Emit the key with its value count; ordering is asserted via
        # the partition-id output being sorted (checked below).
        yield key, str(len(values))

    lines = spark.createDataFrame(
        [(f"w{i % 7} w{i % 3}",) for i in range(50)], ["value"]
    )
    out = run_mapreduce(
        spark, lines, wordcount_mapper, spy_reducer, n_outputs=4, with_partition_id=True
    )
    rows = out.collect()
    by_part = collections.defaultdict(list)
    for r in rows:
        by_part[r["partition_id"]].append(r["key"])
    for pid, keys in by_part.items():
        assert keys == sorted(keys)
        assert len(keys) == len(set(keys)), "reducer must be called once per key"


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200))
@settings(max_examples=300, deadline=None)
def test_tokenizer_matches_strtok_semantics(line):
    """Property: tokenize == manual strtok on the 5-char delimiter set
    (collapse runs, drop empties, nothing else is a delimiter)."""
    toks = tokenize(line)
    # Manual strtok: repeatedly skip delims, take maximal non-delim run.
    expect, cur = [], []
    for ch in line:
        if ch in STRTOK_DELIMS:
            if cur:
                expect.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        expect.append("".join(cur))
    assert toks == expect
    assert all(t != "" for t in toks)
