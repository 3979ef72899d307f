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

from mapreducecore_spark import mapreduce
from mapreducecore_spark.config import SpecError
from mapreducecore_spark.functions.text import (
    STRTOK_DELIMS,
    tokenize,
    wordcount_mapper,
    wordcount_reducer,
)
from mapreducecore_spark.mapreduce import (
    _BLOCK_LINES,
    _FLUSH_VALUES,
    _PROBE_EMITS,
    _grouped_reduce,
    _lines,
    _map_partition,
    _part_writer,
    _route,
    _shard_lines,
    _shards,
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


def test_text_sink_is_byte_identical_across_blocks(spark, tmp_path):
    """run_job's reduce tasks write their lines in newline-joined blocks;
    each part file equals, byte for byte, one "key value\\n" per partition_id == i
    row of run_mapreduce, across several blocks in one partition, and an
    empty partition gives an empty file."""
    r, empty = 3, 2
    words = [f"w{i:05d}" for i in range(4 * r * _BLOCK_LINES)]
    routed = spark.sparkContext.parallelize([0], 1).flatMap(
        lambda _: [(w, _route(w) % r) for w in words]
    )
    kept = [w for w, pid in routed.collect() if pid != empty]
    src = tmp_path / "words.txt"
    src.write_text("".join(f"{w} {w}\n" for w in kept), encoding="utf-8")
    register_tasks("text_blocks_wordcount", wordcount_mapper, wordcount_reducer)
    out_dir = str(tmp_path / "job")
    run_job(spark, [str(src)], "text_blocks_wordcount", out_dir, n_outputs=r)

    rows = run_mapreduce(
        spark,
        spark.read.text(str(src)),
        wordcount_mapper,
        wordcount_reducer,
        n_outputs=r,
        with_partition_id=True,
    ).collect()
    sizes = collections.Counter(row["partition_id"] for row in rows)
    assert max(sizes.values()) > 2 * _BLOCK_LINES, sizes
    assert sizes[empty] == 0
    files = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    assert len(files) == r
    for i, name in enumerate(files):
        with open(os.path.join(out_dir, name), "rb") as f:
            got = f.read()
        want = "".join(f"{row['key']} {row['value']}\n" for row in rows if row["partition_id"] == i)
        assert got == want.encode("utf-8"), name
    assert os.path.getsize(os.path.join(out_dir, files[empty])) == 0


def test_lines_keeps_scan_splits_and_feeds_first_column(spark, mr_corpus):
    """_lines has the scan's partitions at every split size, so the map
    tasks are the same as the DataFrame's, and it feeds the mapper only
    the first column, nulls skipped."""
    paths, oracle = mr_corpus
    assert oracle, "empty input proves nothing"
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, None)
    counts = []
    try:
        for split in ("4k", "64k", "128m"):
            spark.conf.set(key, split)
            df = spark.read.text(paths)
            counts.append(df.rdd.getNumPartitions())
            assert _lines(df).getNumPartitions() == counts[-1], split
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert len(set(counts)) == 3, counts

    two = spark.createDataFrame(
        [("a b", "x y"), (None, "z"), ("b", "x")], "text string, other string"
    )
    assert _lines(two).collect() == ["a b", None, "b"]
    out = run_mapreduce(spark, two, wordcount_mapper, wordcount_reducer, n_outputs=2)
    assert sorted(map(tuple, out.collect())) == [("a", "1"), ("b", "2")]


def _zip_finders() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


@pytest.mark.parametrize("close_early", [False, True], ids=["to_the_end", "closed_early"])
def test_partition_functions_leave_no_zip_finder(tmp_path, monkeypatch, close_early):
    """Both partition functions drop every zip finder when they finish
    or are closed, so the worker's next task has no archive to re-read;
    modules imported from a zip before the drop keep working, and a
    zip module first imported after it still imports. The map side is
    closed early both while it yields groups and after a distinct-key
    probe has switched it to plain pairs."""
    pkg = f"zpkg_{uuid.uuid4().hex[:8]}"
    zpath = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/before.py", "def value():\n    return 'before'\n")
        zf.writestr(f"{pkg}/after.py", "VALUE = 'after'\n")
    # The map side checks PYTHONHASHSEED, which Spark sets on its workers.
    monkeypatch.setenv("PYTHONHASHSEED", os.environ.get("PYTHONHASHSEED", "0"))
    monkeypatch.syspath_prepend(zpath)
    distinct = [f"d{i}" for i in range(2 * _PROBE_EMITS)]
    try:
        before = importlib.import_module(f"{pkg}.before")
        # (partition function, input, records to take before closing)
        runs = [
            (_map_partition(wordcount_mapper), ["a b", None, "c"], 1),
            (_map_partition(wordcount_mapper), distinct, 1),
            (_map_partition(wordcount_mapper), distinct, _PROBE_EMITS + 1),
            (_grouped_reduce(wordcount_reducer), [("a", "1"), ("a", ["1"]), ("b", "1")], 1),
        ]
        for fn, rows, steps in runs:
            sys.path_importer_cache[zpath] = zipimport.zipimporter(zpath)
            assert zpath in _zip_finders()
            gen = fn(iter(rows))
            if close_early:
                taken = [next(gen) for _ in range(steps)]
                if steps > _PROBE_EMITS:
                    assert type(taken[-1][1]) is str, "not yet switched to plain pairs"
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


def _strict_mapper(line):
    """Emits each token after the line's first under the value
    "<first token>.<position>", so a value names its emit."""
    if not isinstance(line, str):
        raise TypeError(f"mapper got {line!r}")
    tag, *toks = line.split()
    for j, tok in enumerate(toks):
        yield tok, f"{tag}.{j}"


def _values_by_key(records) -> dict[str, list[str]]:
    """Each key's values in record order, list records flattened."""
    got: dict[str, list[str]] = collections.defaultdict(list)
    for k, v in records:
        if type(v) is list:
            got[k].extend(v)
        else:
            got[k].append(v)
    return dict(got)


def _emits(lines) -> dict[str, list[str]]:
    return _values_by_key(kv for line in lines if line is not None for kv in _strict_mapper(line))


def test_map_partition_groups_repeated_keys(monkeypatch):
    """A task whose keys repeat ships fewer records than emits; each
    key's values, flattened, are its emits in emission order. ``None``
    lines, inside the probe and after it, never reach the mapper."""
    monkeypatch.setenv("PYTHONHASHSEED", "0")
    lines = [f"l{i} w{i % 5} w{i % 3} w{i % 5}" for i in range(3 * _PROBE_EMITS)]
    lines[7] = lines[-7] = None
    records = list(_map_partition(_strict_mapper)(iter(lines)))
    n_emits = sum(len(vs) for vs in _emits(lines).values())
    assert len(records) < n_emits / 100, (len(records), n_emits)
    assert all(type(v) is list for _, v in records)
    assert _values_by_key(records) == _emits(lines)


def test_map_partition_ships_plain_pairs_after_a_distinct_probe(monkeypatch):
    """A task whose first emits are mostly distinct keys yields its
    probe's groups, then every later emit as a plain ``(key, str)``.
    ``None`` lines, before the switch and after it, never reach the
    mapper."""
    monkeypatch.setenv("PYTHONHASHSEED", "0")
    lines = [f"l{i} k{i} j{i}" for i in range(3 * _PROBE_EMITS)]
    lines[3] = lines[-3] = None
    records = list(_map_partition(_strict_mapper)(iter(lines)))
    kinds = [type(v) for _, v in records]
    switch = kinds.index(str)
    assert switch == _PROBE_EMITS
    assert set(kinds[:switch]) == {list} and set(kinds[switch:]) == {str}
    assert len(records) - switch > _PROBE_EMITS
    assert _values_by_key(records) == _emits(lines)


def test_map_partition_flushes_bounded_groups(monkeypatch):
    """Past ``_FLUSH_VALUES`` held values a grouping task flushes, so a
    hot key leaves in several records and no list outgrows the bound."""
    monkeypatch.setenv("PYTHONHASHSEED", "0")
    lines = [f"l{i} hot w{i % 7}" for i in range(_FLUSH_VALUES)]
    records = list(_map_partition(_strict_mapper)(iter(lines)))
    hot = [v for k, v in records if k == "hot"]
    assert len(hot) > 1
    assert max(len(v) for _, v in records) <= _FLUSH_VALUES
    assert _values_by_key(records) == _emits(lines)


def test_grouped_reduce_merges_both_record_forms():
    """Plain and list records of one key, interleaved, reach the reducer
    in one call holding every value, in record order."""
    calls = []

    def spy(key, values):
        calls.append((key, list(values)))
        yield key, str(len(values))

    records = [
        ("a", ["1", "2"]),
        ("a", "3"),
        ("a", ["4"]),
        ("a", "5"),
        ("b", "6"),
        ("c", ["7", "8"]),
        ("c", "9"),
    ]
    out = list(_grouped_reduce(spy)(iter(records)))
    assert calls == [("a", ["1", "2", "3", "4", "5"]), ("b", ["6"]), ("c", ["7", "8", "9"])]
    assert out == [("a", "5"), ("b", "1"), ("c", "3")]


def test_run_job_mixes_grouped_and_plain_map_tasks(spark, tmp_path, monkeypatch):
    """One split whose keys repeat (grouped) and one whose keys are all
    distinct (plain after the probe), sharing keys: the part files equal
    a pure-Python word count, each key in its routed, key-sorted file."""
    monkeypatch.setenv("PYTHONHASHSEED", os.environ.get("PYTHONHASHSEED", "0"))
    repeated = [f"s{i % 9} r{i % 4} s{i % 9}" for i in range(2 * _PROBE_EMITS)]
    distinct = [f"u{i}" if i % 50 else f"s{i % 9} u{i}" for i in range(3 * _PROBE_EMITS)]
    paths = []
    for name, lines in (("repeated.txt", repeated), ("distinct.txt", distinct)):
        path = tmp_path / name
        path.write_text("\n".join(lines) + "\n", encoding="utf-8")
        paths.append(str(path))
        forms = {type(v) for _, v in _map_partition(wordcount_mapper)(iter(lines))}
        assert forms == ({list} if name == "repeated.txt" else {list, str}), name
    r = 4
    out_dir = tmp_path / "job"
    # 36 KB shards: the first is exactly repeated.txt, the second all of
    # distinct.txt, so each file is one map task.
    sizes = [os.path.getsize(p) for p in paths]
    assert sizes[0] == 36 * 1024 and sizes[1] <= 36 * 1024, sizes
    assert _shards(paths, 36 * 1024) == [((paths[0], 0, sizes[0]),), ((paths[1], 0, sizes[1]),)]
    register_tasks("mixed_forms", wordcount_mapper, wordcount_reducer)
    run_job(spark, paths, "mixed_forms", str(out_dir), n_outputs=r, map_kilobytes=36)

    counts = collections.Counter(tok for ln in repeated + distinct for tok in tokenize(ln))
    keys = sorted(counts)
    # Routed inside a Spark task, where PYTHONHASHSEED is the workers'.
    one = spark.sparkContext.parallelize([0], 1)
    routed = dict(one.flatMap(lambda _: [(k, _route(k) % r) for k in keys]).collect())
    files = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    assert len(files) == r
    for i, name in enumerate(files):
        with open(out_dir / name, encoding="utf-8") as f:
            got = f.read()
        assert got == "".join(f"{k} {counts[k]}\n" for k in keys if routed[k] == i), name


_FUZZ_PIECES = ["a", "b c", " ", "é", "日本", "🙂", "\n", "\r", "\r\n", "\n\n", "\r\r\n"]


# ``(_READ_BLOCK, _TAIL_BLOCK)``: the defaults, and reads small enough
# that lines, multi-byte characters and CRLFs are cut between blocks.
_READ_SIZES = [(mapreduce._READ_BLOCK, mapreduce._TAIL_BLOCK), (1, 1), (3, 2)]


def test_shard_reader_matches_spark_text_source(spark, tmp_path, monkeypatch):
    """Seeded byte fuzz: for shards of 1, 2, 3, 7 and 64 bytes laid
    across 1-4 files, the lines the map tasks read equal, in order,
    the lines ``spark.read.text`` gives each file. The files are valid
    UTF-8 with all three terminators and empty lines, some with a
    leading BOM (one is a BOM alone), some empty, some without a final
    terminator; small shards cut multi-byte characters and CRLFs. Each
    shard is read with the default block sizes and with blocks of a few
    bytes, so most ranges stream in many blocks."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20261019)
    fuzz = tmp_path / "fuzz"
    fuzz.mkdir()
    cases = []
    for c in range(40):
        paths = []
        for j in range(rng.randint(1, 4)):
            data = "".join(rng.choice(_FUZZ_PIECES) for _ in range(rng.randint(0, 40))).encode()
            if rng.random() < 0.3:
                data = b"\xef\xbb\xbf" + data
            if c == 0 and j == 0:
                data = b"\xef\xbb\xbf"
            path = fuzz / f"c{c:02d}_{j}.txt"
            path.write_bytes(data)
            paths.append(str(path))
        cases.append(paths)
    # One scan: each small file is one split, read in order.
    by_file = collections.defaultdict(list)
    for row in spark.read.text(str(fuzz)).select(F.input_file_name(), "value").collect():
        by_file[os.path.basename(row[0])].append(row[1])
    assert sum(map(len, by_file.values())) > 500
    spanned = 0
    for paths in cases:
        want = [ln for p in paths for ln in by_file[os.path.basename(p)]]
        for n in (1, 2, 3, 7, 64):
            shards = _shards(paths, n)
            spanned += any(len({p for p, _, _ in shard}) > 1 for shard in shards)
            for block, tail in _READ_SIZES:
                monkeypatch.setattr(mapreduce, "_READ_BLOCK", block)
                monkeypatch.setattr(mapreduce, "_TAIL_BLOCK", tail)
                got = list(_shard_lines(shards))
                assert got == want, (n, block, [open(p, "rb").read() for p in paths])
    assert spanned, "no shard spanned two files"


def test_shard_reader_replaces_each_byte_of_an_encoded_surrogate(tmp_path, monkeypatch):
    """Pins the job path's invalid-UTF-8 rule, Python's: the encoded
    surrogate ``\\xed\\xa0\\x80`` becomes three U+FFFD (Spark's text
    source, decoding in Java, gives one), also when the bytes are read
    in blocks that cut the sequence."""
    src = tmp_path / "surrogate.txt"
    src.write_bytes(b"a\xed\xa0\x80b\nc\n")
    for block, tail in _READ_SIZES:
        monkeypatch.setattr(mapreduce, "_READ_BLOCK", block)
        monkeypatch.setattr(mapreduce, "_TAIL_BLOCK", tail)
        for n in (1, 2, 1024):
            assert list(_shard_lines(_shards([str(src)], n))) == ["a\ufffd\ufffd\ufffdb", "c"]


def test_shard_reader_holds_one_block_of_a_long_range(tmp_path, monkeypatch):
    """A range many blocks long streams: it is read in blocks of at most
    ``_READ_BLOCK`` bytes, and its first line comes out after the first
    block, while the rest of the range is still on disk."""
    monkeypatch.setattr(mapreduce, "_READ_BLOCK", 1024)
    src = tmp_path / "long.txt"
    want = [f"line {i:05d} " + "x" * (i % 37) for i in range(20000)]
    src.write_text("\n".join(want) + "\n", encoding="utf-8")
    size = src.stat().st_size
    pulled = []

    def blocks():
        for block in mapreduce._owned_bytes(str(src), 0, size):
            pulled.append(len(block))
            yield block

    lines = mapreduce._split_lines(blocks())
    assert next(lines) == want[0]
    assert pulled == [1024]
    assert [want[0], *lines] == want
    assert len(pulled) == -(-size // 1024) > 400 and max(pulled) == 1024


@pytest.mark.parametrize("name", ["a_dir", "part-0.txt.gz", "missing.txt", "a_fifo"])
def test_run_job_rejects_an_input_no_map_task_can_read(spark, tmp_path, name):
    """``run_job`` checks its inputs on the driver as ``run()`` does: a
    directory, a compressed file, a missing path or a file that is not
    regular raises ``SpecError`` naming it before any task runs."""
    (tmp_path / "a_dir").mkdir()
    os.mkfifo(tmp_path / "a_fifo")
    (tmp_path / "part-0.txt.gz").write_bytes(b"\x1f\x8b\x08\x00")
    register_tasks("reject_wordcount", wordcount_mapper, wordcount_reducer)
    with pytest.raises(SpecError, match=name):
        run_job(spark, [str(tmp_path / name)], "reject_wordcount", str(tmp_path / "job"))
    assert not (tmp_path / "job").exists()


def test_shards_use_absolute_paths(tmp_path, monkeypatch):
    """A relative input path is resolved against the driver's working
    directory, not a worker's."""
    (tmp_path / "in.txt").write_bytes(b"a\nb\n")
    monkeypatch.chdir(tmp_path)
    assert _shards(["in.txt"], 1024) == [((str(tmp_path / "in.txt"), 0, 4),)]


def test_shards_span_files_so_small_files_share_map_tasks(spark, tmp_path):
    """40 files of 1 KB with ``map_kilobytes=16`` run as 3 map tasks
    (M = ceil(40 KB / 16 KB), file_shard.h:35), not one per file, and
    every line is mapped once."""

    # Closures, so Spark's workers get them by value.
    def task_mapper(line):
        from pyspark import TaskContext

        yield "task", str(TaskContext.get().partitionId())
        yield "lines", "1"

    def task_reducer(key, values):
        yield key, ",".join(sorted(set(values))) if key == "task" else str(len(values))

    paths = []
    for i in range(40):
        path = tmp_path / f"f{i:02d}.txt"
        path.write_bytes(b"".join(b"%02d line %03d....\n" % (i, j) for j in range(64)))
        assert path.stat().st_size == 1024
        paths.append(str(path))
    assert len(_shards(paths, 16 * 1024)) == 3
    register_tasks("map_task_ids", task_mapper, task_reducer)
    out_dir = tmp_path / "job"
    run_job(spark, paths, "map_task_ids", str(out_dir), n_outputs=1, map_kilobytes=16)
    got = dict(ln.split(" ", 1) for ln in (out_dir / "part-00000").read_text().splitlines())
    assert got == {"lines": str(40 * 64), "task": "0,1,2"}


def test_empty_inputs_give_r_empty_part_files(spark, tmp_path):
    """Empty input files make no shard; the job still writes R part
    files, all empty."""
    paths = [tmp_path / "a.txt", tmp_path / "b.txt"]
    for p in paths:
        p.write_bytes(b"")
    assert _shards([str(p) for p in paths], 1024) == []
    register_tasks("empty_wordcount", wordcount_mapper, wordcount_reducer)
    out_dir = tmp_path / "job"
    run_job(spark, [str(p) for p in paths], "empty_wordcount", str(out_dir), n_outputs=3)
    files = sorted(out_dir.glob("part-*"))
    assert len(files) == 3
    assert [f.stat().st_size for f in files] == [0, 0, 0]


def test_run_job_leaves_only_the_part_files(spark, tmp_path):
    """Like the reference's workers, the job leaves exactly R files
    named part-00000 ... part-<R-1>: no ``_SUCCESS``, no ``.crc`` and
    no attempt's hidden file."""
    src = tmp_path / "in.txt"
    src.write_text("a b c\nb c d\n" * 50, encoding="utf-8")
    register_tasks("only_parts_wordcount", wordcount_mapper, wordcount_reducer)
    out_dir = tmp_path / "job"
    run_job(spark, [str(src)], "only_parts_wordcount", str(out_dir), n_outputs=3)
    assert sorted(os.listdir(out_dir)) == ["part-00000", "part-00001", "part-00002"]
    got = dict(ln.split(" ") for f in out_dir.iterdir() for ln in f.read_text().splitlines())
    assert got == {"a": "50", "b": "100", "c": "100", "d": "50"}


def test_run_job_refuses_an_existing_output_dir(spark, tmp_path):
    """An existing ``output_dir`` raises before any Spark job runs and
    keeps its contents; the same call into a new dir does run a job in
    the group, so the empty group is not vacuous."""
    src = tmp_path / "in.txt"
    src.write_text("a b\n", encoding="utf-8")
    register_tasks("existing_dir_wordcount", wordcount_mapper, wordcount_reducer)
    out_dir = tmp_path / "job"
    out_dir.mkdir()
    (out_dir / "part-00000").write_text("keep me\n")
    sc = spark.sparkContext
    group = f"existing-dir-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "run_job into an existing dir")
    try:
        with pytest.raises(FileExistsError):
            run_job(spark, [str(src)], "existing_dir_wordcount", str(out_dir), n_outputs=2)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        run_job(spark, [str(src)], "existing_dir_wordcount", str(tmp_path / "new"), n_outputs=2)
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert os.listdir(out_dir) == ["part-00000"]
    assert (out_dir / "part-00000").read_text() == "keep me\n"


def test_run_job_removes_its_output_dir_when_a_reducer_fails(spark, tmp_path):
    """A reducer that raises on one key fails the job, and the dir the
    job made is gone."""

    def failing_reducer(key, values):
        if key == "boom":
            raise ValueError("reducer failed on purpose")
        yield key, str(len(values))

    src = tmp_path / "in.txt"
    src.write_text("".join(f"w{i} boom\n" for i in range(200)), encoding="utf-8")
    register_tasks("failing_reducer", wordcount_mapper, failing_reducer)
    out_dir = tmp_path / "job"
    with pytest.raises(Exception, match="reducer failed on purpose"):
        run_job(spark, [str(src)], "failing_reducer", str(out_dir), n_outputs=4)
    assert os.listdir(tmp_path) == ["in.txt"]


class _Attempt:
    """A task context that only knows its attempt id."""

    def __init__(self, attempt: int):
        self.attempt = attempt

    def taskAttemptId(self) -> int:
        return self.attempt


def test_part_writer_attempts_each_replace_a_whole_file(tmp_path, monkeypatch):
    """No Spark: three attempts of one reduce task, each checked while
    it is mid-file. The first leaves no part file yet; during a retry
    the first's whole file is still there; a speculative copy that
    runs to its end inside the third attempt leaves a whole file that
    stays whole. After each, one complete part file and no hidden one."""
    from pyspark import TaskContext

    pairs = [(f"k{i:04d}", str(i)) for i in range(3 * _BLOCK_LINES)]
    want = "".join(f"{k} {v}\n" for k, v in pairs)
    write = _part_writer(str(tmp_path))
    part = tmp_path / "part-00003"

    def whole() -> bool:
        return part.read_text(encoding="utf-8") == want

    def speculative_copy() -> bool:
        monkeypatch.setattr(TaskContext, "_taskContext", _Attempt(4))
        write(3, iter(pairs))
        return whole()

    checks = [lambda: not part.exists(), whole, speculative_copy]
    for attempt, check in enumerate(checks, 1):
        seen = []

        def midway():
            for n, pair in enumerate(pairs):
                if n == 2 * _BLOCK_LINES:
                    seen.append(check())
                yield pair

        monkeypatch.setattr(TaskContext, "_taskContext", _Attempt(attempt))
        assert write(3, midway()) == []
        assert seen == [True], attempt
        assert os.listdir(tmp_path) == ["part-00003"]
        assert whole()


def test_part_writer_leaves_nothing_when_its_input_fails(tmp_path, monkeypatch):
    """No Spark: an attempt whose input raises midway leaves no part
    file and no hidden file; another index's part file is untouched."""
    from pyspark import TaskContext

    monkeypatch.setattr(TaskContext, "_taskContext", _Attempt(9))
    (tmp_path / "part-00000").write_text("done\n")

    def failing_input():
        for i in range(2 * _BLOCK_LINES):
            yield f"k{i}", "v"
        raise RuntimeError("input failed on purpose")

    with pytest.raises(RuntimeError, match="input failed on purpose"):
        _part_writer(str(tmp_path))(1, failing_input())
    assert os.listdir(tmp_path) == ["part-00000"]
    assert (tmp_path / "part-00000").read_text() == "done\n"


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
