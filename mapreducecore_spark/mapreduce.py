"""The reference's map/reduce contract, re-expressed on Spark.

Reproduces the semantics of the reference's user-facing API
(`external/include/mr_task_factory.h:14-43`):

- mapper: one input line -> zero or more ``(key, value)`` string pairs
  (BaseMapper::map + emit, invoked per line at worker.h:98-100);
- shuffle: hash-partition pairs into ``n_outputs`` partitions
  (mr_tasks.h:44-45);
- reducer: called once per distinct key with all its values, in
  ascending key order within each partition (worker.h:127-152);
- output: ``n_outputs`` partitions, each key-sorted (mr_tasks.h:109-121,
  description.md:56).

One pipeline implements it: an RDD of input lines as plain ``str`` ->
``mapPartitions`` -> ``repartitionAndSortWithinPartitions`` -> a
streamed sorted-run reduce. Two sinks sit on it: ``run_job`` (and
``run(config)``) reads its text files the way the reference's workers
do, each map task reading its own shard of byte ranges
(``_shards`` / ``_shard_lines``, worker.h:89-103, file_shard.h:28-94),
and writes the reference's "key value" text files in newline-joined
blocks (``_text_blocks``); ``run_mapreduce`` takes the first column of
a DataFrame (``_lines``) and returns the rows as a DataFrame for the
query registry.

Differences by design (scale fixes, not semantic changes):
- grouping streams over a sorted partition iterator with bounded
  memory, instead of the reference's whole-partition in-memory
  ``std::map`` (worker.h:127 — OOMs on skew);
- partition assignment uses Spark's ``portable_hash`` rather than
  ``std::hash`` (implementation-defined); we guarantee content +
  per-partition-sortedness + partition-count equivalence, not
  byte-identical file routing (SURVEY §2 S2);
- the shuffle is Spark's binary sort-based shuffle, not M×R
  intermediate text files (mr_tasks.h:52) — the "key value\\n" text
  round-trip (and its key-with-whitespace corruption bug,
  worker.h:134-137) is gone;
- a shard's ranges are cut at exact byte offsets and a range owns the
  lines that start in it (Hadoop's ``LineRecordReader`` rule,
  ``_range_lines``), where the reference moves each shard's end back to
  a ``\\n`` (file_shard.h:73-86, which assumes one-byte line ends); each
  line is read once either way;
- input is decoded as UTF-8: the reference passes raw bytes to the
  mapper, here each undecodable byte reaches it as U+FFFD. The job
  path decodes with Python's ``errors="replace"``, which differs from
  Spark's text source (Java's decoder) only on invalid sequences such as
  an encoded surrogate: ``\\xed\\xa0\\x80`` gives three U+FFFD here and one
  in Java. Like Hadoop's reader, and unlike the reference, a UTF-8 BOM
  at a file's offset 0 is dropped and ``\\r`` and ``\\r\\n`` end lines too;
- each map and reduce task ends by dropping the worker's zip finders,
  because PySpark makes every task re-read each one's archive directory
  (``_drop_zip_finders``); the reference's workers have no such cost;
- a map task whose keys repeat ships each key's values as one list
  (``_map_partition``), where the reference ships one record per emit
  (mr_tasks.h:46). This is grouping, not a combiner: the reducer still
  sees every value. The list form relies on the contract's ``str``
  values (``MapperFn``; ``emit(string, string)`` in mr_task_factory.h).
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections import defaultdict
from collections.abc import Callable, Hashable, Iterable, Iterator
from itertools import chain, islice

from pyspark.errors import PySparkRuntimeError
from pyspark.rdd import RDD, portable_hash
from pyspark.serializers import UTF8Deserializer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from mapreducecore_spark.config import check_input_file

MapperFn = Callable[[str], Iterable[tuple[str, str]]]
ReducerFn = Callable[[str, list[str]], Iterable[tuple[str, str]]]

# User-code registry keyed by user_id — mirrors the reference's task
# factory (mr_task_factory.cc:74-88), as a plain dict of callables.
_TASKS: dict[str, tuple[MapperFn, ReducerFn]] = {}


def register_tasks(user_id: str, mapper: MapperFn, reducer: ReducerFn) -> None:
    _TASKS[user_id] = (mapper, reducer)


def get_tasks(user_id: str) -> tuple[MapperFn, ReducerFn]:
    if user_id not in _TASKS:
        raise KeyError(f"no tasks registered for user_id={user_id!r}")
    return _TASKS[user_id]


KV_SCHEMA = StructType(
    [StructField("key", StringType(), False), StructField("value", StringType(), True)]
)

PARTITIONED_KV_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType(), False),
        StructField("key", StringType(), False),
        StructField("value", StringType(), True),
    ]
)


def _drop_zip_finders() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task, and on CPython 3.11 that makes each cached zipimporter re-read
    its whole archive directory: 16 of them in a reused worker, two on
    the spark-core jar (5,359 entries) and twelve on pyspark.zip (1,328).
    Dropping them is safe: imported modules keep their own loaders, a
    later import rebuilds its finder from zipimport's in-memory directory
    cache without reading the archive, and archives on ``sys.path`` do
    not change in a worker's life, because Spark refuses to re-register a
    file name. Measured on a 4-vCPU VM, a task's
    fixed cost (``PythonRunner`` total - finish) fell from ~240 ms to
    ~20 ms (BASELINE.md "Python tasks drop their zip finders")."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def _route(key: Hashable) -> int:
    """``portable_hash`` without its per-key environment lookup, which
    ``_map_partition`` does once per task instead: the two are equal on
    every key, because ``portable_hash`` of a ``str`` is ``hash``."""
    return hash(key) if type(key) is str else portable_hash(key)


def _lines(df: DataFrame) -> RDD:
    """The first column of ``df`` as an RDD of ``str`` (``None`` for a
    null), with the scan's partitions unchanged: ``run_mapreduce``'s map
    tasks are the DataFrame's partitions.

    The JVM hands each value over as length-prefixed UTF-8
    (``Encoders.STRING()`` + ``UTF8Deserializer``, the pattern of
    PySpark's ``DataFrame.toJSON`` and ``sc.textFile``) instead of
    pickling a ``Row`` that Python must rebuild and index. On the
    ``mr_index`` benchmark (162 k lines) the map stage's summed task time
    fell from 2.77 s to 2.14 s and its JVM CPU from 831 to 675 ms
    (BASELINE.md "Job path: plain-string input, block output")."""
    one = df if len(df.columns) == 1 else df.select(df.columns[0])
    sc = df.sparkSession.sparkContext
    strings = getattr(one._jdf, "as")(sc._jvm.org.apache.spark.sql.Encoders.STRING())
    return RDD(strings.javaRDD(), sc, UTF8Deserializer())


# One shard: the byte ranges ``(path, start, end)`` one map task reads.
Shard = tuple[tuple[str, int, int], ...]


def _shards(paths: list[str], shard_bytes: int) -> list[Shard]:
    """The reference's input shards (file_shard.h:28-94): the files,
    taken in order as one byte stream, cut into M = ceil(total bytes /
    ``shard_bytes``) ranges, so a shard can span files (file_shard.h:35,
    :48-65). A range is never empty, so an empty file gets none; empty
    input gives no shard.

    Each path is checked here, on the driver, and made absolute
    (``check_input_file``): a map task reads a plain local file by byte
    range, so a directory, a compressed file or a missing one raises
    ``SpecError`` before any task runs."""
    shards: list[Shard] = []
    cur: list[tuple[str, int, int]] = []
    room = shard_bytes
    for path in map(check_input_file, paths):
        size, pos = os.path.getsize(path), 0
        while pos < size:
            take = min(room, size - pos)
            cur.append((path, pos, pos + take))
            pos, room = pos + take, room - take
            if room == 0:
                shards.append(tuple(cur))
                cur, room = [], shard_bytes
    if cur:
        shards.append(tuple(cur))
    return shards


# ``_range_lines``' read sizes: a range in blocks, the rest of its last
# line in smaller steps.
_READ_BLOCK = 1 << 20
_TAIL_BLOCK = 4096


def _first_break(data: bytes) -> int:
    """Index of the first ``\\n`` or ``\\r`` in ``data``, or -1."""
    n = data.find(b"\n")
    r = data.find(b"\r", 0, n if n >= 0 else len(data))
    return r if r >= 0 else n


def _owned_bytes(path: str, start: int, end: int) -> Iterator[bytes]:
    """The bytes of ``path`` from ``start`` (past a UTF-8 BOM at offset
    0) through the first line terminator at or after ``end``, in blocks
    of at most ``_READ_BLOCK``."""
    with open(path, "rb") as f:
        f.seek(start)
        if start == 0 and f.read(3) != b"\xef\xbb\xbf":
            f.seek(0)
        left = end - f.tell()
        while left > 0 and (block := f.read(min(left, _READ_BLOCK))):
            left -= len(block)
            yield block
        while block := f.read(_TAIL_BLOCK):
            cut = _first_break(block)
            if cut >= 0:
                yield block[: cut + 1]
                return
            yield block


def _split_lines(blocks: Iterable[bytes]) -> Iterator[str]:
    """The lines of a byte stream given in blocks; ``\\n``, ``\\r\\n`` and
    ``\\r`` end lines. Each block's complete lines are decoded once with
    ``errors="replace"`` and split in C; the rest of the block is carried
    into the next one. Decoding in pieces cut after a terminator gives
    the same text as decoding the whole, because a terminator is ASCII
    and never part of an invalid sequence."""
    carry: list[bytes] = []
    after_cr = False
    for block in blocks:
        if after_cr and block[:1] == b"\n":
            block = block[1:]  # the LF of a CRLF cut between blocks
        after_cr = block.endswith(b"\r")
        cut = max(block.rfind(b"\n"), block.rfind(b"\r"))
        if cut < 0:
            carry.append(block)
            continue
        carry.append(block[: cut + 1])
        text = b"".join(carry).decode("utf-8", "replace")
        carry = [block[cut + 1 :]]
        if "\r" in text:
            text = text.replace("\r\n", "\n").replace("\r", "\n")
        lines = text.split("\n")
        lines.pop()  # the text ends with a terminator
        yield from lines
    if rest := b"".join(carry):
        yield rest.decode("utf-8", "replace")  # a last line with no terminator


def _range_lines(path: str, start: int, end: int) -> Iterator[str]:
    """The lines that byte range ``[start, end)`` of ``path`` owns, by
    Hadoop's ``LineRecordReader`` rule, which Spark's text source uses:
    every line that starts in ``(start, end]``, plus the line at offset
    0. A UTF-8 BOM at offset 0 is dropped.

    ``_owned_bytes`` stops after the last such line. When ``start > 0``
    the first line read began before ``start`` or at it, so it is the
    previous range's and is skipped. The range streams in blocks, so a
    map task holds about one block of its shard at a time."""
    lines = _split_lines(_owned_bytes(path, start, end))
    if start > 0:
        next(lines, None)
    return lines


def _shard_lines(shards: Iterable[Shard]) -> Iterator[str]:
    """The lines of each shard's ranges, in order: the reader of one
    ``run_job`` map task."""
    return chain.from_iterable(
        _range_lines(path, start, end) for shard in shards for path, start, end in shard
    )


# ``_map_partition``'s probe length and its bound on held values.
_PROBE_EMITS = 2048
_FLUSH_VALUES = 65536


def _map_partition(mapper: MapperFn):
    """Apply the mapper to each line of a partition of ``_lines``,
    skipping ``None`` (a null line), after the hash-seed check that
    ``portable_hash`` would make once per key.

    The pairs leave the task in one of two forms. While the task groups,
    each key's values travel as one ``(key, [values])`` record, in
    emission order; a task whose first ``_PROBE_EMITS`` emits (counted to
    the end of a line) had mostly distinct keys yields its groups so far
    and every later pair as a plain ``(key, value)``. ``_grouped_reduce``
    accepts both. On the ``mr_wordcount`` benchmark (42–46 % distinct
    keys per probe) the shuffle bytes per emit fell from 4.07 to 2.27 and
    ``wall_s`` from 1.29 to 1.00 s; ``mr_index`` (98 % distinct) pays
    only for the probe and stayed flat (BASELINE.md "Job path: adaptive
    map-side grouping").

    The skip stays in Python: building the job with a JVM-side
    ``select`` + ``where(isNotNull)`` took 87 ms in the driver against
    70 ms for this test (BASELINE.md "Job path: plain-string input,
    block output")."""

    def run(lines: Iterator[str | None]) -> Iterator[tuple[str, str | list[str]]]:
        if "PYTHONHASHSEED" not in os.environ:
            raise PySparkRuntimeError(errorClass="PYTHON_HASH_SEED_NOT_SET", messageParameters={})
        try:
            lines = iter(lines)
            groups: defaultdict[str, list[str]] = defaultdict(list)
            held, probing = 0, True
            for line in lines:
                if line is None:
                    continue
                for k, v in mapper(line):
                    groups[k].append(v)
                    held += 1
                    if held == _FLUSH_VALUES:
                        yield from groups.items()
                        groups, held = defaultdict(list), 0
                if probing and held >= _PROBE_EMITS:
                    probing = False
                    if 2 * len(groups) > held:
                        break
            yield from groups.items()
            # Lines are left only if the probe found mostly distinct keys.
            for line in lines:
                if line is not None:
                    yield from mapper(line)
        finally:
            _drop_zip_finders()

    return run


def _grouped_reduce(reducer: ReducerFn):
    """Stream key-runs off a sorted partition iterator (bounded memory:
    only one key's values are resident, vs worker.h:127's whole-partition
    map). A record's value is one value or, from a grouping map task,
    a list of them; each key's values reach the reducer in one list."""

    def run(it: Iterator[tuple[str, str | list[str]]]) -> Iterator[tuple[str, str]]:
        cur_key: str | None = None
        vals: list[str] = []
        try:
            for k, v in it:
                if k != cur_key:
                    if cur_key is not None:
                        yield from reducer(cur_key, vals)
                    cur_key, vals = k, v if type(v) is list else [v]
                elif type(v) is list:
                    vals.extend(v)
                else:
                    vals.append(v)
            if cur_key is not None:
                yield from reducer(cur_key, vals)
        finally:
            _drop_zip_finders()

    return run


def md5_partitioner(n_outputs: int) -> Callable[[str], int]:
    """Engine-portable routing: two hex chars of md5(key) -> [0, n).

    The reference routes with std::hash (mr_tasks.h:44-45), which is
    implementation-defined — S2's contract is deterministic routing +
    per-partition sortedness, not specific hash values. md5 is
    computable identically in Spark SQL, DuckDB, and Python, so a query
    routed this way can have its partition_id column value-checked by a
    cross-engine oracle (portable_hash cannot be expressed in SQL)."""
    import hashlib

    def pid(key: str) -> int:
        h = hashlib.md5(key.encode("utf-8", "surrogateescape")).hexdigest()
        return (ord(h[30]) * 16 + ord(h[31])) % n_outputs

    return pid


def _map_shuffle_reduce(
    lines: RDD,
    mapper: MapperFn,
    reducer: ReducerFn,
    n_outputs: int,
    partition_fn: Callable[[str], int] | None = None,
) -> RDD:
    """The one map -> shuffle -> sorted reduce pipeline behind both sinks,
    over an RDD of ``str`` lines (``None`` for a null line).

    Output partition ``i`` holds the reducer's output for exactly the
    keys routed to ``i`` (``portable_hash`` unless ``partition_fn`` is
    given), in ascending key order. Null lines never reach the mapper."""
    pairs = lines.mapPartitions(_map_partition(mapper))
    sorted_parts = pairs.repartitionAndSortWithinPartitions(
        numPartitions=n_outputs, partitionFunc=partition_fn or _route
    )
    return sorted_parts.mapPartitions(_grouped_reduce(reducer), preservesPartitioning=True)


def run_mapreduce(
    spark: SparkSession,
    lines: DataFrame,
    mapper: MapperFn,
    reducer: ReducerFn,
    n_outputs: int = 8,
    with_partition_id: bool = False,
    partition_fn: Callable[[str], int] | None = None,
) -> DataFrame:
    """The pipeline over a one-string-column DataFrame, as (key, value)
    rows (plus the output partition as ``partition_id`` when requested,
    for sortedness verification); rows of one partition are contiguous
    and key-sorted.

    It shares run_job's RDD pipeline because that measured faster than
    an Arrow ``mapInArrow`` map and reduce on every workload tried
    (word count over sf0.1 documents, local[4]: median 1.91 s vs 2.25 s)."""
    out = _map_shuffle_reduce(_lines(lines), mapper, reducer, n_outputs, partition_fn)
    if with_partition_id:
        rows = out.mapPartitionsWithIndex(lambda i, it: ((i, k, v) for k, v in it))
        return spark.createDataFrame(rows, PARTITIONED_KV_SCHEMA)
    return spark.createDataFrame(out, KV_SCHEMA)


_BLOCK_LINES = 256


def _text_blocks(pairs: Iterator[tuple[str, str]]) -> Iterator[str]:
    """The "key value" lines of one partition, joined with ``\\n`` into
    blocks of at most ``_BLOCK_LINES`` (256) lines each.

    ``saveAsTextFile`` writes every element followed by ``\\n``, so the
    file's bytes equal one element per line, while Python hands the JVM
    one record per block instead of one per line; an empty partition
    yields nothing and its file stays empty. On the ``mr_index``
    benchmark (~20 k lines per partition) the reduce stage fell from
    424 to 338 ms, together with ``_lines`` (BASELINE.md "Job path:
    plain-string input, block output")."""
    it = iter(pairs)
    while block := [f"{k} {v}" for k, v in islice(it, _BLOCK_LINES)]:
        yield "\n".join(block)


def run_job(
    spark: SparkSession,
    input_paths: list[str],
    user_id: str,
    output_dir: str,
    n_outputs: int = 8,
    map_kilobytes: int = 512,
) -> None:
    """End-to-end job like MapReduce::run (mapreduce_impl.cc:8-26):
    text inputs -> registered (mapper, reducer) -> n_outputs key-sorted
    text files formatted "key value" (mr_tasks.h:118 format).

    The inputs are cut into ``map_kilobytes`` shards (``_shards``; 512 is
    the spec's default) and each map task reads its own, as the
    reference's workers do, with no Catalyst scan. On the ``mr_index``
    benchmark this cut the driver time before the job from 96 to 42 ms and
    the map stage's JVM CPU from 533 to 290 ms (BASELINE.md "Job path:
    map tasks read their own shards")."""
    mapper, reducer = get_tasks(user_id)
    shards = _shards(input_paths, map_kilobytes * 1024)
    lines = spark.sparkContext.parallelize(shards, max(1, len(shards)))
    out = _map_shuffle_reduce(lines.mapPartitions(_shard_lines), mapper, reducer, n_outputs)
    out.mapPartitions(_text_blocks).saveAsTextFile(output_dir)


def run(spark: SparkSession, config_path: str) -> None:
    """The reference's public entry point, MapReduce::run(config)
    (mapreduce.h:15 -> mapreduce_impl.cc:8-26): read+validate spec ->
    run the job with the spec's shard size and R. It sets no session
    conf; the master loop is Spark's scheduler."""
    from mapreducecore_spark.config import read_and_validate_spec

    spec = read_and_validate_spec(config_path)
    run_job(
        spark,
        spec.input_files,
        spec.user_id,
        spec.output_dir,
        n_outputs=spec.n_output_files,
        map_kilobytes=spec.map_kilobytes,
    )
