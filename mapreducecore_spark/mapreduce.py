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

One pipeline implements it: the input's first column as an RDD of plain
UTF-8 strings (``_lines``) -> ``mapPartitions`` ->
``repartitionAndSortWithinPartitions`` -> a streamed sorted-run reduce.
Two sinks sit on it: ``run_job`` (and ``run(config)``) writes the
reference's "key value" text files in newline-joined blocks
(``_text_blocks``), ``run_mapreduce`` returns the rows as a DataFrame
for the query registry.

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
- input is decoded as UTF-8 by Spark's text source: the reference
  passes raw bytes to the mapper, here each undecodable byte reaches
  it as U+FFFD;
- each map and reduce task ends by dropping the worker's zip finders,
  because PySpark makes every task re-read each one's archive directory
  (``_drop_zip_finders``); the reference's workers have no such cost.
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections.abc import Callable, Hashable, Iterable, Iterator
from itertools import islice

from pyspark.errors import PySparkRuntimeError
from pyspark.rdd import RDD, portable_hash
from pyspark.serializers import UTF8Deserializer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

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
    null), with the scan's partitions unchanged, so
    ``spark.sql.files.maxPartitionBytes`` still sets the map splits.

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


def _map_partition(mapper: MapperFn):
    """Apply the mapper to each line of a partition of ``_lines``,
    skipping ``None`` (a null line), after the hash-seed check that
    ``portable_hash`` would make once per key.

    The skip stays in Python: building the job with a JVM-side
    ``select`` + ``where(isNotNull)`` took 87 ms in the driver against
    70 ms for this test (BASELINE.md "Job path: plain-string input,
    block output")."""

    def run(lines: Iterator[str | None]) -> Iterator[tuple[str, str]]:
        if "PYTHONHASHSEED" not in os.environ:
            raise PySparkRuntimeError(errorClass="PYTHON_HASH_SEED_NOT_SET", messageParameters={})
        try:
            for line in lines:
                if line is not None:
                    yield from mapper(line)
        finally:
            _drop_zip_finders()

    return run


def _grouped_reduce(reducer: ReducerFn):
    """Stream key-runs off a sorted partition iterator (bounded memory:
    only one key's values are resident, vs worker.h:127's whole-partition
    map)."""

    def run(it: Iterator[tuple[str, str]]) -> Iterator[tuple[str, str]]:
        cur_key: str | None = None
        vals: list[str] = []
        try:
            for k, v in it:
                if k != cur_key:
                    if cur_key is not None:
                        yield from reducer(cur_key, vals)
                    cur_key, vals = k, [v]
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
    lines: DataFrame,
    mapper: MapperFn,
    reducer: ReducerFn,
    n_outputs: int,
    partition_fn: Callable[[str], int] | None = None,
) -> RDD:
    """The one map -> shuffle -> sorted reduce pipeline behind both sinks.

    Output partition ``i`` holds the reducer's output for exactly the
    keys routed to ``i`` (``portable_hash`` unless ``partition_fn`` is
    given), in ascending key order. Null lines never reach the mapper."""
    pairs = _lines(lines).mapPartitions(_map_partition(mapper))
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
    out = _map_shuffle_reduce(lines, mapper, reducer, n_outputs, partition_fn)
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
) -> None:
    """End-to-end job like MapReduce::run (mapreduce_impl.cc:8-26):
    text inputs -> registered (mapper, reducer) -> n_outputs key-sorted
    text files formatted "key value" (mr_tasks.h:118 format)."""
    mapper, reducer = get_tasks(user_id)
    lines = spark.read.text(list(input_paths))
    out = _map_shuffle_reduce(lines, mapper, reducer, n_outputs)
    out.mapPartitions(_text_blocks).saveAsTextFile(output_dir)


def run(spark: SparkSession, config_path: str) -> None:
    """The reference's public entry point, MapReduce::run(config)
    (mapreduce.h:15 -> mapreduce_impl.cc:8-26): read+validate spec ->
    run the job with the spec's shard size and R. Shard creation and
    the master loop are Spark's file-source partitioning and scheduler."""
    from mapreducecore_spark.config import read_and_validate_spec

    spec = read_and_validate_spec(config_path)
    # A session conf, because the text reader's maxPartitionBytes option
    # does not change its splits; restored so the job leaves the
    # caller's session as it found it.
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(spec.max_partition_bytes))
    try:
        run_job(
            spark,
            spec.input_files,
            spec.user_id,
            spec.output_dir,
            n_outputs=spec.n_output_files,
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
