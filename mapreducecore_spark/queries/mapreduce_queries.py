"""MapReduce-fidelity queries: the reference's word-count workload
(test/user_tasks.cc:9-35) over the documents table, both as a pure
DataFrame program and through the run_mapreduce contract layer."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducecore_spark.catalog import load_tables
from mapreducecore_spark.functions.text import (
    SPLIT_REGEX,
    SPLIT_REGEX_SQL,
    wordcount_mapper,
    wordcount_reducer,
)
from mapreducecore_spark.mapreduce import run_mapreduce
from mapreducecore_spark.queries import register

_WORDCOUNT_ORACLE = f"""
    SELECT token AS word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split_regex(text, '{SPLIT_REGEX_SQL}')) AS token
          FROM documents) t
    WHERE token <> ''
    GROUP BY token
"""


@register("wordcount_documents", oracle=_WORDCOUNT_ORACLE)
def wordcount_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference word count, DataFrame-native: explode(split) + count.
    Tokenizer = strtok on " ,.\\"'" (test/user_tasks.cc:15). Catalyst
    partial-aggregates map-side — the fix for the reference shipping one
    '(word,1)' line per occurrence through the shuffle (mr_tasks.h:46)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(F.explode(F.split("text", SPLIT_REGEX)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


_MR_ORACLE = f"""
    SELECT token AS key, CAST(COUNT(*) AS VARCHAR) AS value
    FROM (SELECT unnest(string_split_regex(text, '{SPLIT_REGEX_SQL}')) AS token
          FROM documents) t
    WHERE token <> ''
    GROUP BY token
"""


@register("mr_wordcount_contract", oracle=_MR_ORACLE)
def mr_wordcount_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same workload through the map/reduce contract layer
    (mapreduce.run_mapreduce, the pipeline run_job writes as text):
    mapPartitions -> repartitionAndSortWithinPartitions -> streamed sorted
    reduce. Exercises the (str,str) API of mr_task_factory.h:14-43 end
    to end."""
    t = load_tables(spark, sf_dir)
    lines = t["documents"].select("text")
    return run_mapreduce(
        spark, lines, wordcount_mapper, wordcount_reducer, n_outputs=8
    )


_SINK_PID_DUCK = (
    "CAST((ascii(substr(md5(token), 31, 1)) * 16"
    " + ascii(substr(md5(token), 32, 1))) % 8 AS INT)"
)

_SINK_ORACLE = f"""
    SELECT {_SINK_PID_DUCK} AS partition_id,
           token AS key, CAST(COUNT(*) AS VARCHAR) AS value
    FROM (SELECT unnest(string_split_regex(text, '{SPLIT_REGEX_SQL}')) AS token
          FROM documents) t(token)
    WHERE token <> ''
    GROUP BY token
"""


@register("mr_sorted_partition_sink", oracle=_SINK_ORACLE)
def mr_sorted_partition_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 sink semantics (mr_tasks.h:109-121): R hash partitions, each
    key-sorted; partition_id is the output partition of run_job's
    pipeline, whose part-0000i text file holds the same rows in the same
    order (tests assert both; the driver's sorted-row compare verifies
    content + routing). Routed with md5_partitioner so the partition_id
    column is itself oracle-checkable — the reference's std::hash
    routing is implementation-defined, so S2's contract is deterministic
    routing, not specific hash values; portable_hash stays the
    contract-layer default."""
    from mapreducecore_spark.mapreduce import md5_partitioner

    t = load_tables(spark, sf_dir)
    lines = t["documents"].select("text")
    return run_mapreduce(
        spark,
        lines,
        wordcount_mapper,
        wordcount_reducer,
        n_outputs=8,
        with_partition_id=True,
        partition_fn=md5_partitioner(8),
    )


@register(
    "source_custom_pyds_scan",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def source_custom_pyds_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through the CUSTOM Python DataSource (Spark 4 pluggable
    source API, sources/pydatasource.py): the documents table re-read
    via pyarrow with one InputPartition per parquet row group, Arrow
    batches yielded straight to the JVM, then a normal aggregation on
    top. Matching the plain-SQL oracle proves the custom source is
    byte-faithful to the native scan — the contract any exotic-format
    reader plugged into the same class must meet. (The reference's S1
    custom text source + file_shard.h sharding, generalized; for
    formats Spark already has, the native reader wins — see the module
    docstring.)"""
    import os

    from mapreducecore_spark.sources.pydatasource import register_sources

    register_sources(spark)
    path = os.path.join(sf_dir, "documents.parquet")
    # Explicit schema from the (JVM-read) footer: Spark then skips the
    # Python-runner schema() round-trip — measured 4x less cold-start.
    schema = spark.read.parquet(path).schema
    docs = (
        spark.read.format("mrc_rowgroups")
        .option("path", path)
        .schema(schema)
        .load()
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
