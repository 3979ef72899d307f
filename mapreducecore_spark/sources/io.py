"""Columnar file sources and sinks: Parquet/CSV/JSON for the relational
surface ([EXT] rows). The reference's text line scan and sorted
hash-partitioned text sink (S1/S2) are mapreduce.run_job's input and
output.

All readers take explicit schemas where the format can't self-describe
— schema inference is a scan of the whole input, unacceptable at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str, header: bool = True
) -> DataFrame:
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_parquet(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_parquet_observed(
    df: DataFrame, path: str, mode: str = "overwrite"
) -> dict:
    """Write with sink metrics via the Observation API: row count and
    null-key count ride along the write itself — no second scan of the
    input to audit what landed. At 100 TB a post-write count() would
    re-read the whole output; observe() folds the metrics into the
    write job for free. Returns {"n_rows": ..., "n_null_first_col": ...}.
    """
    from pyspark.sql import Observation

    first = df.columns[0]
    obs = Observation("sink_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col(first).isNull(), 1).otherwise(0)).alias(
            "n_null_first_col"
        ),
    )
    observed.write.mode(mode).parquet(path)
    got = obs.get
    return {
        "n_rows": got["n_rows"],
        "n_null_first_col": got["n_null_first_col"] or 0,
    }
