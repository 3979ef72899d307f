"""Sources & sinks (SURVEY §2.A)."""

from mapreducecore_spark.sources.io import (  # noqa: F401
    read_csv,
    read_json,
    read_parquet,
    write_csv,
    write_json,
    write_parquet,
)
