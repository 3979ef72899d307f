"""CLI entry point — the PySpark twin of the reference's demo binary
(`mrdemo <config>`, test/main.cc): parse+validate the INI spec, build
the session it asks for, run the registered job, report the output.

    python -m mapreducecore_spark <config.ini> [--master URL]

The default registered task is the reference's tokenizer/summing
wordcount pair (test/user_tasks.cc:12-33 semantics); users register
their own with mapreduce.register_tasks before calling run().
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m mapreducecore_spark",
        description="Run a MapReduce-style job from an INI spec on Spark.",
    )
    ap.add_argument("config", help="key=value INI spec (reference format)")
    ap.add_argument(
        "--master",
        default=None,
        help="override the spec's Spark master (default: from spec/local[*])",
    )
    args = ap.parse_args(argv)

    from mapreducecore_spark.config import read_and_validate_spec
    from mapreducecore_spark.session import get_spark

    spec = read_and_validate_spec(args.config)
    spark = get_spark(
        app_name=f"mapreducecore-{spec.user_id}",
        master=args.master or spec.master_url,
    )
    try:
        return run_cli_job(spark, args.config)
    finally:
        spark.stop()


def run_cli_job(spark, config_path: str) -> int:
    """The CLI body minus session lifecycle (tests drive this with
    their own session)."""
    from mapreducecore_spark.config import read_and_validate_spec
    from mapreducecore_spark.functions.text import (
        wordcount_mapper,
        wordcount_reducer,
    )
    from mapreducecore_spark.mapreduce import _TASKS, register_tasks, run

    spec = read_and_validate_spec(config_path)
    # Like the reference demo (test/main.cc registers its tasks before
    # run): default the spec's user_id to the wordcount pair unless the
    # caller registered something else.
    if spec.user_id not in _TASKS:
        register_tasks(spec.user_id, wordcount_mapper, wordcount_reducer)
    run(spark, config_path)
    n_files = len(
        [f for f in os.listdir(spec.output_dir) if f.startswith("part-")]
    )
    print(
        f"job {spec.user_id}: wrote {n_files} partition files to "
        f"{spec.output_dir}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
