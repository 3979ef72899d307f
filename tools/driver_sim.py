"""Simulate the driver's verify pass: plain SparkSession (no engine
tuning — the driver builds its own), import __spark_entry__, run
entry(), then every queries() entry at sf0.01 compared against its
oracle_sql() via DuckDB (row count + sorted-column value compare).

Usage: python tools/driver_sim.py [sf_dir] [name_substr ...]
With name_substr args, only queries whose name contains one of the
substrings are run (faster iteration on a new batch).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:]


def norm_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(round(v, 9)))
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main():
    from pyspark.sql import SparkSession

    import duckdb

    # Deliberately minimal session — what a driver would plausibly build.
    # SPARK_GRAFT_SIM_MASTER overrides for the multi-executor
    # attestation (local-cluster[W,C,M]: separate executor JVMs,
    # cross-process shuffle — VERDICT r8 #1); the session stays
    # otherwise untuned so the sim still models an external driver.
    master = os.environ.get("SPARK_GRAFT_SIM_MASTER", "local[8]")
    builder = (
        SparkSession.builder.master(master)
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local-cluster"):
        builder = builder.config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "3g"),
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as mod

    t0 = time.time()
    edf = mod.entry(spark)
    erows = edf.collect()
    print(f"entry(): {len(erows)} rows, schema={edf.schema.simpleString()} "
          f"({time.time()-t0:.1f}s)")
    assert len(erows) > 0

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{SF}/{name}.parquet'")

    qs = mod.queries()
    oracles = mod.oracle_sql()
    if ONLY:
        qs = {k: v for k, v in qs.items() if any(s in k for s in ONLY)}
    print(f"{len(qs)} queries, {len(oracles)} with oracles, sf_dir={SF}")
    n_pass = n_fail = 0
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        try:
            sdf = fn(spark, SF)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            if name in oracles:
                rel = con.sql(oracles[name])
                drows, dcols = rel.fetchall(), list(rel.columns)
                ok_cols = sorted(scols) == sorted(dcols)
                ok_cnt = len(srows) == len(drows)
                ok_vals = ok_cols and ok_cnt and norm_rows(srows, scols) == norm_rows(drows, dcols)
                status = "PASS" if (ok_cols and ok_cnt and ok_vals) else (
                    f"FAIL cols={ok_cols} cnt={ok_cnt}({len(srows)}/{len(drows)}) vals={ok_vals}"
                )
            else:
                status = f"PASS(rows-only {len(srows)})"
        except Exception as e:
            status = f"ERROR {type(e).__name__}: {str(e)[:120]}"
        dt = time.time() - t0
        if status.startswith("PASS"):
            n_pass += 1
        else:
            n_fail += 1
        print(f"  {name:32s} {dt:6.1f}s  {status}")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
