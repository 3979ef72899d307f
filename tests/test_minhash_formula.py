"""Bit-identity property test for the pure-int64 minhash permutation.

Round 7's fourth-decade sweep replaced the DECIMAL(38,0) form of
(h*a + b) mod P (P = 2^61 - 1) in ``llm/minhash.py:permute`` with a
Mersenne-fold pure-int64 expression — DECIMAL(38,0) is a JVM BigDecimal
and ~5.4B allocating mul/mod calls made the dedup flagship GC-bound at
the fourth decade. Every minhash signature, band, bucket and oracle in
the repo depends on this expression being EXACTLY (h*a + b) mod P for
every 60-bit shingle hash h and every seed, in BOTH engines. This file
is the property test the ``permute`` docstring promises:

- hypothesis over the full 60-bit h domain x all 8 seeds, DuckDB vs
  exact Python big-int arithmetic (DuckDB evaluates the same SQL string
  the oracles embed);
- a deterministic edge + random grid through Spark SQL, so the JVM
  evaluation path (codegen, int64 overflow semantics) is covered too,
  both as a plain projection and inside a lambda body.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreducecore_spark.llm.minhash import P, SEEDS, permute

# Shingle hashes are 60-bit md5 slices (llm/minhash.py): the domain is
# [0, 2^60). The fold itself stays overflow-free up to h < 2^61 with
# a <= 15; we test the full domain we actually use plus the fold's own
# boundary values.
H_MAX = (1 << 60) - 1

EDGE_VALUES = [
    0,
    1,
    2**32 - 1,  # low-word mask boundary
    2**32,
    2**60 - 1,  # top of the shingle domain
    2**29 - 1,
    (2**29 - 1) << 32,  # maximizes the fold's masked term
    P % (1 << 60),
    (P - 17) % (1 << 60),
]


def _py_ref(h: int, seed: int) -> int:
    a, b = 2 * seed + 1, 1000003 * seed + 17
    return (h * a + b) % P


def _decimal_form(h_expr: str, seed: int) -> str:
    """The former DECIMAL(38,0) expression, kept here as the oracle of
    record for what the int64 fold must reproduce bit-for-bit."""
    a, b = 2 * seed + 1, 1000003 * seed + 17
    return f"CAST((CAST({h_expr} AS DECIMAL(38,0)) * {a} + {b}) % {P} AS BIGINT)"


@settings(max_examples=300, deadline=None)
@given(h=st.integers(min_value=0, max_value=H_MAX), seed=st.integers(0, SEEDS - 1))
def test_duckdb_matches_python_bigint(h: int, seed: int) -> None:
    got = duckdb.sql(
        f"SELECT {permute('h', seed)} AS v FROM (SELECT CAST({h} AS BIGINT) AS h)"
    ).fetchone()[0]
    assert got == _py_ref(h, seed), (h, seed)


@settings(max_examples=150, deadline=None)
@given(h=st.integers(min_value=0, max_value=H_MAX), seed=st.integers(0, SEEDS - 1))
def test_duckdb_matches_former_decimal_form(h: int, seed: int) -> None:
    got = duckdb.sql(
        f"SELECT {permute('h', seed)} AS new, {_decimal_form('h', seed)} AS old "
        f"FROM (SELECT CAST({h} AS BIGINT) AS h)"
    ).fetchone()
    assert got[0] == got[1], (h, seed)


@pytest.mark.parametrize("seed", range(SEEDS))
def test_spark_matches_python_bigint(spark, seed: int) -> None:
    import random

    rng = random.Random(0xC0FFEE + seed)
    values = EDGE_VALUES + [rng.randrange(0, H_MAX + 1) for _ in range(2000)]
    df = spark.createDataFrame([(v,) for v in values], "h bigint")
    rows = df.selectExpr("h", f"{permute('h', seed)} AS v").collect()
    for r in rows:
        assert r.v == _py_ref(r.h, seed), (r.h, seed)


def test_spark_matches_duckdb_on_shared_grid(spark) -> None:
    """Same grid through both engines — the cross-engine parity every
    minhash oracle in the registry rests on."""
    import random

    rng = random.Random(0xBEEF)
    values = EDGE_VALUES + [rng.randrange(0, H_MAX + 1) for _ in range(500)]
    exprs = [f"{permute('h', s)} AS v{s}" for s in range(SEEDS)]
    sdf = (
        spark.createDataFrame([(v,) for v in values], "h bigint")
        .selectExpr("h", *exprs)
        .orderBy("h")
        .collect()
    )
    vals_sql = ", ".join(f"({v})" for v in values)
    ddf = duckdb.sql(
        f"SELECT h, {', '.join(exprs)} FROM (VALUES {vals_sql}) t(h) ORDER BY h"
    ).fetchall()
    assert [tuple(r) for r in sdf] == ddf


@pytest.mark.parametrize("seed", range(SEEDS))
def test_lambda_form_matches_operator_form_in_spark(spark, seed: int) -> None:
    """The in-row signature builders evaluate the permutation inside
    SQL lambdas (`transform(hs, h -> ...)`). Property: the one formula
    parses there and is bit-identical to its plain projection (and so
    to the Python big-int reference) over the 60-bit domain. The
    single-element array is built in its own projection: inside the
    same SQL text, an `array(` call before `>>` trips Spark's lexer
    (see minhash.inrow_signatures)."""
    import random

    rng = random.Random(0x5EED + seed)
    values = EDGE_VALUES + [rng.randrange(0, H_MAX + 1) for _ in range(2000)]
    df = spark.createDataFrame([(v,) for v in values], "h bigint")
    rows = df.select("h", F.array("h").alias("hs")).selectExpr(
        "h",
        f"{permute('h', seed)} AS op_form",
        f"array_min(transform(hs, h -> {permute('h', seed)})) AS fn_form",
    ).collect()
    for r in rows:
        assert r.fn_form == r.op_form == _py_ref(r.h, seed), (r.h, seed)
