"""Cross-engine parity: every oracle-backed query in the registry must
match DuckDB exactly (row count, column names, values) at sf0.001 —
the same comparison the driver runs at sf0.01, so this is the local
pre-gate."""

from __future__ import annotations

import math

import pytest

from mapreducecore_spark.queries import REGISTRY, _load_all

_load_all()

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
NO_ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)

# Oracles that return no rows at the test scale, so the check below
# compares two empty results. Each names the test that compares the
# query on a non-empty result, or "open" while it has none (ROADMAP
# Direction 3). This set may only shrink.
EMPTY_ORACLES = {
    "corpus_curation_pipeline_v2": "tests/test_crafted_curation.py",
    "corpus_curation_pipeline_v3": "tests/test_crafted_curation.py",
    "join_left_anti": "tests/test_crafted_relational.py",
    "q20_potential_promotion": "open",
    "q22_global_sales_opportunity": "open",
    "q2_min_cost_supplier": "open",
    "q7_volume_shipping": "open",
    "subquery_scalar_threshold": "open",
}


def _normalize(rows, colnames):
    """Order-insensitive canonical form: rows as tuples of repr-stable
    values, columns sorted by name."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(repr(round(v, 9)))
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    rel = duck.sql(spec.oracle)
    duck_cols = [c for c in rel.columns]
    duck_rows = rel.fetchall()

    assert duck_rows or name in EMPTY_ORACLES, (
        f"{name}: the oracle returns no rows, so this check compares nothing"
    )
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"


@pytest.mark.parametrize("name", NO_ORACLE_QUERIES)
def test_query_runs(name, spark, sf_dir):
    """Rows-only check for non-SQL-expressible ops (mirrors driver)."""
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) > 0
