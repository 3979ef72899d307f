"""Curation queries on a crafted corpus (conftest.py `curation_dir`).
On the generated test documents, corpus_curation_pipeline_v2 and _v3 return
no rows at sf0.001 and sf0.01, and corpus_ingest_incremental's
`accepted` is false for every batch doc, so their oracle checks there
compare nothing. Here each composition returns rows, each ingest flag
takes both values, and Spark equals DuckDB on every curation query."""

from __future__ import annotations

import duckdb
import pytest

from mapreducecore_spark.queries import REGISTRY, _load_all

_load_all()

_OPS = [
    "text_stats",
    "text_quality_score",
    "quality_gopher_rules",
    "dedup_exact_normalized",
    "dedup_keep_best_quality",
    "dedup_neardup_keeper",
    "split_train_val_test",
    "sample_weighted_by_source",
    "dsir_importance_weights",
    "corpus_curation_pipeline",
    "corpus_curation_pipeline_v2",
    "corpus_curation_pipeline_v3",
    "corpus_ingest_incremental",
]
_FLAGS = ("gate_pass", "exact_dup", "near_dup", "selected", "accepted")


@pytest.fixture(scope="module")
def curation_duck(curation_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{curation_dir}/documents.parquet'")
    yield con
    con.close()


def _canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(repr(tuple(row[i] for i in order)) for row in rows)


@pytest.mark.parametrize("name", _OPS)
def test_crafted_curation_parity(name, spark, curation_dir, curation_duck):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, curation_dir)
    rel = curation_duck.sql(spec.oracle)
    duck_rows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert duck_rows, f"{name}: the oracle returns no rows on the crafted corpus"
    assert _canon(sdf.collect(), sdf.columns) == _canon(duck_rows, rel.columns), name


def test_ingest_dispositions(spark, curation_dir):
    rows = {
        r.doc_id: r
        for r in REGISTRY["corpus_ingest_incremental"].fn(spark, curation_dir).collect()
    }
    assert sorted(rows) == list(range(0, 120, 10))
    for flag in _FLAGS:
        assert {r[flag] for r in rows.values()} == {True, False}, flag
    # 20 is a case/whitespace variant of corpus doc 21; 40 copies batch doc 30
    assert rows[20].exact_dup and rows[40].exact_dup and not rows[30].exact_dup
    # 50 is corpus doc 51 with its last token changed
    assert rows[50].near_dup and not rows[50].exact_dup
    for r in rows.values():
        assert r.accepted == (
            r.gate_pass and not r.exact_dup and not r.near_dup and r.selected
        )
