"""One MinHash core, three forms: the aggregate signatures, the in-row
signatures and the DuckDB CTE chain in llm/minhash.py must produce the
same (doc_id, band_id, sig) rows. Each registry query checks only its
own form against its own oracle; this checks the forms against each
other."""

from __future__ import annotations

from mapreducecore_spark.catalog import load_tables
from mapreducecore_spark.llm import minhash


def test_band_rows_identical_across_forms(spark, duck, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"].selectExpr(
        "doc_id", f"{minhash.TOKS} AS toks"
    )
    agg = minhash.bands(minhash.signatures(docs))
    inrow = minhash.bands(
        minhash.hashes(docs).select("doc_id", minhash.inrow_signatures().alias("mhs"))
    )
    duck_rows = duck.sql(
        f"WITH {minhash.bands_duck()} SELECT doc_id, band_id, sig FROM bands"
    ).fetchall()

    agg_rows = {tuple(r) for r in agg.collect()}
    inrow_rows = {tuple(r) for r in inrow.collect()}
    assert agg_rows, "no band rows: the fixture has no document with >= 3 tokens"
    assert len({r[0] for r in agg_rows}) > 1
    assert {r[1] for r in agg_rows} == set(range(minhash.N_BANDS))
    assert agg_rows == inrow_rows
    assert agg_rows == set(duck_rows)
    assert len(duck_rows) == len(agg_rows)
