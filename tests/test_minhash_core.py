"""One MinHash core, three forms: the aggregate signatures, the in-row
signatures and the DuckDB CTE chain in llm/minhash.py must produce the
same (doc_id, band_id, sig) rows. Each registry query checks only its
own form against its own oracle; this checks the forms against each
other, and the star guard's bucket stats and match index on both
engines (the guard's comparisons live only in the core)."""

from __future__ import annotations

from collections import Counter

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


def test_bucket_stats_and_match_index_identical_across_engines(spark, lsh_docs):
    """The star guard's two forms (bucket width + rep, then the match
    index) give equal rows on Spark and DuckDB over buckets of width
    200 (kept whole) and 201+ (only the rep row kept)."""
    import duckdb
    import pandas as pd

    docs = spark.createDataFrame(lsh_docs, "doc_id BIGINT, text STRING").selectExpr(
        "doc_id", f"{minhash.TOKS} AS toks"
    )
    banded = minhash.bucket_stats(minhash.bands(minhash.signatures(docs)))
    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(lsh_docs, columns=["doc_id", "text"]))
        chain = f"WITH {minhash.bands_duck(banded=True)}"
        duck_banded = con.sql(
            f"{chain} SELECT doc_id, band_id, sig, bw, rep FROM banded"
        ).fetchall()
        duck_index = con.sql(f"{chain} {minhash.match_index_duck('banded')}").fetchall()
    finally:
        con.close()

    spark_banded = [tuple(r) for r in banded.select("doc_id", "band_id", "sig", "bw", "rep").collect()]
    spark_index = [tuple(r) for r in minhash.match_index(banded).collect()]
    assert sorted(spark_banded) == sorted(duck_banded)
    assert sorted(spark_index) == sorted(duck_index)
    widths = {r[3] for r in spark_banded}
    assert {minhash.MAX_BUCKET, minhash.MAX_BUCKET + 1} <= widths
    # A wide bucket keeps its rep row alone; a bucket of width 200 keeps all.
    kept = Counter((band_id, sig) for band_id, sig, _ in spark_index)
    by_bucket = {(r[1], r[2]): r[3] for r in spark_banded}
    for bucket, bw in by_bucket.items():
        assert kept[bucket] == (bw if bw <= minhash.MAX_BUCKET else 1), (bucket, bw)
    assert len(set(spark_index)) == len(spark_index)


# The star guard is written once, in llm/minhash.py; the scale-tuned
# pair emitter in queries/llm.py decides the same rule in-row.
_GUARD_HOMES = {
    "llm/minhash.py": None,
    "queries/llm.py": {"_minhash_member_rows", "_emit_sql", "_emit_bucket_pairs"},
}


def _compares_max_bucket(node) -> bool:
    """A comparison against MAX_BUCKET, as a Python Compare or as SQL
    text in an f-string (`... <= {MAX_BUCKET}`)."""
    import ast

    def is_cap(n):
        return isinstance(n, ast.Name) and n.id == "MAX_BUCKET"

    if isinstance(node, ast.Compare):
        return any(is_cap(n) for n in [node.left, *node.comparators])
    if isinstance(node, ast.JoinedStr):
        parts = node.values
        return any(
            isinstance(v, ast.FormattedValue)
            and is_cap(v.value)
            and i > 0
            and isinstance(parts[i - 1], ast.Constant)
            and parts[i - 1].value.rstrip().endswith(("<", ">", "<=", ">=", "="))
            for i, v in enumerate(parts)
        )
    return False


def test_star_guard_written_once():
    import ast
    from pathlib import Path

    root = Path(minhash.__file__).resolve().parent.parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        owners = {}
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                for n in ast.walk(fn):
                    owners.setdefault(id(n), fn.name)
        for node in ast.walk(tree):
            if not _compares_max_bucket(node):
                continue
            allowed = _GUARD_HOMES.get(rel, set())
            if allowed is None or owners.get(id(node)) in allowed:
                continue
            found.append(f"{rel}:{node.lineno} ({owners.get(id(node), '<module>')})")
    assert not found, f"star guard re-typed outside llm/minhash.py: {found}"
