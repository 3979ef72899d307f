"""Generate a scaled-up copy of the sf0.1 testdata for scaling-slope
benchmarks (VERDICT r1 item 8): facts are replicated COPIES times with
shifted keys (referential integrity preserved), dims are copied as-is.

Document text gets a per-copy suffix token so exact-dup structure stays
proportional (10 identical corpora would make every doc a 10-way exact
dup and distort the near-dup workload); the near-dup structure WITHIN
each copy is preserved.

Output: <repo>/_scaledata/sf1/<table>.parquet (single file per
table; the engine splits parquet by row group / maxPartitionBytes, and
spread() widens the narrow scans the same way it would real multi-file
input). Gitignored — regenerate with: python tools/gen_scaledata.py

SCALE_MODE=clusters (VERDICT r5 #5): realistic near-dup growth. The
default replicate mode makes every base doc's COPIES copies mutual
near-dups (one suffix token barely moves 3-gram Jaccard), so the true
pair set grows ~quadratically in COPIES BY CONSTRUCTION — an artifact
that dominates the Jaccard scorers' measured slope. In clusters mode
every alphanumeric run in each copy's text gets a per-copy suffix, so
cross-copy Jaccard collapses to ~0 while within-copy near-dup
structure is preserved exactly (identical/overlapping segments
transform identically); the planted giant cluster becomes COPIES
clusters of fixed size 30 instead of one 30*COPIES-doc cluster. Dup
clusters then have FIXED size and grow in COUNT — the production
corpus shape — and the true-pair count grows linearly in COPIES.
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "_scaledata", "sf1")
COPIES = int(os.environ.get("SCALE_COPIES", "10"))
MODE = os.environ.get("SCALE_MODE", "replicate")  # replicate | clusters
# SCALE_TABLES=documents,embeddings scales ONLY those fact tables and
# symlinks the rest from SCALE_LINK_FROM (default: the source dir) —
# the fourth-decade documents sweep needs a 3000x documents table but
# not 33 GB of 3000x lineitem (load_tables opens every table's footer,
# so the files must exist; the untouched ones need not be scaled).
ONLY = {
    t.strip()
    for t in os.environ.get("SCALE_TABLES", "").split(",")
    if t.strip()
}
LINK_FROM = os.environ.get("SCALE_LINK_FROM", "")

OFF = 10_000_000_000  # key shift per copy; far above any real key

COPY_AS_IS = ("region", "nation", "customer", "supplier", "part")

FACTS = {
    "orders": """
        SELECT o_orderkey + c * {off} AS o_orderkey, o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM src CROSS JOIN copies
    """,
    "lineitem": """
        SELECT l_orderkey + c * {off} AS l_orderkey, l_partkey, l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
               l_returnflag, l_linestatus, l_shipdate
        FROM src CROSS JOIN copies
    """,
    "documents": """
        SELECT doc_id + c * {off} AS doc_id,
               {text_expr} AS text,
               lang,
               -- Planted MEGA-DOMAIN (VERDICT r3 #2): ~1/3 of all docs
               -- share one source key, the skew case domain_cap's
               -- range-partitioned rank / WindowGroupLimit paths exist
               -- for (a per-source window sort would put it in 1 task).
               CASE WHEN (doc_id + c) % 3 = 0 THEN 'megadomain' ELSE source END AS source,
               n_chars
        FROM src CROSS JOIN copies
        UNION ALL
        -- Planted giant exact-dup cluster (30 docs per copy, one shared
        -- text): at 100 copies this is a 3000-doc cluster — the
        -- degenerate-bucket case the MinHash/SimHash star-edge guards
        -- exist for. Unguarded, this single cluster emits ~4.5M clique
        -- pairs; guarded, ~3k star edges.
        SELECT 900000000000000 + i AS doc_id,
               {planted_text} AS text,
               'en' AS lang, 'planted' AS source, 79 AS n_chars
        FROM (SELECT unnest(range(30 * {c_lo}, 30 * {c_hi})) AS i)
    """,
    "embeddings": """
        SELECT vec_id + c * {off} AS vec_id, embedding, label
        FROM src CROSS JOIN copies
    """,
    "events": """
        SELECT event_id + c * {off} AS event_id, ts, user_id,
               event_type, value, props
        FROM src CROSS JOIN copies
    """,
}


def _link(t: str) -> None:
    src = os.path.abspath(os.path.join(LINK_FROM or SRC, f"{t}.parquet"))
    dst = os.path.join(DST, f"{t}.parquet")
    if not os.path.exists(dst):
        os.symlink(src, dst)
    print(f"{t}: linked -> {src}")


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    for t in COPY_AS_IS:
        if ONLY and t not in ONLY:
            _link(t)
            continue
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO '{DST}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(f"{t}: copied")
    if MODE == "clusters":
        # Per-copy suffix on EVERY alphanumeric run: cross-copy 3-gram
        # Jaccard ~0 (tokens split on " ,.\"'" keep their suffix), so
        # true pairs grow linearly in COPIES; within-copy structure is
        # byte-for-byte the same transformation, hence preserved.
        text_expr = (
            r"CASE WHEN c = 0 THEN text "
            r"ELSE regexp_replace(text, '([A-Za-z0-9]+)', '\1q' || c, 'g') END"
        )
        # COPIES clusters of FIXED size 30 (not one 30*COPIES cluster).
        planted_text = (
            "'planted giant duplicate cluster text shared verbatim by every"
            " member document clusterq' || CAST(i // 30 AS VARCHAR)"
        )
    else:
        text_expr = "CASE WHEN c = 0 THEN text ELSE text || ' copytok' || c END"
        planted_text = (
            "'planted giant duplicate cluster text shared verbatim by every"
            " member document'"
        )
    # SCALE_CHUNK > 0 streams each fact table out in chunks of that
    # many copies, one parquet FILE per chunk inside a <table>.parquet
    # DIRECTORY (Spark and DuckDB both read the directory natively).
    # Needed above ~100 copies: DuckDB buffers a whole COPY result, and
    # the clusters-mode regexp over documents at 1000 copies exhausted
    # a 128 GB box before the single-file write ever started.
    chunk = int(os.environ.get("SCALE_CHUNK", "0"))
    for t, sql in FACTS.items():
        if ONLY and t not in ONLY:
            _link(t)
            continue
        con.execute(f"CREATE OR REPLACE VIEW src AS SELECT * FROM '{SRC}/{t}.parquet'")
        spans = (
            [(lo, min(lo + chunk, COPIES)) for lo in range(0, COPIES, chunk)]
            if chunk
            else [(0, COPIES)]
        )
        for c_lo, c_hi in spans:
            con.execute(
                "CREATE OR REPLACE VIEW copies AS "
                f"SELECT unnest(range({c_lo}, {c_hi})) AS c"
            )
            q = sql.format(
                off=OFF,
                c_lo=c_lo,
                c_hi=c_hi,
                text_expr=text_expr,
                planted_text=planted_text,
            )
            if chunk:
                os.makedirs(f"{DST}/{t}.parquet", exist_ok=True)
                out = f"{DST}/{t}.parquet/part-{c_lo:05d}.parquet"
            else:
                out = f"{DST}/{t}.parquet"
            con.execute(
                f"COPY ({q}) TO '{out}' (FORMAT PARQUET, ROW_GROUP_SIZE 200000)"
            )
        n = con.sql(f"SELECT count(*) FROM '{DST}/{t}.parquet/*.parquet'" if chunk
                    else f"SELECT count(*) FROM '{DST}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main()
