"""LLM-data-pipeline operators — dedup, similarity search, text
analysis, multimodal plumbing (SURVEY.md §2.D last row; BASELINE.json
north star).

Design rules for 100 TB:
- no driver-side collect anywhere; every operator is a pure DataFrame
  composition (shingling/minhash included — expressed with higher-order
  array functions, JVM-side, not Python UDFs);
- pairwise work is always bucketed first (LSH bands / sign-buckets) so
  the join fans out per-bucket instead of a global cross join;
- hash functions are md5 (identical across engines) so every step that
  is SQL-expressible carries a DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducecore_spark.catalog import load_tables
from mapreducecore_spark.llm import minhash
from mapreducecore_spark.llm.curation import (
    NORM_HASH,
    NORM_HASH_DUCK,
    QUALITY_DUCK,
    n_stop,
    n_stop_duck,
    quality,
)
from mapreducecore_spark.llm.minhash import (
    MAX_BUCKET,
    SEEDS,
    TOKS,
    TOKS_DUCK,
    hash60,
    hash60_duck,
    shingles,
    shingles_duck,
)
from mapreducecore_spark.queries import register
from mapreducecore_spark.queries._util import expanding, materialize, reclaim, spread

# ---------------------------------------------------------------- dedup

@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, keep lowest doc_id per content hash.
    Map-side partial agg makes this one shuffle of (hash, id) pairs."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


@register(
    "dedup_exact_normalized",
    oracle=f"""
    SELECT {NORM_HASH_DUCK} AS norm_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized content hash (llm/curation.py)."""
    t = load_tables(spark, sf_dir)
    return (
        spread(t["documents"])
        .groupBy(F.expr(NORM_HASH).alias("norm_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


@register("dedup_minhash_lsh", oracle=minhash.pairs_duck())
@expanding
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates: 3-token shingles -> 8 md5
    minhashes -> 4 bands of 2 -> docs sharing any band signature.
    All JVM-side (higher-order functions); the band join is the only
    shuffle that grows with candidate count, never a cross join.

    Buckets wider than MAX_BUCKET (giant exact-dup clusters)
    emit star edges (bucket representative x member) instead of the
    O(n^2) clique — bounded fan-out, identical connected components;
    only the explicit pair list differs inside oversized buckets. The
    oracle is the core's minhash.pairs_duck."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"]).selectExpr("doc_id", f"{TOKS} AS toks")
    return _minhash_band_pairs(docs)


def _minhash_band_pairs(docs: DataFrame, staged: bool = False) -> DataFrame:
    """The shingle -> minhash -> bucket-collect -> minimal-band-emit
    pipeline over an arbitrary (doc_id, toks) frame — shared by the
    flagship full-corpus pair generator above and the exact-dup-
    collapsed edge builder the components family uses. Emits exactly
    one (doc_a, doc_b) row per guarded candidate pair (round 5: the
    previous band self-join + global DISTINCT shape re-shuffled the
    banded frame twice and exchanged every duplicated pair row; the
    minimal-band emission of _emit_bucket_pairs produces the identical
    pair set with no pair-keyed exchange at all — the same redesign
    measured 8.0 -> 1.2 GB on the scorers).

    staged=True runs the per-doc aggregation and the payload join as
    separate eager jobs with a reclaim() between (see
    _minhash_member_rows) so the bucket exchange never coexists with
    the shingle scan/aggregation in one job's heap — recall's fifth
    decade needed exactly that split (its 10000x cand job OOMed a
    default 8g heap on the round-10 sandbox with everything fused;
    BASELINE.md round 10). The flagship keeps the fused lazy shape,
    measured faster where the heap margin allows it."""
    rows, reps = _minhash_member_rows(docs, with_sets=False, staged=staged)
    return _emit_bucket_pairs(
        rows,
        reps,
        lambda a: f"struct({a}.doc_id AS doc_a, m.doc_id AS doc_b)",
    )


_INCR_NEW_MOD = 10  # docs with doc_id % 10 == 0 form the "new batch"

_INCR_MINHASH_ORACLE = minhash.matches_duck(new=f"documents WHERE doc_id % {_INCR_NEW_MOD} = 0")


@register("dedup_incremental_minhash", oracle=_INCR_MINHASH_ORACLE)
@expanding
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup — the shape a production ingest actually
    runs: a NEW batch (here doc_id % 10 == 0, the deterministic
    stand-in for today's crawl) is checked against the EXISTING corpus
    without re-pairing the whole corpus. Signatures/bands are computed
    once for everyone (in production the old side's bands are the
    persisted LSH index; only the new batch pays the shingle+minhash
    CPU), then the band join is RESTRICTED to buckets touched by a new
    document: output is (new_id, match_id) for every corpus document —
    old or new — sharing a band bucket with the new doc. Existing-vs-
    existing pairs are never generated, so per-batch cost follows the
    BATCH size times bucket occupancy, not the corpus size. A bucket
    wider than MAX_BUCKET is matched through its representative only
    (the core's match index, llm/minhash.py)."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"]).selectExpr("doc_id", f"{TOKS} AS toks")
    # Read twice (new side and index). big=True: 4 band rows per
    # document make this frame corpus-sized — DISK_ONLY per the
    # materialize() protected-storage rule.
    banded = materialize(
        minhash.bucket_stats(minhash.bands(minhash.signatures(docs))), big=True
    )
    new = banded.filter(F.col("doc_id") % _INCR_NEW_MOD == 0).select(
        "doc_id", "band_id", "sig"
    )
    return minhash.matches(new, minhash.match_index(banded)).distinct()


@contextlib.contextmanager
def _persisted_band_index(
    spark: SparkSession, sf_dir: str
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """Writes the band index (doc_id, band_id, sig) of the existing
    corpus (doc_id % 10 != 0) to a scratch parquet table and yields
    (documents, the index read back from the files); the table is
    deleted on exit, so a frame returned from inside must not read it."""
    docs = spread(load_tables(spark, sf_dir)["documents"])
    old_docs = docs.filter(F.col("doc_id") % _INCR_NEW_MOD != 0).selectExpr(
        "doc_id", f"{TOKS} AS toks"
    )
    scratch = tempfile.mkdtemp(prefix="mrc_bandidx_")
    try:
        path = f"{scratch}/band_index"
        minhash.bands(minhash.signatures(old_docs)).write.mode("overwrite").parquet(path)
        yield docs, spark.read.parquet(path)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


_BAND_INDEX_ORACLE = f"""
    WITH {minhash.bands_duck(f"documents WHERE doc_id % {_INCR_NEW_MOD} <> 0", "o_")},
    buckets AS (
      SELECT band_id, sig, COUNT(*) AS bw
      FROM o_bands GROUP BY band_id, sig
    )
    SELECT (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM o_bands)
             AS n_docs_indexed,
           CAST(SUM(bw) AS BIGINT) AS n_index_rows,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(bw) AS BIGINT) AS max_bucket_width
    FROM buckets
"""


@register("dedup_band_index_build", oracle=_BAND_INDEX_ORACLE)
@expanding
def dedup_band_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build and PERSIST the LSH band index of the existing corpus
    (doc_id % 10 != 0 — the complement of the incremental ops' "new
    batch") as a parquet table of (doc_id, band_id, sig), then report
    summary statistics READ BACK from the written files, proving the
    write. This is the maintenance job behind dedup_incremental_
    persisted: production keeps this table up to date (append new
    docs' bands after each ingest) so an incremental run never re-pays
    the corpus-wide shingle+minhash CPU.

    Scale shape: the index is 4 rows x ~30 bytes per document
    regardless of text size; the build is the standard single-shuffle
    signature pipeline; the write partitions naturally by whatever the
    upstream shuffle produced. At 100 TB, bucket the table by
    (band_id, sig) at write time so incremental probes co-partition
    with zero index-side shuffle."""
    with _persisted_band_index(spark, sf_dir) as (_, idx):
        buckets = idx.groupBy("band_id", "sig").agg(F.count("*").alias("bw"))
        row = buckets.agg(
            F.sum("bw").cast("bigint").alias("n_index_rows"),
            F.count("*").cast("bigint").alias("n_buckets"),
            F.max("bw").cast("bigint").alias("max_bucket_width"),
        ).crossJoin(
            F.broadcast(
                idx.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs_indexed"))
            )
        ).select("n_docs_indexed", "n_index_rows", "n_buckets", "max_bucket_width")
        # Materialize the 1-row summary BEFORE dropping the scratch dir
        # (the lazy plan reads the written index).
        return spark.createDataFrame(row.collect(), row.schema)


@register("dedup_incremental_persisted", oracle=_INCR_MINHASH_ORACLE)
@expanding
def dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup against a PERSISTED band index — the
    two-step production path: step 1 writes the existing corpus's band
    index to parquet (dedup_band_index_build's artifact); step 2 runs
    the new batch (doc_id % 10 == 0) against the index READ FROM DISK,
    paying shingle+minhash CPU only for the new documents. Bucket
    stats (width guard + representative) are recomputed over index ∪
    new-batch rows RESTRICTED to buckets a new document touches
    (left-semi on the new batch's signatures), so untouched buckets —
    the overwhelming majority at scale — are never widened or
    windowed. Output equals dedup_incremental_minhash's (same oracle;
    tests/test_round5_ops.py::test_persisted_incremental_equals_one_shot
    asserts frame equality), because touched buckets have identical
    membership either way.

    Scale shape: per-run cost = new-batch signature CPU + one
    co-partitionable semi-join against the index + a window over
    touched-bucket rows only. The index read is a column-pruned
    parquet scan; at 100 TB the table is bucketed by (band_id, sig)
    so the probe join is shuffle-free on the index side."""
    with _persisted_band_index(spark, sf_dir) as (docs, idx):
        new_docs = docs.filter(F.col("doc_id") % _INCR_NEW_MOD == 0).selectExpr(
            "doc_id", f"{TOKS} AS toks"
        )
        # Eager: the returned plan must not read the scratch index,
        # which is deleted on return.
        return materialize(_incremental_vs_index(idx, new_docs))


def _touched_bucket_rows(idx: DataFrame, new_bands: DataFrame) -> DataFrame:
    """index ∪ new-batch band rows, RESTRICTED (left-semi) to buckets
    a new document touches — the stage that keeps an incremental run's
    cost off the untouched majority of a 100 TB index. Split out so
    the plan gate can assert the LeftSemi below the checkpoint
    boundary (tests/test_plans.py)."""
    touched = new_bands.select("band_id", "sig").distinct()
    return idx.unionByName(new_bands).join(touched, ["band_id", "sig"], "left_semi")


def _incremental_vs_index(idx: DataFrame, new_docs: DataFrame) -> DataFrame:
    """The per-ingest incremental stage: compute band signatures for
    the NEW docs only, restrict the persisted index to touched
    buckets, recompute bucket stats over index ∪ new rows there, and
    match the new docs against that match index (llm/minhash.py).
    Per-run cost tracks the BATCH size times bucket occupancy, never
    the corpus size (measured in BASELINE.md round 5). `new_docs` rows
    must be disjoint from the indexed docs (a doc is old xor new)."""
    # Read three times (touched keys, union, new side); big=True as
    # the batch is corpus-proportional (here corpus/10).
    new_bands = materialize(minhash.bands(minhash.signatures(new_docs)), big=True)
    banded = minhash.bucket_stats(_touched_bucket_rows(idx, new_bands))
    return minhash.matches(new_bands, minhash.match_index(banded)).distinct()


def _collapsed_neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge list with IDENTICAL connected components to
    dedup_minhash_lsh, built after collapsing exact-duplicate texts to
    one representative — the components family's scale path (VERDICT
    r3 #6: the edge volume and the 12.7 GB propagation shuffle were
    dominated by exact-copy cliques).

    Collapse is sound for components: band signatures are a pure
    function of text, so any bucket linking docs of two text-classes
    links their representatives too (same sigs), and each class is
    re-attached as a rep->member star (a clique's components equal its
    star's). Labels also agree: a class rep is the class's min doc_id,
    so the component-min over reps equals the component-min over all
    members. Classes whose text has < 3 tokens produce no shingles —
    exactly as in the uncollapsed graph — so their members contribute
    no edges and the node sets match too; the components oracle (full
    uncollapsed graph, recursive CTE) stays byte-identical, making the
    equivalence itself driver-checked.

    Scale shape: one narrow groupBy on md5(text) (map-side partial
    min/count; shuffles 16-byte keys, never text), the
    shingle/minhash/band stage runs once per DISTINCT text, and the
    label-propagation loop sees a graph shrunk by the exact-dup factor
    (100x on the replicated scale-sweep corpora)."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"])
    # Narrow (doc_id, th, shingled) projection materialized once: it
    # feeds the class aggregate AND the member-star join, and Spark
    # plans are trees — unmaterialized, the text scan + md5 +
    # tokenization would run per consumer (the _line_dedup_from_lines
    # rule). The wide text column deliberately stays OUT of the
    # checkpoint: only rep_docs needs it, via one more (pruned) scan.
    # big=True on both (round 7): narrow but CORPUS-sized (one row per
    # doc / per distinct text) — at the fourth decade their default
    # memory blocks stacked against the two concurrent text-scan
    # stages and OOMed a fresh 8g JVM in the vectorized reader, the
    # same protected-storage family as the flagship's per_doc frame.
    dn = materialize(
        docs.selectExpr(
            "doc_id", "md5(text) AS th", f"size({TOKS}) >= 3 AS shingled"
        ),
        big=True,
    )
    classes = materialize(
        dn.groupBy("th").agg(F.min("doc_id").alias("rep"), F.count("*").alias("cw")),
        big=True,
    )
    rep_docs = docs.select("doc_id", "text").join(
        classes.select(F.col("rep").alias("doc_id")), "doc_id"
    ).selectExpr("doc_id", f"{TOKS} AS toks")
    rep_pairs = _minhash_band_pairs(rep_docs)
    member_stars = (
        dn.filter("shingled")
        .select("doc_id", "th")
        .join(classes.filter(F.col("cw") >= 2), "th")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return rep_pairs.unionByName(member_stars)


# Document-frequency cap for the inverted-index join: a shingle in d
# docs emits d(d-1)/2 pairs, so one boilerplate 4-gram in 10k docs is
# 5e7 pairs from that shingle alone — AQE skew-split spreads the tasks
# but cannot shrink the pair count. Shingles with df > _JACCARD_DF_CAP
# are dropped BEFORE the join (standard MinHash/Jaccard practice);
# |A| and |B| stay exact, so the reported jaccard is a lower bound that
# undercounts only mass from corpus-ubiquitous shingles — a lower bound
# in 60-bit md5 hash space, exact up to negligible (~n_sh^2/2^61)
# cross-shingle hash collisions, which could only ever nudge it UP and
# which both engines reproduce identically (ADVICE r6). Oracle mirrors.
_JACCARD_DF_CAP = 128

def _jaccard_oracle(src: str = "documents") -> str:
    return f"""
    WITH docs AS (
      SELECT MIN(doc_id) AS doc_id, {TOKS_DUCK} AS toks
      FROM {src} GROUP BY text
    ), sh AS (
      SELECT doc_id,
             {hash60_duck(f"unnest({shingles_duck(4)})")} AS shingle
      FROM docs WHERE len(toks) >= 4
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), rare AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh
      ) WHERE df <= {_JACCARD_DF_CAP}
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common) >= 0.4
"""


_JACCARD_ORACLE = _jaccard_oracle()


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted shingle index:
    join docs on shared 4-token shingle, count intersections, compute
    |A∩B| / (|A|+|B|-|A∩B|). The shingle join replaces the O(n²) cross
    join; two guards keep it scale-safe:
    - EXACT dups are collapsed to their min-doc_id representative
      BEFORE shingling (pairs are emitted between exact-dup classes,
      the textbook exact-then-near pipeline order): a k-way dup
      cluster otherwise emits C(k,2) jaccard=1.0 pairs from shingles
      each copy shares — quadratic in k, and a df cap cannot catch it
      because each such shingle's df tracks k. Expand through the
      dedup_exact table when per-copy pairs are needed. The collapse
      aggregates by md5(text) + a semi-join back, NOT groupBy(text):
      a text-keyed partial-agg hash map holds every distinct document
      in the task's split in memory and was the first
      UNABLE_TO_ACQUIRE_MEMORY crash site of the 1000x three-decade
      sweep; hash keys make the map 24 B/doc and let the text payload
      ride the spill-safe semi-join shuffle instead.
    - hot shingles (df > _JACCARD_DF_CAP) are dropped before the join
      so no single boilerplate shingle can emit a quadratic pair set —
      the df window pass shuffles on the same `shingle` key the join
      uses. Shingles are carried as the same 60-bit md5 ints the
      minhash stage uses (oracle mirrors, so parity is by
      construction): long keys halve the materialized index and make
      the df window's sort and the self-join comparisons fixed-width.
      The index is DISK_ONLY (materialize(big=True)) — corpus-sized
      blocks must not pin protected storage memory away from the
      downstream aggregates."""
    t = load_tables(spark, sf_dir)
    return _jaccard_truth_pairs(spread(t["documents"]))


def _jaccard_truth_pairs(all_docs: DataFrame) -> DataFrame:
    """The exact-Jaccard pair pipeline over an arbitrary
    (doc_id, text) frame — shared by the full-corpus enumerator above
    and the hash-sampled recall eval (dedup_candidate_recall), which
    passes a deterministically sampled subset so the truth side's cost
    no longer gates the eval (VERDICT r6 #4)."""
    keepers = all_docs.groupBy(F.md5("text").alias("th")).agg(
        F.min("doc_id").alias("doc_id")
    )
    docs = all_docs.join(keepers.select("doc_id"), "doc_id", "left_semi").selectExpr(
        "doc_id", f"{TOKS} AS toks"
    )
    sh = (
        docs.filter(F.expr("size(toks) >= 4"))
        .selectExpr("doc_id", f"explode({shingles(4)}) AS shingle")
        .selectExpr(
            "doc_id",
            f"{hash60('shingle')} AS shingle",
        )
    )
    sh = materialize(sh, big=True)  # reused by sizes + df pass + both join branches
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    ws = Window.partitionBy("shingle")
    rare = (
        sh.select("doc_id", "shingle", F.count("*").over(ws).alias("df"))
        .filter(F.col("df") <= _JACCARD_DF_CAP)
        .drop("df")
    )
    a = rare.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = rare.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.4)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )




# Exact-intersection side computed over per-doc HASHED shingle SETS
# (one array row per doc) instead of an exploded (doc, shingle) join:
# the candidate ⋈ shingles row join shuffles candidates x |A| rows —
# measured 24.6 GB in ONE stage / 14.4x per decade on the 100x sweep
# for the estimate-accuracy twin — while the array form joins 1:1 per
# candidate and intersects IN-ROW (array_intersect / list_intersect,
# both distinct-set semantics). Hashes are the same 60-bit md5 ints
# the minhash stage uses, identically on both engines, so parity is
# exact even in the (negligible, deterministic) collision case.
# n_sh = |distinct hashes| on BOTH engines (not distinct strings):
# hash-space set sizes keep the jaccard self-consistent with the
# hash-space intersection AND spare Spark the Expand shuffle that
# COUNT(DISTINCT shingle) strings cost — measured ~1.5 GB of the
# scorers' 100x shuffle before this (VERDICT r4 #3).
_SHINGLE_SETS_DUCK = f"""
      SELECT doc_id,
             list(DISTINCT {hash60_duck("shingle")}) AS hs,
             CAST(len(list(DISTINCT {hash60_duck("shingle")})) AS BIGINT) AS n_sh
      FROM (
        SELECT doc_id, unnest({shingles_duck(3)}) AS shingle
        FROM (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents)
        WHERE len(toks) >= 3
      ) GROUP BY doc_id
"""

_LSH_VERIFIED_ORACLE = f"""
    WITH cand AS (SELECT doc_a, doc_b FROM ({minhash.pairs_duck()})),
    hs AS ({_SHINGLE_SETS_DUCK}),
    pairs AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.hs, b.hs)) AS n_common,
             a.n_sh AS na, b.n_sh AS nb
      FROM cand c
      JOIN hs a ON a.doc_id = c.doc_a
      JOIN hs b ON b.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.5
"""


@register("dedup_lsh_verified_pairs", oracle=_LSH_VERIFIED_ORACLE)
@expanding
def dedup_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup SCORER shape: exact Jaccard computed
    ONLY on the MinHash-LSH candidate pairs, keeping verification work
    proportional to candidate count instead of the global
    inverted-index join (dedup_ngram_jaccard enumerates globally; at
    100 TB you generate candidates with LSH — 4.1x/decade measured —
    then verify each with one bounded intersection). Scoring happens
    IN-BUCKET (_scored_candidate_pairs): each doc's hashed shingle set
    rides the band exchange once per band — 4x corpus arrays, never
    pairs x arrays — each small bucket's pairs are intersected in-row
    before any further exchange, and an oversized bucket's star pairs
    get the representative's arrays from a shuffle-hash join against
    the tiny `reps` frame (one row per oversized bucket). The previous
    pair-keyed array joins shuffled 8 GB and needed a 16g heap at the
    100x sweep because the replicated corpus is candidate-bound (25.7M
    true pairs); this shape's exchanges are corpus-proportional
    (arrays) + candidate-proportional (narrow scored rows only). Emits
    candidates whose true 3-token-shingle Jaccard >= 0.5."""
    scored = _scored_candidate_pairs(spark, sf_dir)
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        scored.filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _scored_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every guarded LSH candidate pair scored IN-BUCKET: columns
    (doc_a, doc_b, n_common, na, nb, est_jaccard_raw), exactly one row
    per pair. Pair set is identical to dedup_minhash_lsh's
    (small-bucket cliques + oversized-bucket star edges, de-duplicated
    across bands); scores are pure per-pair functions of the docs'
    full shingle sets and signatures.

    Plan shape: no pair-keyed join, no global distinct. Each doc's
    struct carries its hashed shingle set, its 8-minhash signature
    vector, AND its four per-band bucket widths + representatives (one
    narrow pre-pass); each SMALL bucket is
    collected into one sorted array row. A pair is emitted ONLY from
    its MINIMAL GENERATING BAND — for any two co-bucketed docs the
    emission test is in-row decidable: band b' generates the pair iff
    their band-b' signatures match AND (that bucket is small, or its
    representative is the pair's smaller doc) — so cross-band
    duplicates are never created and the distinct exchange (the 100x
    sweep's dominant cost) disappears. Survivor pairs are scored
    inside one higher-order expression (filter -> transform -> narrow
    struct) before the single explode, so non-surviving pairs never
    materialize a row and no wide struct outlives its bucket row.

    Exchanges are corpus-proportional only: the per-doc aggregation,
    three narrow band-metadata shuffles, and ONE band exchange of
    array-bearing rows. History: pair-keyed array joins 8-10 GB
    shuffle + 16g heap (pairs x arrays; 25.7M true pairs at 100x);
    in-bucket self-join 6.1 GB; exploded (doc, shingle) join 24.6 GB
    in one stage. Bucket memory is bounded even for arbitrarily large
    exact-dup clusters: oversized buckets are never collected — their
    star pairs stream through the shuffle-hash join against `reps`
    with two member payloads per row."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"]).selectExpr("doc_id", f"{TOKS} AS toks")
    def score(a: str) -> str:
        return (
            f"struct({a}.doc_id AS doc_a, m.doc_id AS doc_b, "
            f"size(array_intersect({a}.hs, m.hs)) AS n_common, "
            f"{a}.n_sh AS na, m.n_sh AS nb, "
            f"aggregate(zip_with({a}.mhs, m.mhs, (x, y) -> IF(x = y, 1, 0)), 0, "
            f"(acc, v) -> acc + v) / CAST({SEEDS} AS DOUBLE)"
            f" AS est_jaccard_raw)"
        )

    # staged=True (VERDICT r9 #1): the with_sets payload makes every
    # exchange in this pipeline array-bearing, and running them inside
    # one job SUMS their transient disk — the 3000x re-attestation
    # ENOSPCed at ~61 GB live shuffle on a ~55 GB box. Staging runs
    # the shingle aggregation and the payload join as separate eager
    # jobs with a deterministic reclaim() between, so peak disk is the
    # largest single stage. Costs two extra corpus-block writes — noise
    # at bench scale, the difference between finishing and ENOSPC at
    # the fourth decade.
    rows, reps = _minhash_member_rows(docs, with_sets=True, staged=True)
    return _emit_bucket_pairs(rows, reps, score)


def _minhash_member_rows(
    docs: DataFrame, with_sets: bool, staged: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Returns (rows, reps). rows = (band_id, sig, width, m): one row
    per (doc, band), where m is the member struct carrying the doc's
    signature vector plus its four per-band bucket widths and
    representatives (and, with_sets, its hashed shingle set + size for
    the exact scorers) and width is this band's bucket width. reps =
    (band_id, sig, rep): the representative member's full payload for
    each OVERSIZED bucket only, built by broadcasting the narrow
    widths pre-pass against the checkpointed per-doc payloads.
    _emit_bucket_pairs collects ONLY the small buckets into array
    rows; oversized buckets stay as rows (the reps join supplies the
    representative), so no single row ever holds more than two shingle
    sets regardless of cluster size (ADVICE r5: the previous shape
    collected a 3000-doc exact-dup cluster's entire hs payload —
    ~1.2 MB, unbounded in cluster size — into one row).
    The width/rep pre-pass rows are narrow (ids + sig string)."""
    if with_sets:
        # IN-ROW signatures for the hs-carrying branch (round 11,
        # guide §2.4 "remove shuffles outright", A/B'd at 3000x both
        # ways): the hashed shingle set and the 8-way minhash vector
        # are pure per-document functions, computed as row-local
        # higher-order expressions — no explode, no doc_id exchange,
        # and (the real killer) no ObjectHashAggregate sort-fallback:
        # collect_set over ~unique doc keys ALWAYS fell back past 128
        # hash-map entries and sorted the full exploded shingle volume
        # per task (3000x: 8.9k core-sec, 15 GB spill, GCLocker retry
        # storms from the sort buffer's 256 MB humongous allocations).
        # In-row at 3000x: signature stage 4.9k core-sec, ZERO spill,
        # query shuffle 45.7 -> 37.2 GB, total spill 16.3 -> 9.1 GB.
        # VALUE-IDENTICAL: shingles is already distinct in-row,
        # array_distinct(transform(shingles, md5->int)) equals
        # collect_set(h) as a SET (order differs; every consumer is
        # order-insensitive: array_intersect, size, min), and min over
        # the exploded multiset equals array_min over the distinct
        # set. The with_sets=False branch below deliberately KEEPS the
        # explode+groupBy form — measured 228.5 s vs 336.4 s in-row at
        # 3000x on the flagship: higher-order lambdas are interpreted
        # (no codegen), which ~doubles the md5+permutation CPU, and
        # the plain min() aggregate is fixed-width HashAggregate with
        # no sort-fallback to save. In-row only pays off where it
        # deletes the collect_set spill.
        # One solo signature job writes DISK_ONLY blocks that
        # everything downstream reads (big=True: the hs arrays make
        # this frame corpus-sized; default-storage blocks would pin
        # protected storage memory against the downstream bucket
        # aggregates, 1000x sweep).
        per_doc = materialize(
            minhash.hashes(docs).select(
                "doc_id",
                "hs",
                F.expr("CAST(size(hs) AS BIGINT)").alias("n_sh"),
                minhash.inrow_signatures().alias("mhs"),
            ),
            big=True,
        )
        member = F.struct("doc_id", "hs", "n_sh", "mhs", "bws", "reps")
    else:
        # Explode + paired min() aggregation (KEPT, see the in-row
        # rationale above): one md5 per distinct shingle through
        # whole-stage codegen, 8 allocation-free permutation mins
        # partial-aggregated map-side, one narrow (doc_id x 8 ints)
        # exchange. Eager like every materialize(): this frame feeds
        # both the broadcast big_buckets side and the bucket side of
        # one query, the lazy-checkpoint deadlock shape. Round 8
        # measured lazy faster at 3000x (139 s vs 166 s) and eager's
        # extra resident blocks past the single-box disk ceiling of the
        # fifth decade; sf0.1 A/B in BASELINE.md.
        # big=True even without the hs payload: per_doc is still one
        # row per document (narrow, but CORPUS-sized), and the round-7
        # fourth-decade run showed default MEMORY_AND_DISK blocks of
        # this frame OOM a fresh 8g JVM at 15M docs while DISK_ONLY
        # completes — same protected-storage family as the hs branch.
        per_doc = materialize(minhash.signatures(docs), big=True)
        member = F.struct("doc_id", "mhs", "bws", "reps")
    if staged:
        # Staged-sides mode (VERDICT r9 #1, the candidate_recall
        # fifth-decade recipe applied to the scorers): per_doc was just
        # built as its OWN eager job, so that job's dead transients —
        # since round 11's in-row signatures that is the spread()
        # exchange of the raw text (the shingle explode/collect_set
        # shuffle it used to be no longer exists) — are deleted by
        # reclaim() BEFORE the band-metadata and bucket-exchange jobs
        # start writing, capping peak transient disk at max(stage)
        # instead of the sum that ENOSPCed the scorers' 3000x
        # re-attestation (61.3 GB live vs ~55 GB free, BASELINE.md
        # round 9).
        reclaim(docs.sparkSession)
    # Narrow pre-pass: per-band bucket width + representative, folded
    # back into one (bws, reps) array pair per doc.
    band_rows = minhash.bands(per_doc)
    widths = band_rows.groupBy("band_id", "sig").agg(
        F.count("*").alias("bw"), F.min("doc_id").alias("rep")
    )
    band_meta = (
        band_rows.join(widths, ["band_id", "sig"])
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("band_id", "bw", "rep")).alias("wr"))
        .select(
            "doc_id",
            F.expr("transform(array_sort(wr), x -> x.bw)").alias("bws"),
            F.expr("transform(array_sort(wr), x -> x.rep)").alias("reps"),
        )
    )
    base = per_doc.join(band_meta, "doc_id")
    if staged:
        # Second staging point: the payload-carrying doc_id join runs
        # as its own job, then its exchanges (per_doc's array rows +
        # band_meta's narrow rows, plus band_meta's internal width
        # shuffles) are reclaimed before the band/bucket exchange — the
        # final job reads compact DISK_ONLY blocks and carries only its
        # own 4-bands-per-doc shuffle. Both the clique and star
        # branches also stop recomputing the join (in the lazy shape
        # AQE stage reuse dedups it; here the checkpoint does).
        base = materialize(base, big=True)
        reclaim(docs.sparkSession)
    rows = (
        base.select(F.explode(minhash.band_structs()).alias("b"), member.alias("m"))
        .select(
            "b.band_id",
            "b.sig",
            F.expr("m.bws[b.band_id]").alias("width"),
            "m",
        )
    )
    # Representative payloads for the oversized buckets, built from the
    # NARROW widths pre-pass (one bucket-key row per giant bucket) and
    # joined back against the checkpointed per_doc payloads — so the
    # star branch of _emit_bucket_pairs never sorts or windows the wide
    # member rows. Broadcasting the filtered widths is safe: its rows
    # are (ids + sig string) and a corpus only has a >200-wide bucket
    # per giant dup cluster — bounded by n_docs / MAX_BUCKET
    # even adversarially, and the broadcast carries no payload.
    big_buckets = F.broadcast(
        widths.filter(F.col("bw") > MAX_BUCKET).select(
            "band_id", "sig", F.col("rep").alias("rep_doc")
        )
    )
    reps = (
        base.join(big_buckets, F.col("doc_id") == F.col("rep_doc"))
        .select("band_id", "sig", member.alias("rep"))
    )
    return rows, reps


def _emit_sql(left: str) -> str:
    """The minimal-generating-band test as SQL, parameterized on the
    left member's SQL prefix (`a` in the clique lambda, `rep` in the
    star path) — a template function instead of textual
    `.replace('a.', ...)`, which would silently corrupt the
    expression if a pair-struct ever contained another identifier
    ending in 'a.' (ADVICE r5).

    EMIT(left, m): a pair is produced only from its MINIMAL
    GENERATING BAND — skip if any earlier band b' already generated
    it, i.e. the signatures match at b' AND (that bucket is small, or
    its representative is the pair's smaller doc = left.doc_id). This
    makes the global pair DISTINCT unnecessary: no pair-keyed
    exchange ever exists. band_id = 0 short-circuits because
    sequence(0, -1) would count DOWN in Spark SQL."""
    return (
        f"(band_id = 0 OR NOT exists(sequence(0, band_id - 1), bp -> "
        f"{left}.mhs[2 * bp] = m.mhs[2 * bp] "
        f"AND {left}.mhs[2 * bp + 1] = m.mhs[2 * bp + 1] "
        f"AND ({left}.bws[bp] <= {MAX_BUCKET} "
        f"OR {left}.reps[bp] = {left}.doc_id)))"
    )


def _emit_bucket_pairs(
    rows: DataFrame, reps: DataFrame, pair_struct_sql: Callable[[str], str]
) -> DataFrame:
    """Generate every guarded candidate pair exactly once from the
    member-row frame, projecting each through `pair_struct_sql(left)`
    (a SQL struct over the left member prefix and `m`,
    left.doc_id < m.doc_id).

    Small buckets (width <= MAX_BUCKET) are collected into
    one sorted array row and emit their clique pairs inside a single
    higher-order expression, so non-surviving pairs never materialize
    a row. Oversized buckets (giant exact-dup clusters) are NEVER
    collected: their rows keep flowing and a shuffle-hash join against
    the tiny `reps` frame (one representative payload per giant
    bucket, built narrow inside _minhash_member_rows) supplies the
    representative struct, so star pairs are emitted row-by-row with
    exactly two member payloads per row — bounded executor memory for
    arbitrarily large clusters (ADVICE r5). The shuffle-hash hint
    matters: a sort-merge join would re-sort the wide star rows, which
    is exactly the cost this shape exists to avoid (the round-6
    window-first() variant measured 108.9 s / 5.01 per decade on the
    keeper at the 100x replicate sweep vs 3.68 for the collect it
    replaced — the sort of 30k-row star buckets carrying shingle-set
    payloads was the regression)."""
    # Plain groupBy, measured against a pre-exchange column repartition
    # (round 10): bucket keys are ~unique within a map partition, so
    # the map-side partial collect_list merges nothing and its
    # ObjectHashAggregate sort fallback spills the full wide input
    # (59.5 GB at the scorers' 3000x). Repartitioning first removes
    # that map-side sort — but Spark still plans partial+final
    # back-to-back after the exchange and BOTH sort-fall-back, so the
    # reduce stage double-sorts instead (56 GB spill there, 3000x wall
    # 294.7 s vs 279.9 s plain, same ~54 GB peak disk). No free lunch
    # without a complete-mode single agg, which Catalyst doesn't plan
    # for collect_list; the plain shape is the measured winner.
    buckets = (
        rows.filter(F.col("width") <= MAX_BUCKET)
        .groupBy("band_id", "sig")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))
    )
    clique_pairs = (
        f"flatten(transform(ms, (a, i) -> "
        f"transform(filter(slice(ms, i + 2, size(ms)), m -> {_emit_sql('a')}), "
        f"m -> {pair_struct_sql('a')})))"
    )
    clique = buckets.filter(F.size("ms") >= 2).select(
        F.explode(F.expr(clique_pairs)).alias("p")
    )
    star = (
        rows.filter(F.col("width") > MAX_BUCKET)
        .join(reps.hint("shuffle_hash"), ["band_id", "sig"])
        .filter(F.expr(f"m.doc_id <> rep.doc_id AND {_emit_sql('rep')}"))
        .select(F.expr(pair_struct_sql("rep")).alias("p"))
    )
    return clique.unionByName(star).select("p.*")


# The recall eval runs on a DETERMINISTIC ~1/2 sample of the corpus
# (VERDICT r6 #4): the exact-Jaccard truth side is the one all-pairs-
# shaped op in the repo, and computing it over the full corpus made
# the EVAL inherit the enumerator's cost (5.3/decade at 1000x). The
# sample keys on md5(TEXT), not doc_id, so every exact-dup class stays
# whole (both pipelines collapse classes by md5(text); sampling by
# doc_id could split a class and shift its min-doc_id representative,
# breaking truth/candidate endpoint agreement). Recall over a random
# half of the corpus estimates full recall: pair-level inclusion is
# ~Bernoulli(1/4) i.i.d. across truth pairs, so the estimate's error
# shrinks with truth-set size — agreement vs the full eval is measured
# once at 100x in BASELINE.md. The full-truth enumerator stays
# available as dedup_ngram_jaccard.
_RECALL_SAMPLE_SPARK = "substring(md5(text), 1, 1) < '8'"
_RECALL_SAMPLE_DUCK = "substr(md5(text), 1, 1) < '8'"

_DEDUP_RECALL_ORACLE = f"""
    WITH sdocs AS (SELECT * FROM documents WHERE {_RECALL_SAMPLE_DUCK}),
    truth AS (SELECT doc_a, doc_b FROM ({_jaccard_oracle("sdocs")})),
    cand AS (SELECT doc_a, doc_b FROM ({minhash.pairs_duck("sdocs")})),
    hit AS (
      SELECT t.doc_a, t.doc_b FROM truth t
      JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
           ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                 / GREATEST((SELECT COUNT(*) FROM truth), 1), 6) AS recall
"""


@register("dedup_candidate_recall", oracle=_DEDUP_RECALL_ORACLE)
def dedup_candidate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generator quality as a first-class operator (the dedup
    twin of ann_recall_eval): recall of the MinHash-LSH candidate pairs
    against the exact Jaccard>=0.4 truth set — how a production
    pipeline signs off LSH band/row parameters before trusting them at
    scale. Honestly reflects the star-edge guard's trade: member-member
    pairs inside oversized buckets count against recall. Both pair sets
    are deterministic and SQL-expressible, so the METRIC itself is
    value-checked cross-engine.

    Both sides run over the SAME deterministic md5(text) half-sample
    (see _RECALL_SAMPLE_* above): the generator's parameters are being
    graded, and grading them on a reproducible half of the corpus
    costs ~1/4 of the truth enumerator's pair work while estimating
    the same recall — the sign-off workflow a 100 TB corpus actually
    affords. Sampling by text hash keeps exact-dup classes whole, so
    representatives agree between the two pipelines."""
    t = load_tables(spark, sf_dir)
    # EAGER barrier on the sampled text (round 8): truth and candidates
    # are independent branches of one action, so a lazy sdocs would be
    # text-SCANNED by both branches' map stages CONCURRENTLY — two
    # 32-task scans each allocating ~100 MB column batches outside the
    # memory manager, which OOMed the fourth-decade run even at the
    # default advisory. The eager checkpoint scans the parquet once,
    # solo, and both pipelines then read compact DISK_ONLY blocks.
    sdocs = materialize(
        spread(t["documents"])
        .filter(F.expr(_RECALL_SAMPLE_SPARK))
        .select("doc_id", "text"),
        big=True,
    )
    truth = _jaccard_truth_pairs(sdocs).select("doc_a", "doc_b")
    # staged=True (round 10): at 10000x the fused cand job — shingle
    # explode, 8-way min aggregation, and the 4-bands bucket exchange
    # in one job — OOMed the default 8g heap twice on the round-10
    # sandbox (the r9 8g pass was riding the edge; 10g completed).
    # Staging pre-checkpoints the per-doc signatures so the bucket
    # exchange reads compact DISK_ONLY blocks instead of sharing its
    # heap with the scan/agg stages, the same split that fixed the
    # scorers' disk profile.
    cand = _minhash_band_pairs(
        sdocs.selectExpr("doc_id", f"{TOKS} AS toks"),
        staged=True,
    ).select("doc_a", "doc_b")
    # Both sides are consumed twice (semi-join + count); materialize
    # BOTH so neither shingling pipeline re-executes. EAGER (round 9,
    # VERDICT r8 #3): eager checkpoints sequence the two sides as
    # SEPARATE jobs — truth's exact gram index (the ~35 GB-at-10000x
    # transient that disk-blocked the fifth decade) is built, reduced
    # to its tiny pair set, and its shuffle files become collectible
    # BEFORE the candidate side's minhash shuffles start, so peak
    # transient disk is max(truth, cand), not their sum. Deletion
    # between stages needs a driver GC — the scale protocol sets
    # spark.cleaner.periodicGC.interval=60s via SPARK_GRAFT_EXTRA_CONF
    # (same knob the 10000x flagship needed, BASELINE.md round 8); on
    # a real cluster each executor's spindles make this a non-issue.
    # The pair frames themselves are tiny, so the eager flip re-orders
    # work rather than adding any (measured 3000x control in
    # BASELINE.md round 9). reclaim() after each stage makes the
    # shuffle-file deletion DETERMINISTIC instead of racing the
    # periodic cleaner — the first 10000x attempt lost that race by
    # 16 seconds (ENOSPC at 92 GB; curve in BASELINE.md round 9).
    truth = materialize(truth)
    reclaim(spark)
    cand = materialize(cand)
    reclaim(spark)
    hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    return (
        truth.agg(F.count("*").cast("bigint").alias("n_truth"))
        .crossJoin(cand.agg(F.count("*").cast("bigint").alias("n_candidates")))
        .crossJoin(hit.agg(F.count("*").cast("bigint").alias("n_hit")))
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.greatest("n_truth", F.lit(1)), 6
            ).alias("recall"),
        )
    )


_MH_EST_ORACLE = f"""
    WITH cand AS (SELECT doc_a, doc_b FROM ({minhash.pairs_duck()})),
    {minhash.bands_duck(prefix="e_")},
    hs AS ({_SHINGLE_SETS_DUCK}),
    pairs AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.hs, b.hs)) AS n_common,
             a.n_sh AS na, b.n_sh AS nb,
             ({" + ".join(f"CASE WHEN ma.mh{s} = mb.mh{s} THEN 1 ELSE 0 END" for s in range(SEEDS))})
               / CAST({SEEDS} AS DOUBLE) AS est_jaccard
      FROM cand c
      JOIN hs a ON a.doc_id = c.doc_a
      JOIN hs b ON b.doc_id = c.doc_b
      JOIN e_mh ma ON ma.doc_id = c.doc_a
      JOIN e_mh mb ON mb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(est_jaccard, 6) AS est_jaccard,
           ROUND(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS true_jaccard,
           ROUND(ABS(est_jaccard
                 - CAST(n_common AS DOUBLE) / (na + nb - n_common)), 6) AS abs_err
    FROM pairs
"""


@register("minhash_estimate_accuracy", oracle=_MH_EST_ORACLE)
@expanding
def minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-quality eval (completes the eval trio with
    dedup_candidate_recall and ann_recall_eval): for every guarded LSH
    candidate pair, the Jaccard ESTIMATE from 8-minhash agreement
    (fraction of seeds where the signatures match — the unbiased
    MinHash estimator, Broder 1997) next to the exact shingle-set
    Jaccard and their absolute error. This is how a production
    pipeline signs off a signature width before trusting estimated
    similarity at 100 TB, where exact verification of every pair is
    unaffordable.

    Scale shape: the fused in-bucket scorer (_scored_candidate_pairs):
    in-row shingle sets and signatures ride the band exchange once per
    (doc, band), and every pair is scored inside its bucket, emitted
    once from its minimal generating band — exchanges are
    corpus-proportional, never pairs x arrays. The previous pair-keyed
    array joins measured 9.7 GB shuffle / a 16g heap at the
    candidate-bound 100x sweep; the exploded (doc, shingle) join
    variant before THAT measured 24.6 GB in one stage / 14.4x per
    decade. Star-edge pairs from oversized buckets are scored like any
    other candidate (the representative's payload comes from a
    shuffle-hash join against the tiny `reps` frame)."""
    pairs = _scored_candidate_pairs(spark, sf_dir)
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round("est_jaccard_raw", 6).alias("est_jaccard"),
        F.round(jac, 6).alias("true_jaccard"),
        F.round(F.abs(F.col("est_jaccard_raw") - jac), 6).alias("abs_err"),
    )


_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE pairs AS ({minhash.pairs_duck()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node, MIN(label) AS component FROM reach GROUP BY node
"""


@register("dedup_connected_components", oracle=_COMPONENTS_ORACLE)
@expanding
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS from near-dup PAIRS: connected components of the
    MinHash-LSH candidate graph by iterative min-label propagation
    (operators/components.py), over the exact-dup-collapsed edge list
    (_collapsed_neardup_edges — provably component-identical, see its
    docstring). The oracle computes the components of the FULL
    uncollapsed graph with a recursive CTE, so the parity check covers
    both the propagation and the collapse equivalence."""
    from mapreducecore_spark.operators.components import connected_components

    pairs = _collapsed_neardup_edges(spark, sf_dir)
    return connected_components(pairs)


# ---------------------------------------------------------- text analysis

@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars_calc,
           CAST(len({TOKS_DUCK}) AS INT) AS n_tokens,
           CAST({n_stop_duck(TOKS_DUCK)} AS INT) AS n_stopwords,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9_ ]')) AS INT) AS n_punct
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: chars, strtok tokens, stopword hits, punct."""
    t = load_tables(spark, sf_dir)
    return t["documents"].selectExpr(
        "doc_id",
        "length(text) AS n_chars_calc",
        f"size({TOKS}) AS n_tokens",
        f"{n_stop(TOKS)} AS n_stopwords",
        "size(regexp_extract_all(text, '[^A-Za-z0-9_ ]', 0)) AS n_punct",
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len({TOKS_DUCK}) AS INT) AS n_tokens,
             CAST({n_stop_duck(TOKS_DUCK)} AS INT) AS n_stop
      FROM documents
    )
    SELECT doc_id, {quality("n_tokens", "n_stop")} AS quality
    FROM s
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heuristic quality score (llm/curation.py) of every document."""
    t = load_tables(spark, sf_dir)
    s = t["documents"].selectExpr(
        "doc_id", f"size({TOKS}) AS n_tokens", f"{n_stop(TOKS)} AS n_stop"
    )
    return s.selectExpr("doc_id", f"{quality('n_tokens', 'n_stop')} AS quality")


_LANG_SETS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
}


@register(
    "lang_id_ngram",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter({TOKS_DUCK}, x -> list_contains([{", ".join(repr(w) for w in _LANG_SETS["en"])}], x))) AS INT) AS s_en,
             CAST(len(list_filter({TOKS_DUCK}, x -> list_contains([{", ".join(repr(w) for w in _LANG_SETS["de"])}], x))) AS INT) AS s_de,
             CAST(len(list_filter({TOKS_DUCK}, x -> list_contains([{", ".join(repr(w) for w in _LANG_SETS["es"])}], x))) AS INT) AS s_es
      FROM documents
    )
    SELECT doc_id, lang AS lang_labeled,
           CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
                WHEN s_de >= s_es AND s_de > 0 THEN 'de'
                WHEN s_es > 0 THEN 'es'
                ELSE 'und' END AS lang_pred
    FROM s
    """,
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID heuristic (deterministic tie order)."""
    t = load_tables(spark, sf_dir)
    exprs = {
        k: f"size(filter({TOKS}, x -> array_contains(array({', '.join(repr(w) for w in ws)}), x)))"
        for k, ws in _LANG_SETS.items()
    }
    s = t["documents"].selectExpr(
        "doc_id",
        "lang",
        f"{exprs['en']} AS s_en",
        f"{exprs['de']} AS s_de",
        f"{exprs['es']} AS s_es",
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_es")) & (F.col("s_en") > 0),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_es")) & (F.col("s_de") > 0), "de")
        .when(F.col("s_es") > 0, "es")
        .otherwise("und")
    )
    return s.select("doc_id", F.col("lang").alias("lang_labeled"), pred.alias("lang_pred"))


from mapreducecore_spark.functions.text import BPE_TOKEN_REGEX  # noqa: E402


@register(
    "token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_TOKEN_REGEX}')) AS INT) AS n_bpe_tokens
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting with an explicit-class regex (identical
    semantics in Java regex and RE2)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_REGEX), 0)).alias("n_bpe_tokens"),
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id, MIN(md5(substr(text, i, 8))) AS fingerprint
    FROM (SELECT doc_id, text,
                 unnest(generate_series(1, greatest(len(text) - 7, 1))) AS i
          FROM documents) t
    GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: min md5 over 8-char shingles —
    stable under content reordering-free edits, JVM-side via
    higher-order functions (no UDF)."""
    t = load_tables(spark, sf_dir)
    return spread(t["documents"]).selectExpr(
        "doc_id",
        "array_min(transform(sequence(1, greatest(length(text) - 7, 1)), "
        "i -> md5(substring(text, i, 8)))) AS fingerprint",
    )


_WINNOW_K = 4  # k-gram width (tokens)
_WINNOW_W = 4  # winnowing window (consecutive gram hashes)


@register(
    "doc_fingerprint_winnow",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKS_DUCK} AS tk FROM documents
    ), gh AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, len(tk) - {_WINNOW_K - 1}),
               i -> {hash60_duck(
                 "concat_ws(' ', " + ", ".join(f"tk[i + {j}]" for j in range(_WINNOW_K)) + ")"
               )}) AS gh
      FROM toks WHERE len(tk) >= {_WINNOW_K}
    ), sel AS (
      SELECT doc_id, len(gh) AS n_grams,
             list_sort(list_distinct(list_transform(
               generate_series(1, greatest(len(gh) - {_WINNOW_W - 1}, 1)),
               i -> list_min(gh[i : i + {_WINNOW_W - 1}])))) AS fps
      FROM gh
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(fps, ',')) AS fp_digest
    FROM sel
    """,
)
def doc_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer et al., SIGMOD 2003 — the MOSS algorithm):
    hash every k-token gram, slide a w-hash window, select each
    window's minimum hash. Guarantees any shared substring of length
    >= w+k-1 tokens contributes at least one COMMON fingerprint between
    two documents, while keeping the fingerprint density ~2/(w+1) —
    the classic bounded-density local fingerprinting that
    doc_fingerprint's single global min cannot give. Output: per-doc
    fingerprint-set size + an order-canonical digest (two docs sharing
    content overlap in fingerprints; identical docs get identical
    digests).

    Scale shape: pure per-row higher-order functions — O(n * w) work
    per document, zero shuffles, codegen'd; the digest is the only
    thing a downstream cross-doc join would exchange (~40 bytes/doc
    for whole-doc matching, or the fingerprint list exploded for
    partial-overlap candidate generation, LSH-style)."""
    t = load_tables(spark, sf_dir)
    gram = (
        "transform(sequence(1, size(tk) - "
        + str(_WINNOW_K - 1)
        + "), i -> "
        + hash60(
            "concat_ws(' ', "
            + ", ".join(f"element_at(tk, i + {j})" for j in range(_WINNOW_K))
            + ")"
        )
        + ")"
    )
    return (
        spread(t["documents"])
        .selectExpr("doc_id", f"{TOKS} AS tk")
        .filter(F.expr(f"size(tk) >= {_WINNOW_K}"))
        .selectExpr("doc_id", f"{gram} AS gh")
        .selectExpr(
            "doc_id",
            "size(gh) AS n_grams",
            f"array_sort(array_distinct(transform("
            f"sequence(1, greatest(size(gh) - {_WINNOW_W - 1}, 1)),"
            f" i -> array_min(slice(gh, i, {_WINNOW_W}))))) AS fps",
        )
        .selectExpr(
            "doc_id",
            "CAST(n_grams AS BIGINT) AS n_grams",
            "CAST(size(fps) AS BIGINT) AS n_fingerprints",
            "md5(array_join(fps, ',')) AS fp_digest",
        )
    )


# ------------------------------------------------------- similarity search

from mapreducecore_spark.llm.similarity import (  # noqa: E402
    COS_DUCK,
    COS_SPARK,
    IP_DUCK,
    IP_SPARK,
    VECTORS_DUCK,
    add_lsh_codes,
    centroid_means,
    centroid_means_duck,
    duck_tables_select,
    l2sq,
    vectors,
)
from mapreducecore_spark.operators.topk import top_k_per_group  # noqa: E402

# Every search ranks the neighbors of the query vectors vec_id < 8.
# DuckDB form of `_top_sims` over CTE `sims`.
_TOP_SIMS_DUCK = """SELECT q_id, neighbor_id, sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM sims
    ) WHERE rn <= {k}"""

# Exact cosine over candidate (q_id, neighbor_id) pairs in CTE `cand`.
_RANK_CANDIDATES_DUCK = f"""sims AS (
      SELECT c.q_id, c.neighbor_id,
             ROUND({COS_DUCK.format(a="qe.emb", b="ne.emb")}, 6) AS sim
      FROM cand c JOIN e qe ON qe.vec_id = c.q_id
                  JOIN e ne ON ne.vec_id = c.neighbor_id
    )
    {_TOP_SIMS_DUCK}"""


def _top_sims(sims: DataFrame, k: int) -> DataFrame:
    """The k highest-`sim` rows per q_id, ties to the lowest neighbor_id."""
    return top_k_per_group(sims, ["q_id"], [F.col("sim").desc(), F.col("neighbor_id")], k)


def _rank_candidates(e: DataFrame, cand: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k over candidate (q_id, neighbor_id) pairs."""
    qe = e.filter(F.col("vec_id") < 8).selectExpr("vec_id AS q_id", "emb AS q_emb")
    ne = e.selectExpr("vec_id AS neighbor_id", "emb AS n_emb")
    cos = COS_SPARK.format(a="q_emb", b="n_emb")
    sims = (
        cand.join(F.broadcast(qe), "q_id")
        .join(ne, "neighbor_id")
        .selectExpr("q_id", "neighbor_id", f"ROUND({cos}, 6) AS sim")
    )
    return _top_sims(sims, k)


_ANN_BRUTE_ORACLE = f"""
    WITH e AS ({VECTORS_DUCK}),
    q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 8),
    sims AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             ROUND({COS_DUCK.format(a="q.q_emb", b="e.emb")}, 6) AS sim
      FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id
    )
    {_TOP_SIMS_DUCK.format(k=5)}
    """


@register("ann_cosine_topk", oracle=_ANN_BRUTE_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 per query vector: the query set broadcasts
    against the whole table. The baseline the approximate searches
    below are scored against."""
    t = load_tables(spark, sf_dir)
    e = vectors(spread(t["embeddings"]))
    q = e.filter(F.col("vec_id") < 8).selectExpr("vec_id AS q_id", "emb AS q_emb")
    cos = COS_SPARK.format(a="q_emb", b="emb")
    sims = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .selectExpr("q_id", "vec_id AS neighbor_id", f"ROUND({cos}, 6) AS sim")
    )
    return _top_sims(sims, 5)


_ANN_LSH_ORACLE = f"""
    WITH e AS ({VECTORS_DUCK}),
    be AS (SELECT vec_id, emb, {duck_tables_select("emb")} FROM e),
    q AS (SELECT vec_id AS q_id, emb AS q_emb, tbl, code FROM be WHERE vec_id < 8),
    cand AS (
      SELECT DISTINCT q.q_id, be.vec_id AS neighbor_id
      FROM q JOIN be ON q.tbl = be.tbl AND q.code = be.code AND be.vec_id <> q.q_id
    ),
    {_RANK_CANDIDATES_DUCK.format(k=3)}
    """


@register("ann_lsh_bucketed", oracle=_ANN_LSH_ORACLE)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-3 via multi-table sign-LSH (4 tables x 8
    bits): candidates are the union of per-table bucket joins, ranked
    by exact cosine. Candidate count follows bucket occupancy, never
    O(n²); high-similarity recall is 1-(1-p^8)^4 (planted vectors in
    tests/test_llm_ops.py)."""
    t = load_tables(spark, sf_dir)
    e = vectors(spread(t["embeddings"]))
    be = add_lsh_codes(e)
    q = be.filter(F.col("vec_id") < 8).selectExpr(
        "vec_id AS q_id", "emb AS q_emb", "tbl", "code"
    )
    cand = (
        be.join(F.broadcast(q), ["tbl", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return _rank_candidates(e, cand, 3)


# Product quantization: m subspaces x K codes. The seeded codebook is
# the subvectors of the K lowest vec_ids.
_PQ_M = 4  # subspaces over the 64-dim embeddings
_PQ_SUB = 16  # dims per subspace
_PQ_K = 16  # codes per subspace
_PQ_TOPK = 5
_PQ_TRAIN_ITERS = 1


def _pq_oracle(iters: int) -> str:
    """DuckDB mirror of `_pq_codebook(iters)` + `_pq_adc_topk`: codebook
    cb0, `iters` encode-then-mean rounds, then the ADC top-k against
    cb<iters>. Every CTE is MATERIALIZED (DuckDB inlines CTEs, and the
    round chain re-reads each one)."""
    subs = ", ".join(
        f"list_slice(emb, {s * _PQ_SUB + 1}, {(s + 1) * _PQ_SUB}) AS sub{s}"
        for s in range(_PQ_M)
    )
    sub_rows = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, sub{s} AS sub FROM sliced" for s in range(_PQ_M)
    )

    def d2(i: int) -> str:
        return l2sq(IP_DUCK, "v.sub", f"cb{i}.c_sub", f"cb{i}.c_norm2")

    def codes(i: int) -> str:
        return f"""codes{i} AS MATERIALIZED (
      SELECT vec_id, s, code_id FROM (
        SELECT v.vec_id, v.s, cb{i}.code_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                                  ORDER BY {d2(i)}, cb{i}.code_id) AS rn
        FROM subrows v JOIN cb{i} ON cb{i}.s = v.s
      ) WHERE rn = 1
    )"""

    ctes = [
        f"e AS MATERIALIZED ({VECTORS_DUCK})",
        f"sliced AS MATERIALIZED (SELECT vec_id, {subs} FROM e)",
        f"subrows AS MATERIALIZED ({sub_rows})",
        f"""cb0 AS MATERIALIZED (
      SELECT s, vec_id AS code_id, sub AS c_sub,
             {IP_DUCK.format(a="sub", b="sub")} AS c_norm2
      FROM subrows WHERE vec_id < {_PQ_K}
    )""",
    ]
    for i in range(iters):
        members = (
            f"(SELECT c.s, c.code_id, v.sub FROM codes{i} c"
            " JOIN subrows v ON v.vec_id = c.vec_id AND v.s = c.s)"
        )
        ctes += [
            codes(i),
            f"""cb{i + 1} AS MATERIALIZED (
      SELECT *, {IP_DUCK.format(a="c_sub", b="c_sub")} AS c_norm2
      FROM ({centroid_means_duck(members, ["s", "code_id"], "sub")})
    )""",
        ]
    n = iters
    ctes += [
        codes(n),
        f"""lut AS MATERIALIZED (
      SELECT v.vec_id AS q_id, v.s, cb{n}.code_id,
             CAST({d2(n)} AS DECIMAL(18,5)) AS qd
      FROM subrows v JOIN cb{n} ON cb{n}.s = v.s
      WHERE v.vec_id < 8
    )""",
        f"""adc AS (
      SELECT l.q_id, c.vec_id AS neighbor_id,
             CAST(SUM(l.qd) AS DOUBLE) AS pq_dist2
      FROM codes{n} c JOIN lut l ON l.s = c.s AND l.code_id = c.code_id
      WHERE c.vec_id <> l.q_id
      GROUP BY l.q_id, c.vec_id
    )""",
    ]
    ctes = ",\n    ".join(ctes)
    return f"""
    WITH {ctes}
    SELECT q_id, neighbor_id, pq_dist2 FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY pq_dist2, neighbor_id) AS rn
      FROM adc
    ) WHERE rn <= {_PQ_TOPK}
    """


@register("ann_pq_topk", oracle=_pq_oracle(0))
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) with the seeded
    codebook: each 64-dim vector becomes 4 one-byte codes (nearest of
    16 centroids per 16-dim subspace), and each query ranks the whole
    index by asymmetric distance — the sum of 4 lookup-table entries
    per vector — returning the top-5 by estimated L2².

    The index side of the ADC join carries only (vec_id, s, code) ints,
    m bytes per vector against 256 raw; codebook (64 rows) and lookup
    table (512 rows) broadcast. Subspace distances are `l2sq` and the
    ADC sum an exact DECIMAL(18,5) fold, so the ranking is
    order-independent on both engines. 4.30/decade to 1000x
    (BASELINE.md "Three-decade sweep, part 3")."""
    subrows = _pq_subrows(spark, sf_dir)
    return _pq_adc_topk(subrows, _pq_codebook(subrows, 0))


def _pq_subrows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, s, sub): every vector split into its m subvectors,
    materialized because codebook, encoding and lookup table all read
    it."""
    t = load_tables(spark, sf_dir)
    e = vectors(spread(t["embeddings"]))
    return materialize(
        e.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.expr(f"slice(emb, {s * _PQ_SUB + 1}, {_PQ_SUB})").alias(
                                "sub"
                            ),
                        )
                        for s in range(_PQ_M)
                    ]
                )
            ).alias("b"),
        ).select("vec_id", "b.s", "b.sub")
    )


def _pq_codebook(subrows: DataFrame, iters: int) -> DataFrame:
    """(s, code_id, c_sub, c_norm2): the seeded codebook after `iters`
    Lloyd rounds (encode, then `centroid_means` per (subspace, code));
    a code no subvector picks drops out."""
    cb = subrows.filter(F.col("vec_id") < _PQ_K).selectExpr(
        "s", "vec_id AS code_id", "sub AS c_sub", f"{IP_SPARK.format(a='sub', b='sub')} AS c_norm2"
    )
    for _ in range(iters):
        members = _pq_encode(subrows, materialize(cb)).join(subrows, ["vec_id", "s"])
        cb = centroid_means(members, ["s", "code_id"], "sub").selectExpr(
            "s", "code_id", "c_sub", f"{IP_SPARK.format(a='c_sub', b='c_sub')} AS c_norm2"
        )
    return cb


_PQ_SUB_D2 = l2sq(IP_SPARK, "sub", "c_sub", "c_norm2")


def _pq_encode(subrows: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, s, code_id): nearest codebook entry per subvector
    (min rounded L2², ties to the lowest code)."""
    scored = subrows.join(F.broadcast(cb), "s").selectExpr(
        "vec_id", "s", "code_id", f"{_PQ_SUB_D2} AS d2"
    )
    return top_k_per_group(scored, ["vec_id", "s"], [F.col("d2"), F.col("code_id")], 1).drop(
        "d2"
    )


def _pq_adc_topk(subrows: DataFrame, cb: DataFrame) -> DataFrame:
    """Encode the index with `cb`, build each query's
    asymmetric-distance lookup table, and rank by the exact-DECIMAL
    sum of m table entries per vector."""
    cb = materialize(cb)
    codes = _pq_encode(subrows, cb)
    lut = (
        subrows.filter(F.col("vec_id") < 8)
        .join(F.broadcast(cb), "s")
        .selectExpr(
            "vec_id AS q_id",
            "s",
            "code_id",
            f"CAST({_PQ_SUB_D2} AS DECIMAL(18,5)) AS qd",
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "code_id"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("qd").cast("double").alias("pq_dist2"))
    )
    return top_k_per_group(
        adc, ["q_id"], [F.col("pq_dist2"), F.col("vec_id")], _PQ_TOPK
    ).select("q_id", F.col("vec_id").alias("neighbor_id"), "pq_dist2")


@register("ann_pq_trained", oracle=_pq_oracle(_PQ_TRAIN_ITERS))
def ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_pq_topk with _PQ_TRAIN_ITERS Lloyd rounds on the codebook.
    The mean step touches m x K x 16 cells whatever the corpus size;
    one round cuts per-subvector quantization error 28% at sf0.01
    (tests/test_round5_ops.py; BASELINE.md "ann_pq_topk")."""
    subrows = _pq_subrows(spark, sf_dir)
    return _pq_adc_topk(subrows, _pq_codebook(subrows, _PQ_TRAIN_ITERS))


def _pq_recall_oracle() -> str:
    return f"""
    WITH e2 AS ({VECTORS_DUCK}),
    truth AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {l2sq(IP_DUCK, "q.q_emb", "e.emb")}, e.vec_id) AS rn
        FROM (SELECT vec_id AS q_id, emb AS q_emb FROM e2 WHERE vec_id < 8) q
        CROSS JOIN e2 e WHERE e.vec_id <> q.q_id
      ) WHERE rn <= {_PQ_TOPK}
    ),
    pq AS (SELECT q_id, neighbor_id FROM ({_pq_oracle(0)})),
    hits AS (
      SELECT t.q_id, COUNT(*) AS n_hit FROM truth t
      JOIN pq p ON p.q_id = t.q_id AND p.neighbor_id = t.neighbor_id
      GROUP BY t.q_id
    )
    SELECT q.q_id,
           CAST({_PQ_TOPK} AS BIGINT) AS n_truth,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(h.n_hit, 0) / {_PQ_TOPK}.0, 6) AS recall_at_5
    FROM (SELECT DISTINCT q_id FROM truth) q
    LEFT JOIN hits h ON h.q_id = q.q_id
"""


@register("ann_pq_recall", oracle=_pq_recall_oracle())
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 per query of ann_pq_topk against the exact L2 top-5.
    Both retrievals are deterministic SQL, so the metric itself is
    oracle-checked. The seeded codebook measures 0.225 / 0.375 at
    sf0.001 / sf0.01 (chance 0.01)."""
    t = load_tables(spark, sf_dir)
    e = vectors(spread(t["embeddings"]))
    q = e.filter(F.col("vec_id") < 8).selectExpr("vec_id AS q_id", "emb AS q_emb")
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .selectExpr("q_id", "vec_id AS neighbor_id", f"{l2sq(IP_SPARK, 'q_emb', 'emb')} AS d2")
    )
    truth = top_k_per_group(
        scored, ["q_id"], [F.col("d2"), F.col("neighbor_id")], _PQ_TOPK
    ).select("q_id", "neighbor_id")
    truth = materialize(truth)
    pq = ann_pq_topk(spark, sf_dir).select("q_id", "neighbor_id")
    hits = (
        truth.join(pq, ["q_id", "neighbor_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        truth.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.lit(_PQ_TOPK).cast("long").alias("n_truth"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / float(_PQ_TOPK), 6
            ).alias("recall_at_5"),
        )
    )


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH e AS ({VECTORS_DUCK}),
    be AS (SELECT vec_id, emb, {duck_tables_select("emb")} FROM e),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM be a JOIN be b ON a.tbl = b.tbl AND a.code = b.code
                         AND a.vec_id < b.vec_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b,
             ROUND({COS_DUCK.format(a="ea.emb", b="eb.emb")}, 6) AS cos_sim
      FROM cand c JOIN e ea ON ea.vec_id = c.id_a
                  JOIN e eb ON eb.vec_id = c.id_b
    )
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.4
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over multi-table sign-LSH
    candidates (true near-dups collide in some table w.h.p.)."""
    t = load_tables(spark, sf_dir)
    e = vectors(spread(t["embeddings"]))
    be = materialize(add_lsh_codes(e), big=True)  # emb payload x tables
    a = be.selectExpr("vec_id AS id_a", "tbl", "code")
    b = be.selectExpr("vec_id AS id_b", "tbl", "code")
    cand = (
        a.join(b, ["tbl", "code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = e.selectExpr("vec_id AS id_a", "emb AS emb_a")
    eb = e.selectExpr("vec_id AS id_b", "emb AS emb_b")
    cos = COS_SPARK.format(a="emb_a", b="emb_b")
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .selectExpr("id_a", "id_b", f"ROUND({cos}, 6) AS cos_sim")
        .filter(F.col("cos_sim") >= 0.4)
    )


_IVF_TRAIN_ITERS = 2


def _ivf_oracle(iters: int) -> str:
    """DuckDB mirror of `_ivf_search`: `iters` assign-then-mean rounds
    from the seeded codebook c0, then the nprobe=2 search against
    c<iters>."""
    cos = COS_DUCK.format(a="e.emb", b="c.c_emb")

    def assign(i: int) -> str:
        return f"""SELECT e.vec_id, e.emb, c.c_id,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND({cos}, 6) DESC, c.c_id) AS rn
      FROM e CROSS JOIN c{i} c"""

    def mean(i: int) -> str:
        members = f"(SELECT c_id, emb FROM a{i} WHERE rn = 1)"
        return centroid_means_duck(members, ["c_id"], "emb")

    rounds = "".join(
        f"\n    a{i} AS ({assign(i)}),\n    c{i + 1} AS ({mean(i)})," for i in range(iters)
    )
    return f"""
    WITH e AS ({VECTORS_DUCK}),
    c0 AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id < 16),{rounds}
    af AS ({assign(iters)}),
    cells  AS (SELECT vec_id, c_id AS cell FROM af WHERE rn = 1),
    probes AS (SELECT vec_id AS q_id, c_id AS cell FROM af
               WHERE vec_id < 8 AND rn <= 2),
    cand AS (
      SELECT DISTINCT p.q_id, m.vec_id AS neighbor_id
      FROM probes p JOIN cells m ON m.cell = p.cell
      WHERE m.vec_id <> p.q_id
    ),
    {_RANK_CANDIDATES_DUCK.format(k=5)}
    """


def _ivf_search(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    """IVF cosine top-5: assign every vector to its nearest cell, then
    rank each query's candidates from its 2 nearest cells (nprobe=2).
    The codebook starts as the 16 lowest vec_ids and takes `iters`
    Lloyd rounds (max-cosine assign, then `centroid_means`; an empty
    cell drops out), each checkpointed so the lineage stays flat.

    Assignment is a broadcast cross join against the constant-size
    codebook and the probe an equi-join on cell id, so per-query work
    follows cell occupancy, never O(n²). ann_ivf_trained: 3.94/decade
    to 1000x (BASELINE.md "Three-decade sweep, part 3")."""
    t = load_tables(spark, sf_dir)
    e = vectors(spread(t["embeddings"]))
    if iters:
        e = materialize(e)  # every round re-reads it
    cents = e.filter(F.col("vec_id") < 16).selectExpr("vec_id AS c_id", "emb AS c_emb")
    cos = COS_SPARK.format(a="emb", b="c_emb")
    order = [F.col("sim").desc(), F.col("c_id")]

    def scored(cents: DataFrame, *cols: str) -> DataFrame:
        return e.crossJoin(F.broadcast(cents)).selectExpr(
            *cols, "c_id", f"ROUND({cos}, 6) AS sim"
        )

    for _ in range(iters):
        members = top_k_per_group(scored(cents, "vec_id", "emb"), ["vec_id"], order, 1)
        cents = materialize(centroid_means(members, ["c_id"], "emb"))
    assign = scored(cents, "vec_id").withColumn(
        "rn", F.row_number().over(Window.partitionBy("vec_id").orderBy(*order))
    )
    assign = materialize(assign.filter(F.col("rn") <= 2).select("vec_id", "c_id", "rn"))
    cells = assign.filter(F.col("rn") == 1).selectExpr("vec_id", "c_id AS cell")
    probes = assign.filter(F.col("vec_id") < 8).selectExpr("vec_id AS q_id", "c_id AS cell")
    cand = (
        probes.join(cells, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return _rank_candidates(e, cand, 5)


@register("ann_ivf_coarse", oracle=_ivf_oracle(0))
def ann_ivf_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the seeded codebook (`_ivf_search`, no Lloyd
    round). Recall vs the exact baseline: tests/test_llm_ops.py."""
    return _ivf_search(spark, sf_dir, 0)


@register("ann_ivf_trained", oracle=_ivf_oracle(_IVF_TRAIN_ITERS))
def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search after _IVF_TRAIN_ITERS Lloyd rounds. Training raises
    the mean assignment cosine 0.245 -> 0.324 at sf0.01, checked
    against a numpy Lloyd in tests/test_round3_ops.py. The seeded
    codebook's recall is biased upward (the queries are seeds), so at
    a fixed nprobe the trained recall reads lower."""
    return _ivf_search(spark, sf_dir, _IVF_TRAIN_ITERS)


# ------------------------------------------------------------ multimodal

@register(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 8 = 0 THEN 'image/jpeg'
                WHEN doc_id % 4 = 0 THEN 'image/png'
                WHEN doc_id % 2 = 0 THEN 'image/ppm'
                ELSE 'audio/wav' END AS kind,
           CASE WHEN doc_id % 2 = 0 THEN CAST(4 + doc_id % 13 AS INT) END AS width,
           CASE WHEN doc_id % 2 = 0 THEN CAST(3 + doc_id % 7 AS INT) END AS height,
           CASE WHEN doc_id % 2 = 0 THEN ROUND(CAST(doc_id % 251 AS DOUBLE), 6) END AS mean_pixel,
           CASE WHEN doc_id % 2 = 1 THEN CAST(8000 + 100 * (doc_id % 5) AS INT) END AS sample_rate,
           CASE WHEN doc_id % 2 = 1 THEN CAST(100 + doc_id % 900 AS INT) END AS n_samples,
           CASE WHEN doc_id % 2 = 1 THEN ROUND(CAST(100 + doc_id % 900 AS DOUBLE)
                / (8000 + 100 * (doc_id % 5)), 6) END AS duration_sec,
           CASE WHEN doc_id % 2 = 1 THEN ROUND(CAST(doc_id % 1000 - 500 AS DOUBLE), 6) END AS mean_amplitude
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode: synthesize JPEG/PNG/PPM/WAV payloads
    with doc_id-derived parameters (ids % 8 == 0 -> baseline JFIF
    JPEG, other ids % 4 == 0 -> compressed PNG, other even ids -> raw
    P6 image, odd ids -> constant-amplitude PCM WAV), then parse them
    back with the dependency-free codecs in llm/multimodal.py (marker
    walk + Huffman entropy decode + dequant + IDCT for JPEG; chunk
    walk + zlib inflate + defilter for PNG; header walk + numpy sample
    stats for the rest) over Arrow-batched mapInPandas. The oracle
    predicts every decoded field arithmetically, so a value-hash match
    proves each decoder correctly inverts its byte layout — for JPEG
    the constant-color payload is DC-only under all-ones quant, so the
    decoded mean is exact iff the Huffman tables, zigzag, dequant and
    IDCT all agree with the encoder — not just the plumbing. Replaces
    the round-1 `multimodal_decode_stub` (VERDICT item 3)."""
    from mapreducecore_spark.llm.multimodal import decode_multimodal, synthesize_payloads

    t = load_tables(spark, sf_dir)
    blobs = synthesize_payloads(t["documents"].select("doc_id"))
    return decode_multimodal(blobs).select(
        "doc_id", "kind", "width", "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
        "sample_rate", "n_samples",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("mean_amplitude", 6).alias("mean_amplitude"),
    )


_QUALITY_KEY_FMT = "%08.6f|%019d"  # quality | inverted doc_id (ties -> lowest id)
_INVERT = 1000000000000000000


@register(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH q AS (SELECT doc_id, {QUALITY_DUCK} AS quality FROM documents)
    SELECT md5(d.text) AS text_hash,
           count(*) AS n_copies,
           max_by(d.doc_id, printf('{_QUALITY_KEY_FMT}', q.quality,
                                   {_INVERT} - d.doc_id)) AS keeper_doc_id,
           max(q.quality) AS keeper_quality
    FROM documents d JOIN q ON q.doc_id = d.doc_id
    GROUP BY md5(d.text)
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline capstone: per exact-dup cluster keep the highest-
    quality document (quality ties -> lowest doc_id, via a zero-padded
    quality|inverted-id argmax key). One join + one aggregate — the
    shape that survives 100 TB is exactly this: no per-cluster loops,
    the keeper choice folds into the group-by."""
    t = load_tables(spark, sf_dir)
    q = text_quality_score(spark, sf_dir)
    d = t["documents"].select("doc_id", F.md5("text").alias("text_hash"))
    key = F.format_string(
        _QUALITY_KEY_FMT, F.col("quality"), F.lit(_INVERT) - F.col("doc_id")
    )
    return (
        d.join(q, "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.max_by("doc_id", key).alias("keeper_doc_id"),
            F.max("quality").alias("keeper_quality"),
        )
    )


@register(
    "dedup_neardup_keeper",
    oracle=f"""
    WITH RECURSIVE pairs AS ({minhash.pairs_duck()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
    q AS (SELECT doc_id, {QUALITY_DUCK} AS quality FROM documents)
    SELECT c.component,
           count(*) AS cluster_size,
           max_by(c.node, printf('{_QUALITY_KEY_FMT}', q.quality,
                                 {_INVERT} - c.node)) AS keeper_doc_id
    FROM comp c JOIN q ON q.doc_id = c.node
    GROUP BY c.component
    """,
)
@expanding
def dedup_neardup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH candidate pairs -> connected
    components -> per-cluster canonical document by quality (ties ->
    lowest doc_id). The full 100 TB dedup pipeline in three composed
    operators, each individually oracle-checked."""
    from mapreducecore_spark.operators.components import connected_components

    comps = connected_components(_collapsed_neardup_edges(spark, sf_dir))
    q = text_quality_score(spark, sf_dir)
    key = F.format_string(
        _QUALITY_KEY_FMT, F.col("quality"), F.lit(_INVERT) - F.col("node")
    )
    return (
        comps.join(q, comps["node"] == q["doc_id"])
        .groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.max_by("node", key).alias("keeper_doc_id"),
        )
    )


# ------------------------------------------- corpus-level boilerplate

_BOILER_DF = 5  # a 3-gram present in >= this many docs is boilerplate

_BOILER_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id, {TOKS_DUCK} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, unnest({shingles_duck(3)}) AS shingle
      FROM docs WHERE len(toks) >= 3
    ), df AS (
      SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
    ), per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_shingles,
             COUNT(*) FILTER (WHERE df.df >= {_BOILER_DF}) AS n_boiler
      FROM sh s JOIN df ON df.shingle = s.shingle
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boiler,
           ROUND(CAST(COALESCE(p.n_boiler, 0) AS DOUBLE)
                 / GREATEST(COALESCE(p.n_shingles, 0), 1), 6) AS boiler_frac
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@register("boilerplate_ngram_flag", oracle=_BOILER_ORACLE)
def boilerplate_ngram_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection: a distinct 3-gram occurring
    in >= _BOILER_DF documents is 'boilerplate'; per document, count
    total vs boilerplate shingles. The inverted-index shape (explode ->
    df count -> join back on shingle -> regroup by doc) keeps both
    shuffles at shingle grain — the same scale contract as the Jaccard
    dedup, no per-doc broadcast of the global df table needed."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"]).selectExpr("doc_id", f"{TOKS} AS toks")
    sh = docs.filter(F.expr("size(toks) >= 3")).selectExpr(
        "doc_id", f"explode({shingles(3)}) AS shingle"
    )
    sh = materialize(sh, big=True)  # exploded shingles: corpus-sized
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    per_doc = (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("df") >= _BOILER_DF, 1)).alias("n_boiler"),
        )
    )
    out = t["documents"].select("doc_id").join(per_doc, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
        F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
        F.round(
            F.coalesce("n_boiler", F.lit(0)).cast("double")
            / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
            6,
        ).alias("boiler_frac"),
    )


# --------------------------------------------- Gopher-style rule filter

_GOPHER_MIN_WORDS = 20
_GOPHER_MAX_WORDS = 100000
_GOPHER_MIN_MWL = 2.0
_GOPHER_MAX_MWL = 12.0
_GOPHER_MIN_ALPHA = 0.8
_GOPHER_MIN_STOP = 1

_GOPHER_ORACLE = f"""
    WITH s AS (
      SELECT doc_id,
             {TOKS_DUCK} AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
               AS BIGINT) AS n_tok_chars,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
               AS n_alpha,
             {n_stop_duck("toks")} AS n_stop
      FROM s
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           ROUND(CAST(n_tok_chars AS DOUBLE) / GREATEST(n_words, 1), 6)
             AS mean_word_len,
           ROUND(CAST(n_alpha AS DOUBLE) / GREATEST(n_words, 1), 6)
             AS alpha_frac,
           CAST(n_stop AS BIGINT) AS n_stopwords,
           CAST(n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
             AND CAST(n_tok_chars AS DOUBLE) / GREATEST(n_words, 1)
                 BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}
             AND CAST(n_alpha AS DOUBLE) / GREATEST(n_words, 1)
                 >= {_GOPHER_MIN_ALPHA}
             AND n_stop >= {_GOPHER_MIN_STOP} AS BOOLEAN) AS keep
    FROM m
"""


@register(
    "quality_gopher_rules",
    oracle=_GOPHER_ORACLE,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter (Rae et al. 2021's repetition-free
    subset of rules, the ones computable without an LM): word-count
    bounds, mean-word-length bounds, alphabetic-word fraction,
    stopword floor -> one boolean keep flag per document. All
    higher-order array functions, JVM-side, single scan, no shuffle."""
    t = load_tables(spark, sf_dir)
    m = t["documents"].selectExpr(
        "doc_id",
        f"size({TOKS}) AS n_words",
        f"aggregate({TOKS}, 0L, (acc, x) -> acc + length(x)) AS n_tok_chars",
        f"size(filter({TOKS}, x -> x rlike '[A-Za-z]')) AS n_alpha",
        f"{n_stop(TOKS)} AS n_stop",
    )
    mwl = F.col("n_tok_chars").cast("double") / F.greatest("n_words", F.lit(1))
    alpha = F.col("n_alpha").cast("double") / F.greatest("n_words", F.lit(1))
    keep = (
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & mwl.between(_GOPHER_MIN_MWL, _GOPHER_MAX_MWL)
        & (alpha >= _GOPHER_MIN_ALPHA)
        & (F.col("n_stop") >= _GOPHER_MIN_STOP)
    )
    return m.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(alpha, 6).alias("alpha_frac"),
        F.col("n_stop").cast("bigint").alias("n_stopwords"),
        keep.alias("keep"),
    )


@register(
    "multimodal_resize",
    oracle="""
    WITH evens AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
      FROM documents WHERE doc_id % 2 = 0
    ), cells AS (
      SELECT e.doc_id,
             ((i.i * e.h) // 6 + (j.j * e.w) // 8 + e.doc_id) % 256 AS v
      FROM evens e
      CROSS JOIN (SELECT unnest(range(0, 6)) AS i) i
      CROSS JOIN (SELECT unnest(range(0, 8)) AS j) j
    )
    SELECT doc_id,
           CAST(8 AS INT) AS width,
           CAST(6 AS INT) AS height,
           ROUND(AVG(CAST(v AS DOUBLE)), 6) AS mean_pixel
    FROM cells GROUP BY doc_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: synthesize gradient P6 rasters (pixel (r,c) =
    (r + c + doc_id) % 256, dims from doc_id), nearest-neighbor resize
    to 8x6 with the standard floor index map (src = dst*src_dim //
    dst_dim), decode the result. The oracle recomputes every sampled
    pixel arithmetically in SQL, so the hash match proves the resampling
    index math — a constant-color fixture would hide it. Gradient makes
    wrong row/col order, off-by-one, or ceil-vs-floor visible."""
    from mapreducecore_spark.llm.multimodal import (
        resize_decode,
        synthesize_gradient_ppm,
    )

    t = load_tables(spark, sf_dir)
    evens = t["documents"].select("doc_id").filter(F.col("doc_id") % 2 == 0)
    blobs = synthesize_gradient_ppm(evens)
    out = resize_decode(blobs, out_w=8, out_h=6)
    return out.select(
        "doc_id", "width", "height", F.round("mean_pixel", 6).alias("mean_pixel")
    )


@register(
    "multimodal_audio_windows",
    oracle="""
    WITH odds AS (
      SELECT doc_id, 100 + doc_id % 900 AS n, doc_id % 7 + 1 AS k
      FROM documents WHERE doc_id % 2 = 1
    ), samples AS (
      SELECT o.doc_id, i.i AS i,
             CAST(i.i // 100 AS INT) AS window_idx,
             (i.i * o.k) % 200 - 100 AS amp
      FROM odds o
      CROSS JOIN (SELECT unnest(range(0, 1000)) AS i) i
      WHERE i.i < o.n
    )
    SELECT doc_id, window_idx,
           CAST(COUNT(*) AS INT) AS n_samples,
           ROUND(AVG(CAST(amp AS DOUBLE)), 6) AS mean_amp
    FROM samples GROUP BY doc_id, window_idx
    """,
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio frame sampling: synthesize non-constant PCM (sample i
    = (i * (doc_id%7+1)) % 200 - 100), encode as RIFF/WAVE, decode the
    data chunk and emit per-100-sample-window stats via explode-shaped
    mapInPandas (one row in, one row per window out — the same fan-out a
    video keyframe extractor uses). The oracle regenerates the waveform
    with SQL arithmetic and aggregates the identical windows."""
    from mapreducecore_spark.llm.multimodal import (
        audio_window_stats,
        synthesize_wave,
    )

    t = load_tables(spark, sf_dir)
    odds = t["documents"].select("doc_id").filter(F.col("doc_id") % 2 == 1)
    out = audio_window_stats(synthesize_wave(odds))
    return out.select(
        "doc_id", "window_idx", "n_samples", F.round("mean_amp", 6).alias("mean_amp")
    )


@register(
    "multimodal_binary_dedup",
    oracle=f"""
    WITH params AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN CASE WHEN doc_id % 8 = 0 THEN 'jpeg:'
                            WHEN doc_id % 4 = 0 THEN 'png:'
                            ELSE 'ppm:' END
                       || (4 + doc_id % 13) || 'x' || (3 + doc_id % 7)
                       || ':' || (doc_id % 251)
                  ELSE 'wav:' || (8000 + 100 * (doc_id % 5)) || ':'
                       || (100 + doc_id % 900) || ':' || (doc_id % 1000 - 500)
             END AS content_key
      FROM documents
    )
    SELECT MIN(doc_id) AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CASE WHEN MIN(doc_id) % 8 = 0 THEN 'image/jpeg'
                WHEN MIN(doc_id) % 4 = 0 THEN 'image/png'
                WHEN MIN(doc_id) % 2 = 0 THEN 'image/ppm'
                ELSE 'audio/wav' END AS kind
    FROM params GROUP BY content_key
    """,
)
def multimodal_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over MULTIMODAL binary payloads: md5 each blob's
    bytes, group identical content, keep the lowest doc_id — the image
    /audio counterpart of dedup_exact (real crawls carry the same
    image under millions of URLs; content-hash dedup is the standard
    first pass before any perceptual hashing). Payloads are the
    synthesized JPEG/PNG/PPM/WAV fixtures; since their bytes are a pure
    function of doc_id-derived parameters, the oracle predicts the
    dup GROUPS from the parameters alone — a value match proves the
    byte-level hash grouped exactly the truly-identical payloads
    (DuckDB never sees the binary).

    Scale shape: the md5 runs inside the Arrow decode pass (one scan,
    no Python round trip beyond the existing synthesis seam), then
    ONE map-side-partial groupBy on the 16-byte digest — blob bytes
    never shuffle. At 100 TB the digest table is the only exchange,
    ~48 bytes/blob."""
    from mapreducecore_spark.llm.multimodal import synthesize_payloads

    t = load_tables(spark, sf_dir)
    blobs = synthesize_payloads(spread(t["documents"]).select("doc_id"))
    return (
        blobs.select("doc_id", F.md5("payload").alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .selectExpr(
            "keeper_doc_id",
            "n_copies",
            "CASE WHEN keeper_doc_id % 8 = 0 THEN 'image/jpeg'"
            " WHEN keeper_doc_id % 4 = 0 THEN 'image/png'"
            " WHEN keeper_doc_id % 2 = 0 THEN 'image/ppm'"
            " ELSE 'audio/wav' END AS kind",
        )
    )


@register(
    "ann_recall_eval",
    oracle=f"""
    WITH brute AS (SELECT * FROM ({_ANN_BRUTE_ORACLE})),
    lsh AS (SELECT * FROM ({_ANN_LSH_ORACLE})),
    truth3 AS (
      SELECT q_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY sim DESC, neighbor_id) AS rn
        FROM brute)
      WHERE rn <= 3
    ), hits AS (
      SELECT t.q_id, COUNT(l.neighbor_id) AS n_hit
      FROM truth3 t LEFT JOIN lsh l
        ON l.q_id = t.q_id AND l.neighbor_id = t.neighbor_id
      GROUP BY t.q_id
    )
    SELECT q_id, CAST(3 AS BIGINT) AS n_truth,
           CAST(n_hit AS BIGINT) AS n_hit,
           ROUND(n_hit / 3.0, 6) AS recall_at_3
    FROM hits
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 per query of ann_lsh_bucketed against the exact
    ann_cosine_topk. Both retrievals are deterministic SQL, so the
    metric itself is oracle-checked."""
    truth3 = _top_sims(ann_cosine_topk(spark, sf_dir), 3).select("q_id", "neighbor_id")
    lsh = ann_lsh_bucketed(spark, sf_dir).select("q_id", "neighbor_id")
    hits = (
        truth3.join(lsh, ["q_id", "neighbor_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        truth3.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.lit(3).cast("long").alias("n_truth"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / 3.0, 6).alias("recall_at_3"),
        )
    )


@register(
    "dedup_savings_report",
    oracle=f"""
    WITH comp AS (SELECT * FROM ({_COMPONENTS_ORACLE})),
    sizes AS (
      SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
    ),
    n_docs AS (SELECT COUNT(*) AS total FROM documents)
    SELECT s.cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * (s.cluster_size - 1) AS BIGINT) AS removable_docs,
           ROUND(CAST(COUNT(*) * (s.cluster_size - 1) AS DOUBLE)
                 / (SELECT total FROM n_docs), 6) AS corpus_frac_removable
    FROM sizes s GROUP BY s.cluster_size
    """,
)
@expanding
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report a curation run ends with: near-dup cluster-size
    histogram plus how much of the corpus each size class would remove
    (keep one doc per cluster). Composes the components operator, so
    the whole chain pairs -> groups -> business metric stays
    value-checked; singleton docs never enter the pair graph and are
    correctly absent (cluster_size >= 2 by construction)."""
    from mapreducecore_spark.operators.components import connected_components

    t = load_tables(spark, sf_dir)
    # Corpus size as a broadcast scalar subquery, not a driver count() —
    # keeps the operator collect-free like every other registry entry.
    total = t["documents"].agg(F.count("*").alias("_total"))
    comps = connected_components(_collapsed_neardup_edges(spark, sf_dir))
    sizes = comps.groupBy("component").agg(F.count("*").alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        (F.count("*") * (F.col("cluster_size") - 1)).cast("long").alias(
            "removable_docs"
        ),
    )
    return hist.crossJoin(F.broadcast(total)).select(
        "cluster_size",
        "n_clusters",
        "removable_docs",
        F.round(F.col("removable_docs").cast("double") / F.col("_total"), 6).alias(
            "corpus_frac_removable"
        ),
    )


# ------------------------------------------- line-level (CCNet-style) dedup

_LINE_DEDUP_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
occ AS (
    SELECT doc_id, i AS pos,
           array_to_string(tk[(i*12+1):(i*12+12)], ' ') AS line
    FROM toks, UNNEST(range((len(tk)+11)//12)) AS u(i)
),
firsts AS (SELECT line, MIN(doc_id) AS d0 FROM occ GROUP BY line),
seconds AS (
    SELECT o.line, MIN(o.pos) AS p0
    FROM occ o JOIN firsts f USING (line)
    WHERE o.doc_id = f.d0
    GROUP BY o.line
)
SELECT o.doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN o.doc_id = f.d0 AND o.pos = s.p0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(
           string_agg(o.line, ' ' ORDER BY o.pos)
               FILTER (WHERE o.doc_id = f.d0 AND o.pos = s.p0),
           '')) AS clean_hash
FROM occ o JOIN firsts f USING (line) JOIN seconds s USING (line)
GROUP BY o.doc_id
"""


@register("dedup_lines_ccnet", oracle=_LINE_DEDUP_ORACLE)
def dedup_lines_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level exact dedup across the whole corpus (the CCNet /
    RefinedWeb paragraph-dedup stage): every document is segmented into
    lines, each line is kept only at its globally-first occurrence
    (lowest (doc_id, pos)), and the surviving lines are reassembled in
    document order. The synthetic corpus has no newlines, so a "line"
    here is a fixed 12-word segment — the segmentation is a pluggable
    expression; swap in split(text, '\\n') for real corpora.

    100 TB shape: two shuffles total. (1) line-frequency argmin is a
    map-side-partial groupBy on the line text — a hot boilerplate line
    collapses to ONE (line, k0) row, so the join back fans out linearly
    in the line's occurrence count, never quadratically (contrast the
    pair-generator guards in dedup_minhash_lsh). (2) reassembly is a
    groupBy(doc_id) over (pos, line) structs. No collect, no UDFs —
    segmentation itself is sequence/slice/array_join, JVM-side.
    """
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select("doc_id", F.split("text", " ").alias("tk"))
    lines = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.expr("(size(tk)+11) div 12") - 1),
                lambda i: F.array_join(F.slice("tk", i * 12 + 1, 12), " "),
            )
        ).alias("pos", "line"),
    )
    return _line_dedup_from_lines(lines, joiner=" ")


def _line_dedup_from_lines(lines: DataFrame, joiner: str) -> DataFrame:
    """Shared core of the line-dedup family: (doc_id, pos, line) ->
    per-doc survival stats + hash of the reassembled clean text.

    Two-phase primitive argmin for (doc_id, pos): min doc_id per line,
    then min pos within that doc. Both stay codegen'd HashAggregates
    with map-side partials (a struct-min falls back to sort-based
    aggregation, measured 10x slower; an arithmetic key doc_id*K+pos
    overflows BIGINT once doc_id carries 1e14-scale shard offsets).
    occ feeds three consumers (two argmin aggregates + the flag join);
    materialize it once so the scan+segmentation stage doesn't run 3x
    (measured 35% faster at 10x; same pattern as the minhash
    signature localCheckpoint)."""
    occ = materialize(lines, big=True)  # line-level: corpus-sized
    firsts = occ.groupBy("line").agg(F.min("doc_id").alias("d0"))
    seconds = (
        occ.join(firsts, "line")
        .where(F.col("doc_id") == F.col("d0"))
        .groupBy("line")
        .agg(F.min("pos").alias("p0"))
    )
    flagged = occ.join(firsts, "line").join(seconds, "line")
    keep = (F.col("doc_id") == F.col("d0")) & (F.col("pos") == F.col("p0"))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct("pos", "line")))
                    ),
                    lambda s: s["line"],
                ),
                joiner,
            )
        ).alias("clean_hash"),
    )


_NEWLINE_DEDUP_ORACLE = """
WITH occ AS (
    SELECT doc_id, i - 1 AS pos, lines[i] AS line FROM (
        SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents
    ), UNNEST(generate_series(1, len(lines))) AS u(i)
),
firsts AS (SELECT line, MIN(doc_id) AS d0 FROM occ GROUP BY line),
seconds AS (
    SELECT o.line, MIN(o.pos) AS p0
    FROM occ o JOIN firsts f USING (line)
    WHERE o.doc_id = f.d0
    GROUP BY o.line
)
SELECT o.doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN o.doc_id = f.d0 AND o.pos = s.p0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(
           string_agg(o.line, chr(10) ORDER BY o.pos)
               FILTER (WHERE o.doc_id = f.d0 AND o.pos = s.p0),
           '')) AS clean_hash
FROM occ o JOIN firsts f USING (line) JOIN seconds s USING (line)
GROUP BY o.doc_id
"""


@register("dedup_lines_newline", oracle=_NEWLINE_DEDUP_ORACLE)
def dedup_lines_newline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level exact dedup with REAL newline segmentation
    (split(text, '\\n')) — the production form of dedup_lines_ccnet,
    whose fixed 12-word windows exist only because the synthetic corpus
    is single-line. Same two-shuffle core (_line_dedup_from_lines); on
    the driver's corpus every document is one line (still a valid
    global first-occurrence dedup), and the newline-bearing crafted
    corpus in tests/test_crafted_corpus.py exercises multi-line
    documents with cross-document shared lines against both this oracle
    and a pure-Python reference."""
    t = load_tables(spark, sf_dir)
    lines = t["documents"].select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    )
    return _line_dedup_from_lines(lines, joiner="\n")
