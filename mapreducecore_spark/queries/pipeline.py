"""Training-data-pipeline operators beyond the dedup/ANN core —
benchmark decontamination, repetition-based quality, corpus profiling,
per-class embedding centroids, seeded k-means assignment.

These are the remaining ops a 100 TB LLM data pipeline runs between
crawl and training (SURVEY.md §2.D last row; reference has no analogue
— absence per SURVEY.md §2.D preamble: reference's only data operators
are S1-S6/D1-D7, mr_tasks.h / worker.h).

Scale notes:
- decontamination broadcasts the benchmark shingle set (eval suites are
  tiny next to the corpus) so the corpus side never shuffles;
- repetition/quality/profile ops are single-pass groupBy/agg with
  map-side partial aggregation — one shuffle on the grouping key;
- centroid computation shuffles (label, dim) pairs, 64x fan-out but
  each row is 16 bytes — far cheaper than shuffling whole vectors;
- k-means assignment broadcasts the K centroids; per-row work is a
  JVM-side codegen'd fold, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducecore_spark.catalog import load_tables
from mapreducecore_spark.llm import minhash
from mapreducecore_spark.llm.curation import (
    COIN,
    COIN_DUCK,
    GATE,
    NORM_HASH,
    NORM_HASH_DUCK,
    QUALITY,
    QUALITY_DUCK,
    split_case,
)
from mapreducecore_spark.llm.minhash import (
    TOKS,
    TOKS_DUCK,
    hash60,
    shingles,
    shingles_duck,
)
from mapreducecore_spark.llm.similarity import (
    COS_DUCK,
    COS_SPARK,
    EMB_DUCK,
    EMB_SPARK,
    IP_DUCK,
    IP_SPARK,
    VECTORS_DUCK,
    l2sq,
    vectors,
)
from mapreducecore_spark.operators.topk import top_k_per_group
from mapreducecore_spark.queries import register
from mapreducecore_spark.queries._util import expanding, materialize, spread
from mapreducecore_spark.queries.llm import _TOP_SIMS_DUCK, _top_sims


# ------------------------------------------------- decontamination

# Deterministic stand-in for the benchmark/eval set: every 97th doc.
_BENCH_PRED = "doc_id % 97 = 0"

_DECONTAM_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {TOKS_DUCK} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, unnest({shingles_duck(5)}) AS shingle
      FROM toks WHERE len(toks) >= 5
    ), bench AS (
      SELECT DISTINCT shingle FROM sh WHERE {_BENCH_PRED}
    ), corpus AS (
      SELECT doc_id, shingle FROM sh WHERE NOT ({_BENCH_PRED})
    ), n_sh AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id
    ), hits AS (
      SELECT c.doc_id, COUNT(*) AS n_overlap
      FROM corpus c JOIN bench b USING (shingle) GROUP BY c.doc_id
    )
    SELECT h.doc_id, h.n_overlap, n.n_shingles,
           ROUND(h.n_overlap / CAST(n.n_shingles AS DOUBLE), 6) AS overlap_frac
    FROM hits h JOIN n_sh n USING (doc_id)
"""


@register("decontam_ngram_overlap", oracle=_DECONTAM_ORACLE)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag corpus docs sharing 5-token
    shingles with a benchmark set (here: every 97th doc as the stand-in
    eval suite). The benchmark shingle set is broadcast — the 100 TB
    corpus side is filter+groupBy only, no corpus-vs-corpus shuffle."""
    t = load_tables(spark, sf_dir)
    sh = (
        spread(t["documents"])
        .selectExpr("doc_id", f"{TOKS} AS toks")
        .filter("size(toks) >= 5")
        .selectExpr("doc_id", f"explode({shingles(5)}) AS shingle")
    )
    # Shingle once, read twice. This frame feeds a broadcast side AND
    # the big side of the same query — the lazy-checkpoint/AQE
    # lock-order deadlock shape materialize() (always eager) closes.
    sh = materialize(sh)
    bench = sh.filter(_BENCH_PRED).select("shingle").distinct()
    corpus = sh.filter(f"NOT ({_BENCH_PRED})")
    n_sh = corpus.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return hits.join(n_sh, "doc_id").select(
        "doc_id",
        "n_overlap",
        "n_shingles",
        F.round(F.col("n_overlap") / F.col("n_shingles").cast("double"), 6).alias(
            "overlap_frac"
        ),
    )


# ------------------------------------------- repetition-based quality

_REP_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {TOKS_DUCK} AS toks FROM documents
    ), g AS (
      SELECT doc_id, toks, {shingles_duck(2)} AS grams2
      FROM toks WHERE len(toks) >= 2
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           ROUND(1 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6)
             AS token_rep,
           ROUND(1 - len(grams2) / CAST(len(toks) - 1 AS DOUBLE), 6) AS bigram_rep
    FROM g
"""


@register("quality_repetition_ratio", oracle=_REP_ORACLE)
def quality_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the classic crawl-filter heuristics):
    fraction of duplicate tokens and duplicate bigrams per doc. Pure
    per-row array math — narrow, codegen'd, no shuffle at all."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .selectExpr("doc_id", f"{TOKS} AS toks")
        .filter("size(toks) >= 2")
        .selectExpr("doc_id", "toks", f"{shingles(2)} AS grams2")
        .selectExpr(
            "doc_id",
            "size(toks) AS n_tokens",
            "size(array_distinct(toks)) AS n_distinct",
            "ROUND(1 - size(array_distinct(toks)) / CAST(size(toks) AS DOUBLE), 6)"
            " AS token_rep",
            "ROUND(1 - size(grams2) / CAST(size(toks) - 1 AS DOUBLE), 6)"
            " AS bigram_rep",
        )
    )


# -------------------------------------------------- corpus profiling

@register(
    "token_length_histogram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, n_chars, len({TOKS_DUCK}) AS n_tokens FROM documents
    )
    SELECT CAST(n_tokens // 16 * 16 AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS avg_chars
    FROM toks GROUP BY 1
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram (width-16 buckets): the length profile a
    pipeline uses to pick sequence-packing parameters. One narrow
    shuffle of (bucket, partial aggregates)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .selectExpr("n_chars", f"size({TOKS}) AS n_tokens")
        .groupBy(
            (F.floor(F.col("n_tokens") / 16) * 16).cast("bigint").alias("bucket_lo")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (
                F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("avg_chars"),
        )
    )


@register(
    "source_quality_profile",
    oracle=f"""
    WITH d AS (
      SELECT source, lang, n_chars, len({TOKS_DUCK}) AS n_tokens FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS avg_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS short_frac
    FROM d GROUP BY source
    """,
)
def source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile (docs, language spread, length, short-doc
    fraction) — the table a pipeline uses to set per-source sampling
    weights. Single groupBy with map-side partials."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .selectExpr("source", "lang", "n_chars", f"size({TOKS}) AS n_tokens")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            (
                F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("avg_chars"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0))
                / F.count("*").cast("double"),
                6,
            ).alias("short_frac"),
        )
    )


# -------------------------------------------- embedding centroids

@register(
    "embedding_centroid_per_label",
    oracle="""
    SELECT label, CAST(i + 1 AS INT) AS dim,
           ROUND(SUM(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE))
                 / COUNT(*), 6) AS centroid
    FROM embeddings, range(64) t(i)
    GROUP BY label, i
    """,
)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroid, one row per (label, dim). Shuffles
    16-byte (label, dim, partial) rows instead of whole vectors — at
    100 TB the map-side partial agg reduces each partition to
    n_labels x 64 rows before the exchange."""
    t = load_tables(spark, sf_dir)
    return (
        spread(t["embeddings"])
        .select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.round(F.sum(F.col("x").cast("double")) / F.count("*"), 6).alias(
                "centroid"
            )
        )
    )


# ------------------------------------------- co-occurrence mining

_BASKET_TOPM = 1024  # phase-A item pool that derives the support floor
_BASKET_QUAL_CAP = 100_000  # largest qualifying-item set worth filtering with
# Phase A (the extra pair-count pass over top-M-item baskets) runs only
# when the top-M pool covers this share of all item instances: its
# floor approaches c100 only when the global top pairs live in the
# head, and head coverage is the cheap proxy for that. Below the gate,
# the free driver-side Bonferroni floor (see _basket_floor_bonferroni)
# is used alone. Gating is a performance choice, never a correctness
# one — every floor in play is individually lossless.
_BASKET_HEAD_COVERAGE = 0.25


def _basket_floor_bonferroni(head_freqs: list[int], n_baskets: int) -> int:
    """Driver-side lossless support floor from item frequencies alone.

    Inclusion-exclusion: items a, b appearing in f(a), f(b) of N
    baskets co-occur in >= f(a) + f(b) - N of them. Each such positive
    bound names a REAL pair with count >= bound, so the 100th-largest
    bound over all pairs lower-bounds c100 (the 100th-highest true
    pair count) — and dropping items with freq < that value cannot
    drop a top-100 pair (pair count <= min member freq). The 100
    largest bounds all live within the top-101 items by frequency
    (bounds are monotone in frequency rank: a pair using rank >= 102
    is dominated by >= 100 distinct pairs of the higher ranks), so the
    collected head list suffices. Costs zero cluster work; fires only
    on extreme-skew corpora (head items in > half the baskets) — the
    exact shape whose pair exchange needs cutting most."""
    fs = sorted(head_freqs, reverse=True)[:101]
    bounds = sorted(
        (
            fs[i] + fs[j] - n_baskets
            for i in range(len(fs))
            for j in range(i + 1, len(fs))
            if fs[i] + fs[j] - n_baskets > 0
        ),
        reverse=True,
    )
    return bounds[99] if len(bounds) >= 100 else 1


@register(
    "basket_part_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_orders
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_orders FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n_orders DESC, part_a, part_b)
             AS rn
      FROM pairs
    ) WHERE rn <= 100
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top part pairs ordered together.
    ONE exchange keyed by order collects each basket as a sorted
    distinct array; pairs are generated IN-ROW (fan-out C(basket,2),
    bounded by basket size — TPC-H baskets are <= 7 items — never a
    global cross join). The packed-key branch counts with a normal
    map-side partial aggregate (see inline note: primitive-key maps
    are bounded and sort-spill-safe; the round-5 struct-keyed OOM is
    now understood as the pre-round-6 fixed shuffle width + protected
    storage pinning); the wide-key struct branch keeps the
    repartition-first shape. Global top-100 with a tie-proof order.

    Two round-7 exchange cuts (VERDICT r6 #3 — 18.4 GB pair exchange
    at 1000x):

    - PACKED pair key: when max(l_partkey) < 2^31 (checked from the
      already-computed item-frequency frame, one scalar read) the pair
      rides the exchange as ONE BIGINT `(part_a << 32) | part_b`
      instead of a two-field row — 24 -> 16 bytes per unsafe row, and
      (n_orders DESC, pk ASC) reproduces the (n DESC, part_a, part_b)
      tie order exactly because the pack is order-isomorphic for
      nonnegative sub-2^31 keys. Wider key domains keep the struct row.

    - Broadcast MIN-SUPPORT pre-filter, provably lossless for the
      top-100: a pair's order count is <= min(freq(a), freq(b)), so
      every pair in the global top-100 has BOTH items' frequencies
      >= c100 (the 100th-highest pair count). c100 is unknown up
      front, but any 100 REAL pairs lower-bound it. Round 8 derives
      the floor in two lossless tiers: a FREE driver-side Bonferroni
      bound from the materialized freq frame's head
      (_basket_floor_bonferroni — fires on extreme skew), and the
      phase-A restricted pair-count pass, now GATED on head coverage
      (_BASKET_HEAD_COVERAGE) because on uniform corpora its ~full
      extra read of the baskets bought a floor of 2 that never
      filtered anything (VERDICT r7 #4: ~25 s at 1000x, 2x at
      sf0.1). On a skewed real corpus the head covers most
      instances, phase A runs, and L is large enough to cut the
      exchange itself."""
    t = load_tables(spark, sf_dir)
    baskets = materialize(
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts")),
        big=True,  # reused by freq, phase A, and the main pair pass
    )
    freq = materialize(
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count("*").alias("f"))
    )
    pair_structs = (
        "flatten(transform(parts, (a, i) ->"
        " transform(slice(parts, i + 2, size(parts)),"
        " b -> struct(a AS part_a, b AS part_b))))"
    )
    # Support floor, two tiers (round 8, VERDICT r7 #4). Tier 1 is
    # FREE: the Bonferroni floor from the already-materialized freq
    # frame's head (one TakeOrdered collect of _BASKET_TOPM rows + two
    # 1-row aggregates — the accepted driver-side-scalar pattern).
    # Tier 2, the phase-A pair-count pass over top-M-item baskets, is
    # a full extra read of the DISK_ONLY baskets (~25 s at 1000x, and
    # it DOUBLED the sf0.1 wall) — so it runs only when the head pool
    # covers >= _BASKET_HEAD_COVERAGE of item instances, the regime
    # where its sharper floor can actually beat Bonferroni by enough
    # to matter. On uniform corpora (TPC-H: head covers ~5%, phase-A
    # floor measured 2 vs min freq 11 — it never filtered anything)
    # the gate skips straight past the wasted pass. Both floors are
    # individually lossless, so max() of whatever ran is lossless.
    head = freq.orderBy(F.col("f").desc(), "part").limit(_BASKET_TOPM).collect()
    gstats = freq.agg(
        F.count("*").alias("n_parts"),
        F.sum("f").alias("n_inst"),
        F.min("part").alias("min_part"),
        F.max("part").alias("max_part"),
    ).collect()[0]
    n_baskets = baskets.count()
    head_fs = [int(r["f"]) for r in head]
    support_floor = _basket_floor_bonferroni(head_fs, n_baskets)
    coverage = sum(head_fs) / max(int(gstats["n_inst"]), 1)
    if coverage >= _BASKET_HEAD_COVERAGE:
        top_parts = spark.createDataFrame(
            [(r["part"],) for r in head], ["part"]
        )
        top_baskets = (
            baskets.select("l_orderkey", F.explode("parts").alias("part"))
            .join(F.broadcast(top_parts), "part")
            .groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_set("part")).alias("parts"))
        )
        floor_row = (
            top_baskets.filter(F.size("parts") >= 2)
            .select(F.explode(F.expr(pair_structs)).alias("p"))
            .groupBy("p")
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "p.part_a", "p.part_b")
            .limit(100)
            .agg(
                F.when(F.count("*") >= 100, F.min("n")).otherwise(F.lit(1)).alias("L")
            )
            .collect()
        )
        support_floor = max(support_floor, int(floor_row[0]["L"] or 1))
    stats = {
        "n_parts": int(gstats["n_parts"]),
        "min_part": gstats["min_part"],
        "max_part": gstats["max_part"],
    }
    n_qual = (
        freq.filter(F.col("f") >= support_floor).count()
        if support_floor > 1
        else stats["n_parts"]
    )
    src = baskets
    if (
        support_floor > 1
        and n_qual < stats["n_parts"]
        and n_qual <= _BASKET_QUAL_CAP
    ):
        qual = freq.filter(F.col("f") >= support_floor).select("part")
        src = (
            baskets.select(F.col("l_orderkey"), F.explode("parts").alias("part"))
            .join(F.broadcast(qual), "part")
            .groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_set("part")).alias("parts"))
        )
    src = src.filter(F.size("parts") >= 2)
    # 2^31 bound (not 2^32): shiftleft(a, 32) of a >= 2^31 key would
    # overflow signed 64-bit under ANSI, and the tie order needs pk
    # nonnegative.
    packable = stats["min_part"] >= 0 and stats["max_part"] < (1 << 31)
    if packable:
        pk_type = t["lineitem"].schema["l_partkey"].dataType
        pairs = src.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (a, i) ->"
                    " transform(slice(parts, i + 2, size(parts)),"
                    " b -> shiftleft(CAST(a AS BIGINT), 32) + b)))"
                )
            ).alias("pk")
        )
        # Direct groupBy (MAP-SIDE partial agg), unlike the struct
        # branch's repartition-first: with a primitive 8-byte key the
        # per-task hash map is ~16 B/distinct-pair — bounded and
        # spill-safe (Tungsten falls back to sort-based aggregation
        # under memory pressure, it does not OOM) — and wherever the
        # pair keyspace repeats across tasks the partials collapse the
        # exchange (the 1000x corpus replays the same base pairs 1000x:
        # measured the difference between shuffling 1.2B instance rows
        # and ~0.3B partial rows). A collision-free keyspace degrades
        # to a bounded-overhead no-op, not a failure.
        counted = pairs.groupBy("pk").agg(F.count("*").alias("n_orders"))
        # Global top-100 via orderBy+limit -> TakeOrderedAndProject:
        # each partition keeps its local top-100, the driver merges
        # heaps. A global row_number window would funnel every pair
        # through ONE task.
        return (
            counted.orderBy(F.col("n_orders").desc(), "pk")
            .limit(100)
            .select(
                F.shiftright("pk", 32).cast(pk_type).alias("part_a"),
                (F.col("pk") % F.lit(1 << 32)).cast(pk_type).alias("part_b"),
                "n_orders",
            )
        )
    pairs = src.select(F.explode(F.expr(pair_structs)).alias("p")).select(
        "p.part_a", "p.part_b"
    )
    counted = (
        pairs.repartition("part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        counted.orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(100)
        .select("part_a", "part_b", "n_orders")
    )


# --------------------------------------- weighted reproducible sample

@register(
    "sample_weighted_by_source",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             (COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT), 0)
                % 10 + 1) / 10.0 AS keep_w,
             {COIN_DUCK} AS u
      FROM documents
    )
    SELECT doc_id, source, ROUND(keep_w, 6) AS keep_w
    FROM w WHERE u < keep_w
    """,
)
def sample_weighted_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted sampling (the source-mixing step of a
    training-data pipeline): keep probability comes from the source's
    weight, the coin flip is the doc-id coin (llm/curation.py) —
    reproducible across runs and engines, pure map-side, no rand()
    seed coordination.

    Digit-less source names weigh in at 0 (keep_w 0.1) via try_cast:
    a plain CAST of regexp_extract's empty-string miss throws under
    ANSI mode, so ONE unexpected source label in a 100 TB corpus
    would kill the whole job (found by the sf1 sweep's planted
    'megadomain'/'planted' sources)."""
    t = load_tables(spark, sf_dir)
    keep_w = (
        F.coalesce(
            F.regexp_extract("source", "([0-9]+)", 1).try_cast("int"), F.lit(0)
        )
        % 10
        + 1
    ) / 10.0
    return (
        t["documents"]
        .select("doc_id", "source", keep_w.alias("keep_w"), F.expr(COIN).alias("u"))
        .filter(F.col("u") < F.col("keep_w"))
        .select("doc_id", "source", F.round("keep_w", 6).alias("keep_w"))
    )


# ---------------------------------------- blocked fuzzy entity match

@register(
    "fuzzy_match_blocked",
    oracle="""
    WITH b AS (
      SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk FROM customer
    )
    SELECT a.c_custkey AS key_a, c.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, c.c_name) AS INT) AS edit_dist
    FROM b a JOIN b c
      ON a.blk = c.blk AND a.c_custkey < c.c_custkey
    WHERE levenshtein(a.c_name, c.c_name) <= 1
    """,
)
def fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy join: candidate pairs share a
    cheap blocking key (name prefix), edit distance is computed only
    within blocks — never the O(n²) global cross join.

    Round 11 plan change (result-identical, oracle unchanged): the
    16-char prefix block is DEGENERATE on this corpus — every TPC-H
    customer name shares 'Customer#0000...', so the within-block join
    was a near-cross-join evaluating levenshtein on ~n² pairs (225M at
    sf0.1, 2.5 s; quadratic per block at 100 TB). Candidates now come
    from DELETION-VARIANT blocking (FastSS/SymSpell): every pair with
    edit distance <= 1 provably shares a member of D(s) = {s} ∪
    {s minus one char} — substitution at i gives del_i(a) = del_i(b),
    an insertion/deletion gives a = del_j(b) — so joining on a hashed
    variant key (plus the original blk equality, which stays part of
    the operator's contract) generates a SUPERSET of the answer in
    O(n·len) narrow rows, and the original levenshtein <= 1 filter
    then verifies exactly as before. Hash collisions and cross-variant
    duplicates only add candidates that the verify filter/distinct
    remove, so the emitted set is identical by construction. At 100 TB
    the shuffle is ~len+1 narrow (key, hash) rows per record instead
    of a quadratic block scan."""
    t = load_tables(spark, sf_dir)
    variants = (
        "array_union(array(c_name), "
        "CASE WHEN length(c_name) >= 1 THEN "
        "transform(sequence(1, length(c_name)), "
        "i -> concat(substring(c_name, 1, i - 1), substring(c_name, i + 1))) "
        "ELSE array() END)"
    )
    # spread(): the single-file customer scan otherwise runs the whole
    # explode+hash map side as ONE task (profiled 1.9 s serial at
    # sf0.1); no-op on many-file tables at scale.
    b = spread(t["customer"]).selectExpr(
        "c_custkey",
        "c_name",
        "substring(c_name, 1, 16) AS blk",
        f"explode({variants}) AS var",
    ).selectExpr(
        "c_custkey",
        "c_name",
        "blk",
        f"{hash60('var')} AS vh",
    )
    a = b.select(
        "blk", "vh", F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a")
    )
    c = b.select(
        "blk", "vh", F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b")
    )
    return (
        a.join(c, ["blk", "vh"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "name_a", "name_b")
        .distinct()
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 1)
        .select("key_a", "key_b", F.col("edit_dist").cast("int").alias("edit_dist"))
    )


# ------------------------------------- rolling 7-day distinct users

@register(
    "rolling_7d_distinct_users",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ), spine AS (SELECT DISTINCT d FROM daily)
    SELECT strftime(s.d, '%Y-%m-%d') AS day,
           COUNT(DISTINCT a.user_id) AS users_7d
    FROM spine s JOIN daily a
      ON a.d BETWEEN s.d - INTERVAL 6 DAY AND s.d
    GROUP BY s.d
    """,
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day. COUNT(DISTINCT)
    isn't a window function, so: dedup to (user, day) grain first (the
    only shuffle that scales with raw events), then a day-grain range
    join against the tiny broadcast day spine re-counts each user in
    the <=7 windows it falls into."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select("user_id", F.date_trunc("day", "ts").cast("date").alias("d"))
        .distinct()
    )
    daily = materialize(daily)
    spine = daily.select("d").distinct().withColumnRenamed("d", "day_end")
    return (
        daily.join(
            F.broadcast(spine),
            (F.col("d") <= F.col("day_end"))
            & (F.col("d") >= F.date_sub(F.col("day_end"), 6)),
        )
        .groupBy("day_end")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .select(F.date_format("day_end", "yyyy-MM-dd").alias("day"), "users_7d")
    )


# ------------------------------------------- seeded k-means assignment

@register(
    "kmeans_assign_seeded",
    oracle=f"""
    WITH e AS ({VECTORS_DUCK}),
    c AS (SELECT vec_id AS centroid_id, emb AS c_emb,
                 {IP_DUCK.format(a="emb", b="emb")} AS c_norm2
          FROM e WHERE vec_id < 8),
    d AS (
      SELECT e.vec_id, c.centroid_id,
             {l2sq(IP_DUCK, "e.emb", "c.c_emb", "c.c_norm2")} AS dist2
      FROM e CROSS JOIN c
    )
    SELECT vec_id, centroid_id, dist2 FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist2, centroid_id) AS rn
      FROM d
    ) WHERE rn = 1
    """,
)
def kmeans_assign_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment step against K=8 seed centroids (the
    lowest vec_ids). Centroids broadcast with their squared norms
    precomputed, so each row costs one dot product per centroid and
    the big side never shuffles for the distance; `l2sq` rounds so
    ties agree with the oracle."""
    t = load_tables(spark, sf_dir)
    e = vectors(spread(t["embeddings"]))
    c = e.filter(F.col("vec_id") < 8).selectExpr(
        "vec_id AS centroid_id",
        "emb AS c_emb",
        f"{IP_SPARK.format(a='emb', b='emb')} AS c_norm2",
    )
    d = e.crossJoin(F.broadcast(c)).selectExpr(
        "vec_id", "centroid_id", f"{l2sq(IP_SPARK, 'emb', 'c_emb', 'c_norm2')} AS dist2"
    )
    return top_k_per_group(d, ["vec_id"], [F.col("dist2"), F.col("centroid_id")], 1)


# ------------------------------------------------------- TF-IDF

_TFIDF_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKS_DUCK}) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * ln(n.n_docs / CAST(df.df AS DOUBLE)), 6) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rn
      FROM scored
    ) WHERE rn <= 5
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE)
@expanding
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document. Three aggregates over the token
    explosion — term frequency (keyed by doc), document frequency
    (keyed by token, map-side partials collapse each partition to its
    distinct tokens), and the corpus count as a driver scalar. The
    tf ⋈ df join carries NO broadcast hint on purpose: vocabulary is
    NOT bounded — it grows with the corpus (Heaps' law; the 1000x
    clusters sweep grew it ~1000x and a forced broadcast(df) killed
    the JVM with a hard heap OOM while collecting the vocab to the
    driver). AQE converts the join to broadcast at runtime whenever
    df is actually under the threshold, so small corpora still get
    the broadcast plan without hard-coding an assumption that breaks
    at scale.

    Round 9 (VERDICT r8 #4): df is now DERIVED FROM tf — tf's key set
    IS the distinct (doc_id, token) pairs the old
    `toks.distinct().groupBy(token)` recomputed from scratch — so the
    two branches share a byte-identical shuffle subtree
    (HashAggregate(partial) -> Exchange(hash(doc_id, token))) and
    AQE's stage reuse materializes the scan + tokenize + first shuffle
    ONCE. That removes BOTH (a) the second full corpus text scan that
    made this query a two-concurrent-scan shape (the round-8
    expanding-clone OOM mechanism: two scans' unmanaged ~100 MB
    column-batch allocations losing to 4x task concurrency) and (b)
    the distinct()'s entire extra shuffle of the exploded pairs — with
    NO materialization (the token explosion stays un-checkpointed: at
    the 1000x sweep BOTH storage forms of a checkpoint of it died —
    memory blocks via GC-thrash, DISK_ONLY inside the block
    serializer). Measured at 3000x (BASELINE.md round 9): the scan
    stage runs once (one 2.91 GB tokenize exchange, read by both
    consumers), 1000x wall 94.8 -> 84.9 s, and with the single-scan
    shape the 16 MB expanding clone survives 2/2 at 3000x (184.0 /
    202.0 s vs 209.0 s default in the same drift window — the round-8
    OOM mechanism needed the second concurrent scan), so the query
    joins @expanding per the membership gate."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"])
    toks = docs.selectExpr("doc_id", f"explode({TOKS}) AS token")
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # one row per (doc, token) in tf => COUNT(*) per token == the
    # oracle's COUNT(DISTINCT doc_id); the tf lineage reused here is
    # what makes the shared exchange canonically identical.
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.count()  # driver scalar, same role as the oracle's CROSS JOIN n
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        F.round(
            F.col("tf") * F.log(F.lit(n_docs) / F.col("df").cast("double")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .select("doc_id", "token", "tfidf")
    )


# ------------------------------------------- train/val/test split

@register(
    "split_train_val_test",
    oracle=f"""
    SELECT doc_id, lang, {split_case("u")} AS split
    FROM (SELECT doc_id, lang, {COIN_DUCK} AS u FROM documents)
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split on the doc-id coin (llm/curation.py)
    — stable under reruns, engine-independent, and membership is
    decidable for one doc without seeing the corpus (re-splits never
    leak val into train)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", "lang", F.expr(split_case(COIN)).alias("split")
    )


# ------------------------------------------------- z-order layout

def _z_expr(x: str, y: str, bits: int, div: str) -> str:
    """Interleave the low `bits` bits of x (even positions) and y (odd)
    using only integer div/mod — portable between Spark SQL and DuckDB."""
    terms = []
    for i in range(bits):
        terms.append(f"(({x} {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({y} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@register(
    "layout_zorder_sort",
    oracle=f"""
    SELECT l_orderkey, l_partkey, l_suppkey,
           CAST({_z_expr('(l_partkey % 1024)', '(l_suppkey % 1024)', 10, '//')}
                AS BIGINT) AS z
    FROM lineitem
    ORDER BY z, l_orderkey, l_partkey, l_suppkey
    LIMIT 100
    """,
)
def layout_zorder_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two join columns — the
    data-layout idiom behind multi-dimensional file skipping: sorting
    by interleaved bits keeps rows close in BOTH keys close on disk, so
    min/max footer stats prune scans on either predicate. Pure integer
    arithmetic, codegen'd; at scale this feeds
    repartitionByRange(z).sortWithinPartitions(z) before the write."""
    t = load_tables(spark, sf_dir)
    z = _z_expr("(l_partkey % 1024)", "(l_suppkey % 1024)", 10, "div")
    return (
        t["lineitem"]
        .selectExpr(
            "l_orderkey", "l_partkey", "l_suppkey", f"CAST({z} AS BIGINT) AS z"
        )
        .orderBy("z", "l_orderkey", "l_partkey", "l_suppkey")
        .limit(100)
    )


# ------------------------------------------------- bigram LM counts

# ALL bigrams with multiplicity (the existing shingle helpers dedupe —
# LM counts must not).
_ALL_BIGRAMS_SPARK = (
    "transform(sequence(1, size(toks) - 1), "
    "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))"
)
_ALL_BIGRAMS_DUCK = (
    "list_transform(generate_series(1, len(toks) - 1), "
    "i -> concat_ws(' ', list_extract(toks, i), list_extract(toks, i + 1)))"
)

_BIGRAM_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {TOKS_DUCK} AS toks FROM documents
    ), big AS (
      SELECT unnest({_ALL_BIGRAMS_DUCK}) AS bigram
      FROM toks WHERE len(toks) >= 2
    ), c2 AS (
      SELECT bigram, COUNT(*) AS n FROM big GROUP BY bigram
    ), c1 AS (
      SELECT split_part(bigram, ' ', 1) AS w1, SUM(n) AS n1
      FROM c2 GROUP BY 1
    )
    SELECT bigram, n, ROUND(n / CAST(n1 AS DOUBLE), 6) AS cond_p
    FROM (
      SELECT c2.bigram, c2.n, c1.n1,
             ROW_NUMBER() OVER (ORDER BY c2.n DESC, c2.bigram) AS rn
      FROM c2 JOIN c1 ON split_part(c2.bigram, ' ', 1) = c1.w1
    ) WHERE rn <= 100
"""


@register("bigram_lm_counts", oracle=_BIGRAM_ORACLE)
def bigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model counts with conditional probability
    P(w2|w1) = c(w1 w2) / sum_w c(w1 w), top-100 bigrams (tie-proof
    order). Two aggregates: bigram counts from the explosion, then
    first-word totals over the (vocabulary²-sized, i.e. small) count
    table — the corpus is touched once."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"]).selectExpr("doc_id", f"{TOKS} AS toks")
    big = (
        docs.filter("size(toks) >= 2")
        .selectExpr(f"explode({_ALL_BIGRAMS_SPARK}) AS bigram")
    )
    c2 = materialize(big.groupBy("bigram").agg(F.count("*").alias("n")))
    c1 = (
        c2.groupBy(F.split("bigram", " ").getItem(0).alias("w1"))
        .agg(F.sum("n").alias("n1"))
    )
    joined = c2.join(
        F.broadcast(c1), F.split(c2["bigram"], " ").getItem(0) == c1["w1"]
    )
    # Distributed top-k (TakeOrderedAndProject), not a global window.
    return (
        joined.orderBy(F.col("n").desc(), "bigram")
        .limit(100)
        .select(
            "bigram",
            "n",
            F.round(F.col("n") / F.col("n1").cast("double"), 6).alias("cond_p"),
        )
    )


# ------------------------------------------- greedy sequence packing

PACK_CAPACITY = 512


_PACK_ORACLE = f"""
    WITH RECURSIVE toks AS (
      SELECT lang, doc_id, CAST(len({TOKS_DUCK}) AS INT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ), pack AS (
      SELECT lang, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_id,
             CAST(n_tokens AS BIGINT) AS fill
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.doc_id, t.n_tokens, t.rn,
             CASE WHEN p.fill > 0 AND p.fill + t.n_tokens > {PACK_CAPACITY}
                  THEN p.bin_id + 1 ELSE p.bin_id END,
             CASE WHEN p.fill > 0 AND p.fill + t.n_tokens > {PACK_CAPACITY}
                  THEN CAST(t.n_tokens AS BIGINT) ELSE p.fill + t.n_tokens END
      FROM toks t JOIN pack p ON t.lang = p.lang AND t.rn = p.rn + 1
    )
    SELECT lang, bin_id, doc_id, n_tokens FROM pack
"""


@register("pack_sequences_greedy", oracle=_PACK_ORACLE)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedily fill context windows of
    PACK_CAPACITY tokens per language, docs in doc_id order (first-fit
    on a deterministic order — reproducible across runs). A running
    capacity-reset scan is inherently sequential per group, so this is
    the applyInPandas seam: token counts are computed JVM-side first
    and only narrow (lang, doc_id, n_tokens) rows reach Python. The
    per-group state is O(1); groups parallelize across the cluster.
    The first-fit recurrence is replayed by the oracle as a DuckDB
    recursive CTE (one iteration per doc rank, all langs in parallel);
    the packing is also pinned by tests/test_pipeline_ops.py against a
    pure-Python reference."""
    import pandas as pd

    t = load_tables(spark, sf_dir)
    narrow = spread(t["documents"]).selectExpr(
        "lang", "doc_id", f"size({TOKS}) AS n_tokens"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fill, cur = [], 0, 0
        for n in pdf["n_tokens"]:
            if fill > 0 and fill + n > PACK_CAPACITY:
                cur += 1
                fill = 0
            bins.append(cur)
            fill += n
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf[["lang", "bin_id", "doc_id", "n_tokens"]]

    return (
        narrow.repartition(8, "lang")
        .groupBy("lang")
        .applyInPandas(pack, "lang STRING, bin_id BIGINT, doc_id BIGINT, n_tokens INT")
    )


# --------------------------------------- end-to-end corpus curation

def _gate_dedup(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    """(doc_id, `key`, text, quality, h) of the documents that pass the
    quality gate and hold the lowest doc_id of their normalized content
    hash h (llm/curation.py): one wide exchange, on h."""
    t = load_tables(spark, sf_dir)
    q = spread(t["documents"]).selectExpr("doc_id", key, "text", f"{QUALITY} AS quality")
    filtered = materialize(
        q.filter(GATE).withColumn("h", F.expr(NORM_HASH)),
        big=True,  # survivors carry text: corpus-sized
    )
    keepers = filtered.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    return filtered.join(keepers.select("doc_id"), "doc_id", "left_semi")


def _gate_dedup_duck(key: str) -> str:
    """DuckDB side of _gate_dedup: CTEs ending in `kept`."""
    return f"""q AS (
      SELECT doc_id, {key}, text, {QUALITY_DUCK} AS quality FROM documents
    ), filtered AS (
      SELECT * FROM q WHERE {GATE}
    ), keepers AS (
      SELECT {NORM_HASH_DUCK} AS h, MIN(doc_id) AS doc_id
      FROM filtered GROUP BY 1
    ), kept AS (
      SELECT f.* FROM filtered f JOIN keepers k ON k.doc_id = f.doc_id
    )"""


@register(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH {_gate_dedup_duck("lang")}
    SELECT doc_id, lang, quality, {split_case("u")} AS split
    FROM (SELECT *, {COIN_DUCK} AS u FROM kept)
""",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate -> normalized exact dedup -> doc-id split in one
    plan, with ONE wide exchange (the content-hash keeper). Each stage
    is oracle-checked alone elsewhere; this pins their composition."""
    kept = _gate_dedup(spark, sf_dir, "lang")
    return kept.select(
        "doc_id", "lang", "quality", F.expr(split_case(COIN)).alias("split")
    )


# ------------------------------------------ int8 vector quantization

@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH m AS (
      SELECT vec_id, label,
             {EMB_DUCK} AS emb,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      FROM embeddings
    )
    SELECT vec_id, label,
           ROUND(maxabs / 127, 9) AS scale,
           coalesce(array_to_string(
               list_transform(emb, x -> CAST(trunc(coalesce(x * 127 / nullif(maxabs, 0), 0)) AS INT)),
               ','), '') AS qvec
    FROM m
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (max-abs scaling) — the
    4x storage/bandwidth compression step before ANN at 100 TB. Pure
    per-row array math, no shuffle; truncation toward zero on both
    engines (Spark's int CAST truncates, DuckDB's rounds — the oracle
    spells trunc() out) so both land on identical integers. Dequantize =
    qvec * scale. qvec is emitted comma-serialized (scalar column) so
    the driver's pandas canonicalizer can sort it; the quantization
    math itself is array-native."""
    t = load_tables(spark, sf_dir)
    return spread(t["embeddings"]).selectExpr(
        "vec_id",
        "label",
        f"{EMB_SPARK} AS emb",
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs",
    ).selectExpr(
        "vec_id",
        "label",
        "ROUND(maxabs / 127, 9) AS scale",
        # nullif+coalesce: a zero vector has maxabs 0 and must quantize
        # to zeros, not crash ANSI division (DuckDB x/0 -> NULL mirrors).
        "concat_ws(',', transform(emb, x -> CAST(CAST(coalesce("
        "x * 127 / nullif(maxabs, CAST(0 AS DOUBLE)), CAST(0 AS DOUBLE))"
        " AS INT) AS STRING))) AS qvec",
    )


@register(
    "ann_cosine_quantized",
    oracle=f"""
    WITH m AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS maxabs,
             {EMB_DUCK} AS emb
      FROM embeddings
    ), q8 AS (
      SELECT vec_id,
             list_transform(emb,
               x -> CAST(trunc(coalesce(x * 127 / nullif(maxabs, 0), 0)) AS INT) * (maxabs / 127)) AS deq
      FROM m
    ), qs AS (SELECT vec_id AS q_id, deq AS q_deq FROM q8 WHERE vec_id < 8),
    sims AS (
      SELECT qs.q_id, q8.vec_id AS neighbor_id,
             ROUND({COS_DUCK.format(a="qs.q_deq", b="q8.deq")}, 6) AS sim
      FROM qs CROSS JOIN q8 WHERE q8.vec_id <> qs.q_id
    )
    {_TOP_SIMS_DUCK.format(k=5)}
    """,
)
def ann_cosine_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-5 over int8-quantized vectors, dequantized on the
    fly: 4x less vector data for near-identical neighbors (recall vs
    ann_cosine_topk pinned in tests/test_pipeline_ops.py). Same
    broadcast cross-join shape as ann_cosine_topk."""
    t = load_tables(spark, sf_dir)
    q8 = spread(t["embeddings"]).selectExpr(
        "vec_id",
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs",
        f"{EMB_SPARK} AS emb",
    ).selectExpr(
        "vec_id",
        "transform(emb, x -> CAST(CAST(coalesce(x * 127 / nullif(maxabs,"
        " CAST(0 AS DOUBLE)), CAST(0 AS DOUBLE)) AS INT) AS DOUBLE)"
        " * (maxabs / 127)) AS deq",
    )
    q = q8.filter(F.col("vec_id") < 8).selectExpr("vec_id AS q_id", "deq AS q_deq")
    cos = COS_SPARK.format(a="q_deq", b="deq")
    sims = (
        q8.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .selectExpr("q_id", "vec_id AS neighbor_id", f"ROUND({cos}, 6) AS sim")
    )
    return _top_sims(sims, 5)


# ------------------------- near-dup decontamination + mixture sampling

_NEARDUP_DECONTAM_ORACLE = f"""
    WITH {minhash.bands_duck()},
    bench AS (
      SELECT doc_id AS bench_id, band_id, sig FROM bands WHERE {_BENCH_PRED}
    ), corpus AS (
      SELECT doc_id, band_id, sig FROM bands WHERE NOT ({_BENCH_PRED})
    )
    SELECT c.doc_id, CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_hits
    FROM corpus c JOIN bench b ON b.band_id = c.band_id AND b.sig = c.sig
    GROUP BY c.doc_id
"""


@register("decontam_neardup_minhash", oracle=_NEARDUP_DECONTAM_ORACLE)
def decontam_neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup benchmark decontamination — the fuzzy sibling of
    decontam_ngram_overlap: a corpus doc is flagged when it shares any
    MinHash band signature with a benchmark/eval doc, catching
    paraphrased or lightly-edited contamination that exact 13-gram
    overlap misses. The 100 TB shape is asymmetric: the benchmark side
    is tiny (eval suites), so its band signatures BROADCAST and the
    corpus side never shuffles for the probe — one scan + one map-side
    join, the same contract as the exact decontam op."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"]).selectExpr("doc_id", f"{TOKS} AS toks")
    bands = materialize(minhash.bands(minhash.signatures(docs)), big=True)  # corpus band rows
    bench = bands.filter(_BENCH_PRED).select(
        F.col("doc_id").alias("bench_id"), "band_id", "sig"
    )
    corpus = bands.filter(f"NOT ({_BENCH_PRED})")
    return (
        corpus.join(F.broadcast(bench), ["band_id", "sig"])
        .groupBy("doc_id")
        .agg(F.countDistinct("bench_id").alias("n_bench_hits"))
    )


_MIXTURE_BUDGET = 300  # tokens per source

_MIXTURE_ORACLE = f"""
    WITH s AS (
      SELECT doc_id, source,
             CAST(len({TOKS_DUCK}) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS ord
      FROM documents
    ), w AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY ord
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM s
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM w WHERE cum_tokens - n_tokens < {_MIXTURE_BUDGET}
"""


@register("mixture_sample_token_budget", oracle=_MIXTURE_ORACLE)
def mixture_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture sampling to a per-source TOKEN budget: within each
    source, docs are taken in deterministic md5(doc_id) order until the
    source's running token count reaches the budget (a doc is kept iff
    it STARTS under budget). This is how a training mixture is cut from
    heterogeneous sources ("x tokens of web, y of code") without a
    driver-side loop: one window cumulative sum per source — a single
    shuffle on the source key; the md5 order makes the sample both
    uniform-ish and reproducible across engines and runs."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    s = spread(t["documents"]).selectExpr(
        "doc_id",
        "source",
        f"CAST(size({TOKS}) AS BIGINT) AS n_tokens",
        "md5(CAST(doc_id AS STRING)) AS ord",
    )
    w = (
        Window.partitionBy("source")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        s.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") - F.col("n_tokens") < _MIXTURE_BUDGET)
        .select("doc_id", "source", "n_tokens", F.col("cum_tokens").cast("bigint").alias("cum_tokens"))
    )


# ---------------------------------------------------------- PII scrubbing

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
_PII_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

_PII_ORACLE = f"""
WITH aug AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail.example.com or call +1-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT) AS n_ip,
       md5(regexp_replace(
           regexp_replace(
               regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g')) AS redacted_hash
FROM aug
"""


@register("pii_redact_scrub", oracle=_PII_ORACLE)
def pii_redact_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — detect and mask emails, phone numbers, and IPv4
    addresses before text reaches a training corpus. The synthetic
    documents carry no natural PII (word-salad, no digits), so the
    operator first APPENDS deterministic PII derived from doc_id to
    every document; the detection/redaction regexes then run against
    real varied positions and the cross-engine hash genuinely checks
    Java-regex vs RE2 agreement on the patterns. On a real corpus, drop
    the augmentation and run the same three regexp_replace passes.

    100 TB shape: embarrassingly parallel single scan, zero shuffles —
    regexp_count/regexp_replace are JVM codegen'd string ops, no Python.
    Redaction order (email, phone, IP) is fixed and mirrored in the
    oracle so overlap resolution is engine-independent.
    """
    t = load_tables(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return t["documents"].select(
        "doc_id",
        F.regexp_count(aug, F.lit(_PII_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count(aug, F.lit(_PII_PHONE)).cast("long").alias("n_phone"),
        F.regexp_count(aug, F.lit(_PII_IP)).cast("long").alias("n_ip"),
        F.md5(redacted).alias("redacted_hash"),
    )


# ------------------------------------------------------- entropy quality

# Run-length counts from the SORTED token list, linear per row: the
# run starts are the positions where the sorted list changes value;
# each count is the distance to the next start. Both engines build the
# same cnts list in sorted-distinct order, so the c*ln(c) fold order —
# and with it the rounded value — is identical cross-engine.
_ENTROPY_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, list_sort({TOKS_DUCK}) AS st FROM documents
),
runs AS (
    SELECT doc_id,
           len(st) AS n_tokens,
           list_filter(generate_series(1, len(st)),
                       i -> i = 1 OR st[i] <> st[i - 1]) AS starts
    FROM toks
),
counted AS (
    SELECT doc_id, n_tokens,
           list_transform(
               list_zip(list_concat(starts[2:], [n_tokens + 1]), starts),
               p -> p[1] - p[2]) AS cnts
    FROM runs
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(cnts) AS BIGINT) AS n_distinct,
       round(ln(n_tokens)
             - list_sum(list_transform(cnts, c -> c * ln(c))) / n_tokens,
             6) AS token_entropy
FROM counted
WHERE n_tokens > 0
"""


@register("quality_token_entropy", oracle=_ENTROPY_ORACLE)
def quality_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the per-document unigram distribution — the
    gibberish/low-diversity quality signal (a doc repeating one word has
    H=0; uniform vocabulary use maximizes H). Complements
    quality_repetition_ratio (dup fractions) with a distributional view.

    Per-row cost is O(n log n): sort the token list once, then derive
    the per-token counts as run lengths of the sorted list (run starts
    = positions where the value changes; count = gap to the next
    start) — all linear array ops. The previous
    `transform(array_distinct(tk), d -> size(filter(tk, x = d)))` form
    was O(n_distinct * n_tokens) per row — ~10^9 comparisons for one
    100k-token document, a single-task straggler no parallelism fixes
    (VERDICT r3); the crafted long-doc test covers that regime. Still
    zero shuffles and JVM codegen'd (beats the explode -> groupBy
    linearization, which pays two exchanges): embarrassingly parallel
    at any scale.

    Cross-engine float parity: cnts is built in sorted-distinct-token
    order in BOTH engines, so the c*ln(c) fold order — and the rounded
    value — matches exactly.
    """
    t = load_tables(spark, sf_dir)
    toks = t["documents"].selectExpr("doc_id", f"array_sort({TOKS}) AS st")
    # Filter empty docs BEFORE the index sequence: sequence(1, 0) is
    # [1, 0] in Spark (descending default step) and element_at(st, 0)
    # throws under ANSI; the output excludes n_tokens = 0 rows anyway.
    runs = toks.where("size(st) > 0").selectExpr(
        "doc_id",
        "size(st) AS n_tokens",
        "filter(sequence(1, size(st)),"
        " i -> i = 1 OR element_at(st, i) != element_at(st, i - 1)) AS starts",
    )
    counted = runs.selectExpr(
        "doc_id",
        "n_tokens",
        "zip_with(concat(slice(starts, 2, size(starts) - 1), array(n_tokens + 1)),"
        " starts, (b, a) -> b - a) AS cnts",
    )
    return counted.where("n_tokens > 0").selectExpr(
        "doc_id",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(size(cnts) AS BIGINT) AS n_distinct",
        "round(ln(n_tokens)"
        " - aggregate(cnts, 0D, (acc, c) -> acc + c * ln(c)) / n_tokens,"
        " 6) AS token_entropy",
    )


# -------------------------------------- bigram perplexity scoring

# Per-document perplexity under the corpus-trained add-one-smoothed
# bigram LM — the classic LM-quality filter (docs whose token stream
# the corpus model finds surprising are boilerplate/garbled/outliers).
# Determinism: each term ln P(w2|w1) is rounded to 9 decimals and
# summed in DECIMAL (exact, order-independent) — a raw double SUM
# differs in low bits between engines depending on reduction order.
_PPL_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {TOKS_DUCK} AS toks FROM documents
    ), big AS (
      SELECT doc_id, unnest({_ALL_BIGRAMS_DUCK}) AS bigram
      FROM toks WHERE len(toks) >= 2
    ), c2 AS (
      SELECT bigram, COUNT(*) AS n2 FROM big GROUP BY bigram
    ), c1 AS (
      SELECT split_part(bigram, ' ', 1) AS w1, SUM(n2) AS n1
      FROM c2 GROUP BY 1
    ), v AS (
      SELECT COUNT(DISTINCT t) AS v FROM (
        SELECT unnest(toks) AS t FROM toks
      )
    ), scored AS (
      SELECT b.doc_id,
             CAST(ROUND(ln((c2.n2 + 1) / CAST(c1.n1 + v.v AS DOUBLE)), 9)
                  AS DECIMAL(28,9)) AS lnp
      FROM big b
      JOIN c2 USING (bigram)
      JOIN c1 ON c1.w1 = split_part(b.bigram, ' ', 1)
      CROSS JOIN v
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(exp(-CAST(SUM(lnp) AS DOUBLE) / COUNT(*)), 4) AS perplexity
    FROM scored GROUP BY doc_id
"""


@register("quality_perplexity_bigram", oracle=_PPL_ORACLE)
def quality_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under the corpus's own add-one-smoothed
    bigram LM: ppl = exp(-mean ln P(w2|w1)), P = (c(w1 w2)+1)/(c(w1)+V).
    The LM-quality filter between heuristics (gopher rules) and a real
    trained model — high-perplexity docs are the boilerplate/garbled
    tail a curation pipeline drops or down-weights.

    Scale shape: one corpus pass builds counts (map-side partials),
    one pass scores; the model join keys on bigram and the model side
    has ONE row per bigram, so hot bigrams fan out 1:1 — linear in
    corpus bigrams. c1 (first-word totals) is vocabulary-sized and
    broadcast; V rides a 1-row broadcast cross join, not a driver
    scalar. Per-term ln is rounded then summed in DECIMAL so the
    reduction order cannot flip the rounded output; the DECIMAL mean
    feeds exp() as a bit-identical double on both engines, and the
    final value rounds at 4 decimals (not 6) so a 1-ulp JVM-vs-libm
    exp() divergence sits ~5 orders of magnitude inside the rounding
    grid instead of riding its edge (ADVICE r3)."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"]).selectExpr("doc_id", f"{TOKS} AS toks")
    big = materialize(
        docs.filter("size(toks) >= 2").selectExpr(
            "doc_id", f"explode({_ALL_BIGRAMS_SPARK}) AS bigram"
        ),
        big=True,  # exploded bigrams: corpus x tokens
    )
    c2 = big.groupBy("bigram").agg(F.count("*").alias("n2"))
    c1 = c2.groupBy(F.split("bigram", " ").getItem(0).alias("w1")).agg(
        F.sum("n2").alias("n1")
    )
    v = docs.selectExpr("explode(toks) AS t").agg(F.countDistinct("t").alias("v"))
    model = c2.join(
        F.broadcast(c1), F.split(c2["bigram"], " ").getItem(0) == c1["w1"]
    ).select("bigram", "n2", "n1")
    scored = (
        big.join(model, "bigram")
        .crossJoin(F.broadcast(v))
        .selectExpr(
            "doc_id",
            "CAST(ROUND(ln((n2 + 1) / CAST(n1 + v AS DOUBLE)), 9) AS DECIMAL(28,9)) AS lnp",
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            F.exp(-F.sum("lnp").cast("double") / F.count("*")), 4
        ).alias("perplexity"),
    )


# ------------------------------------- curation compositions v2, v3

def _gate_dedup_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, quality, text, rank): _gate_dedup's survivors,
    each source capped at its _DOMAIN_CAP best by (quality DESC,
    doc_id). The rank <= cap filter rides WindowGroupLimit's partial
    top-k below the exchange."""
    from pyspark.sql import Window

    from mapreducecore_spark.queries.curation import _DOMAIN_CAP

    w_cap = Window.partitionBy("source").orderBy(F.col("quality").desc(), "doc_id")
    return (
        _gate_dedup(spark, sf_dir, "source")
        .select("doc_id", "source", "quality", "text")
        .withColumn("rank", F.row_number().over(w_cap))
        .filter(F.col("rank") <= _DOMAIN_CAP)
    )


def _gate_dedup_cap_duck() -> str:
    """DuckDB side of _gate_dedup_cap: CTEs ending in `capped`."""
    from mapreducecore_spark.queries.curation import _DOMAIN_CAP

    return f"""{_gate_dedup_duck("source")}, capped AS (
      SELECT doc_id, source, quality, text, rank FROM (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id) AS rank
        FROM kept)
      WHERE rank <= {_DOMAIN_CAP}
    )"""


def _selected_split(capped: DataFrame, dsir: DataFrame) -> DataFrame:
    """The `capped` rows that DSIR frame `dsir` selects, with their log
    weight and doc-id split."""
    return (
        capped.select("doc_id", "source", "quality", "rank")
        .join(dsir.filter("selected").select("doc_id", "log_weight"), "doc_id")
        .select(
            "doc_id",
            "source",
            "quality",
            "rank",
            "log_weight",
            F.expr(split_case(COIN)).alias("split"),
        )
    )


def _selected_split_duck(train: str) -> str:
    """DuckDB side of _selected_split over _gate_dedup_cap_duck, with
    DSIR trained on relation `train` and scoring `capped`."""
    from mapreducecore_spark.queries.curation import _dsir_oracle_xt

    return f"""
    WITH {_gate_dedup_cap_duck()},
    dsir AS (SELECT * FROM ({_dsir_oracle_xt(train, "capped")}))
    SELECT c.doc_id, c.source, c.quality, c.rank, d.log_weight,
           {split_case("u")} AS split
    FROM (SELECT *, {COIN_DUCK} AS u FROM capped) c
    JOIN dsir d ON d.doc_id = c.doc_id
    WHERE d.selected
"""


@register("corpus_curation_pipeline_v2", oracle=_selected_split_duck("documents"))
def corpus_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate -> normalized dedup -> per-domain cap (_gate_dedup_cap) ->
    DSIR selection with models fit on the whole corpus -> doc-id split.
    The one-pass variant: the gate stages and DSIR share one corpus
    scan. Two corpus-wide shuffles (content-hash keeper, DSIR per-doc
    sum), the cap's partial top-k and two 1024-row broadcast model
    tables; no stage widens the data beyond the surviving rows."""
    from mapreducecore_spark.queries.curation import dsir_importance_weights

    return _selected_split(
        _gate_dedup_cap(spark, sf_dir), dsir_importance_weights(spark, sf_dir)
    )


@register("corpus_curation_pipeline_v3", oracle=_selected_split_duck("capped"))
def corpus_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2 with DSIR fit on the gated, deduped and capped survivors, the
    order Xie et al. (2023) run: junk and near-copies no longer skew
    the raw model. The recommended default. Same shuffles as v2; the
    DSIR passes read only the survivors."""
    from mapreducecore_spark.queries.curation import _dsir_scores

    capped = materialize(_gate_dedup_cap(spark, sf_dir))
    return _selected_split(capped, _dsir_scores(capped.select("doc_id", "source", "text")))


# ------------------------------------ incremental ingest composition

def _ingest_incr_oracle() -> str:
    from mapreducecore_spark.queries.curation import _dsir_oracle_xt

    return f"""
    WITH incr AS ({minhash.matches_duck(new="documents WHERE doc_id % 10 = 0")}),
    near AS (
      SELECT DISTINCT new_id AS doc_id FROM incr
      WHERE match_id % 10 <> 0 OR match_id < new_id
    ),
    nd AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    od AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
    newq AS (
      SELECT doc_id, {QUALITY_DUCK} AS quality, {NORM_HASH_DUCK} AS h FROM nd
    ),
    oldh AS (SELECT DISTINCT {NORM_HASH_DUCK} AS h FROM od),
    minh AS (SELECT h, MIN(doc_id) AS keeper FROM newq GROUP BY h),
    dsir AS (SELECT * FROM ({_dsir_oracle_xt("od", "nd")}))
    SELECT n.doc_id,
           {GATE} AS gate_pass,
           (oh.h IS NOT NULL OR n.doc_id > m.keeper) AS exact_dup,
           (nr.doc_id IS NOT NULL) AS near_dup,
           d.selected AS selected,
           d.log_weight,
           ({GATE}
            AND NOT (oh.h IS NOT NULL OR n.doc_id > m.keeper)
            AND nr.doc_id IS NULL AND d.selected) AS accepted
    FROM newq n
    LEFT JOIN oldh oh ON oh.h = n.h
    JOIN minh m ON m.h = n.h
    LEFT JOIN near nr ON nr.doc_id = n.doc_id
    JOIN dsir d ON d.doc_id = n.doc_id
"""


@register("corpus_ingest_incremental", oracle=_ingest_incr_oracle())
def corpus_ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-batch ingest audit: the new batch is doc_id % 10 == 0,
    the existing corpus the rest. One row per new doc with each stage's
    flag computed on its own — quality gate, exact dup (its normalized
    hash is in the corpus, or a smaller batch doc has it), near dup
    (dedup_incremental_minhash pairs it with a corpus doc or a smaller
    batch doc), DSIR `selected` under models fit on the corpus
    (_dsir_scores_xt) — and their conjunction `accepted`.

    Every stage scales with the batch, not the corpus: the gate is
    row-local, the old-hash set a 16-byte-key left join, the model
    tables 1024-row broadcasts, and near-dup pairs are batch-scoped
    (BASELINE.md "Incremental dedup batch-size sensitivity")."""
    from mapreducecore_spark.queries.curation import _dsir_scores_xt
    from mapreducecore_spark.queries.llm import dedup_incremental_minhash

    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"])
    new = docs.filter(F.col("doc_id") % 10 == 0)
    old = docs.filter(F.col("doc_id") % 10 != 0)
    newq = materialize(
        new.selectExpr("doc_id", f"{QUALITY} AS quality", f"{NORM_HASH} AS h")
    )
    oldh = old.selectExpr(f"{NORM_HASH} AS h").distinct().withColumn(
        "in_old", F.lit(True)
    )
    minh = newq.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    near = (
        dedup_incremental_minhash(spark, sf_dir)
        .filter((F.col("match_id") % 10 != 0) | (F.col("match_id") < F.col("new_id")))
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    dsir = _dsir_scores_xt(
        old.select("doc_id", "source", "text"), new.select("doc_id", "source", "text")
    )
    flags = (
        newq.join(oldh, "h", "left")
        .join(minh, "h")
        .join(near, "doc_id", "left")
        .join(dsir.select("doc_id", "selected", "log_weight"), "doc_id")
    )
    gate = F.expr(GATE)
    exact = F.coalesce(F.col("in_old"), F.lit(False)) | (
        F.col("doc_id") > F.col("keeper")
    )
    nearf = F.coalesce(F.col("is_near"), F.lit(False))
    return flags.select(
        "doc_id",
        gate.alias("gate_pass"),
        exact.alias("exact_dup"),
        nearf.alias("near_dup"),
        F.col("selected").alias("selected"),
        "log_weight",
        (gate & ~exact & ~nearf & F.col("selected")).alias("accepted"),
    )
