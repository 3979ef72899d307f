"""Corpus-curation operators: semantic dedup (SemDeDup),
substring-span dedup (Lee et al. 2022 style), a hashed linear quality
classifier (fastText-shaped), per-domain document caps and DSIR
importance weights. The family's scalar rules (quality score, content
hash, doc-id split) live in llm/curation.py.

Reference has no analogue (its only data operators are S1-S6/D1-D7,
`mr_tasks.h:43-121` / `worker.h:73-160`); these extend the [EXT]
LLM-data-pipeline surface of SURVEY.md §2.D with the remaining
curation stages a 100 TB training pipeline runs:

- SemDeDup (Abbas et al. 2023): cluster embeddings with k-means, then
  prune within-cluster pairs above a cosine threshold. Candidate
  generation is quadratic only WITHIN a cluster; K is chosen ~ n/1000
  at scale so cluster width stays bounded — the cross-cluster O(n^2)
  never materializes. Centroids broadcast; one shuffle on centroid_id.
- Substring-span dedup (Lee et al., "Deduplicating Training Data Makes
  Language Models Better"): find maximal token spans whose k-grams all
  occur in >= 2 distinct documents. The scale shape is an inverted
  k-gram index joined back 1:1 per (doc, pos) — the join key carries a
  per-gram boolean, so hot grams CANNOT blow up the output (contrast
  the pairwise jaccard join, which needs its df cap).
- Hashed linear classifier: fastText-shaped quality scoring with
  bucketed unigram features and formula-derived weights — the weight
  table is pure arithmetic on the bucket id, so scoring is one
  JVM-side aggregation with NO model broadcast and no Python. Swapping
  real trained weights in means broadcasting a 2^20-row map — still
  map-side only.
- Per-domain cap: keep the top-N documents per source (quality-ordered)
  — the standard guard against a single crawl domain flooding the
  training mix. Two forms: the audit-rank form ranks EVERY row via
  range-partitioned exact ranking (a per-source window would put a
  mega-domain in one task; AQE skew handling applies to joins, not
  window partitions), and the kept-set form filters rank <= cap inside
  the operator so Catalyst's WindowGroupLimit keeps at most cap rows
  per source per map task BELOW the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducecore_spark.catalog import load_tables
from mapreducecore_spark.llm.minhash import TOKS, TOKS_DUCK, hash60, hash60_duck
from mapreducecore_spark.llm.similarity import (
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
from mapreducecore_spark.queries import register
from mapreducecore_spark.queries._util import materialize, spread

# ------------------------------------------------------------ SemDeDup

# K scales with the corpus (paper: K ~ n/1000; here n/250 so test SFs
# keep K >= 8): cluster width — and with it the intra-cluster pair
# count — stays ~constant per cluster, so total pairs grow LINEARLY in
# n. The first 10x sweep ran with a fixed K=8 and clocked 30x at 10x
# data (clusters grew 10x -> pairs 100x): the same quadratic class as
# the unguarded LSH buckets, fixed at the source by scaling K.
#
# Assignment is LSH-pruned: a vector computes exact distances only to
# centroids sharing a sign-LSH bucket (llm/similarity's 4x8-bit
# tables), with a full-argmin fallback for vectors matching no
# centroid bucket. Brute-force assignment is n x K distance evals
# with K ~ n — the 100x sweep measured it at 9.3x/decade (160M evals
# at 200k vectors); bucketed candidates cut that ~64x and the
# fallback fraction DECAYS as K grows (P[no bucket hit] =
# (1 - 1/256)^(4K)), so small corpora stay near-exact and large ones
# stay cheap. The same two-level shape as ann_ivf_trained, and the
# oracle mirrors the pruning exactly.
_SEM_MIN_K = 8
_SEM_DOCS_PER_CLUSTER = 250
_SEM_T = 0.4  # cosine prune threshold (matches data's near-dup band)

# ---- corpus-adaptive LSH code width (round 8, VERDICT r7 #1) ----
# A FIXED 4x8-bit code space (1024 (tbl,code) slots) saturates once K
# outgrows it: at the fourth decade (K ~ 24k) every bucket held ~94
# centroids, candidates per vector grew ~K/64, and the training
# assignment went quadratic-in-n by construction (measured 4.20x wall
# for 3x data, BASELINE.md round-7 semdedup notes). Scaling code bits
# with log2(K) pins expected centroids-per-bucket at <= ~16 per table
# (bits = smallest b >= 8 with 2^b >= K/16, capped at MAX_BITS), so
# candidates per vector stay ~4*16 regardless of corpus size while
# P[a vector's buckets hold no centroid at all] stays ~e^-K/2^bits
# per table — vanishing, so the exact-argmin fallback never becomes a
# hidden n x K path. The comparison ladder below (not a float log2)
# keeps the tier flip bit-deterministic across engines; the oracle
# computes the SAME ladder from its k CTE and reduces MAX_BITS codes
# modulo 2^bits, which equals generating bits-wide codes directly
# (llm/similarity._hyperplane is bit-positional).
_SEM_OCC_LOG2 = 4  # target ~2^4 centroids per bucket per table
_SEM_BITS_LADDER = tuple(1 << t for t in range(8 + _SEM_OCC_LOG2, 16 + _SEM_OCC_LOG2))


def _sem_bits(k: int) -> int:
    """Code width for codebook size k: 8 + one per ladder rung passed."""
    return 8 + sum(k > rung for rung in _SEM_BITS_LADDER)


_SEM_BITS_DUCK = "8 + " + " + ".join(
    f"CAST(k > {rung} AS INT)" for rung in _SEM_BITS_LADDER
)
# Scalar mask CTEs the oracle threads through every code computation.
_SEM_MASK_CTES = (
    f"semb AS (SELECT {_SEM_BITS_DUCK} AS bits FROM k),\n"
    "    semmask AS (SELECT CAST(1 AS BIGINT) << bits AS m FROM semb)"
)
_SEM_MASK = "SELECT m FROM semmask"

# Per-pair cosine for the PRUNE stage, in FLOOR-QUANTIZED form
# (round 7): the dot product is sum(floor(a_i * b_i * 2^40)) as int64
# — every term is an IEEE double product scaled by an exact power of
# two and floored, so the sum is exact, ORDER-INDEPENDENT, and
# therefore bit-identical across numpy (the applyInPandas prune
# kernel), DuckDB (this oracle expression), and any Spark SQL form —
# BY CONSTRUCTION, not by matching summation order. That frees the
# prune kernel to use vectorized numpy (the previous zip_with
# per-pair fold burned 64% of the 1000x query's core-seconds; see
# BASELINE.md round-7 semdedup notes) and drops the ROUND(cos, 6)
# tie-pinning crutch: with identical quantized dots and the nrm
# column computed ONCE by Spark and passed through, the raw >=
# comparison is already deterministic everywhere. Quantization shifts
# a cosine by < dim * 2^-40 / (|a||b|) — semantically nil against the
# 0.4 threshold. Zero norms -> NULL in DuckDB (nullif), masked in the
# kernel: zero vectors never prune.
_SEM_Q = 1099511627776.0  # 2^40, float for exact IEEE scaling
_PAIR_COS_Q_DUCK = (
    "CAST(list_sum(list_transform(generate_series(1, len(ea.emb)), i -> "
    "CAST(FLOOR(list_extract(ea.emb, i) * list_extract(eb.emb, i) * 1099511627776.0) AS BIGINT)"
    ")) AS DOUBLE) / 1099511627776.0 / nullif(ea.nrm * eb.nrm, 0)"
)

_SEM_TRAIN_ITERS = 2  # Lloyd iterations before the prune (Abbas et al.)

# Lloyd TRAINS on a deterministic md5 hash-sample (~1/4) of the corpus
# (VERDICT r6 #1): with K ~ n/250 the full-corpus training pass costs
# n x candidates PER ROUND, so the 2 training rounds were ~2/3 of the
# 1000x wall (1351 s). Centroid quality needs only a representative
# sample (~62 sampled members per cluster at the n/250 K) — standard
# k-means practice — while the FINAL assignment and the prune still
# see every vector, so coverage is exact. The sample is the md5-prefix
# idiom (same as sample_deterministic_hash): engine-agnostic,
# reproducible, pure map-side; the oracle trains on the identical
# subset so the trained centroids stay bit-identical cross-engine.
#
# Sampling only kicks in at n >= _SEM_TRAIN_SAMPLE_MIN_N: below it the
# empty-cluster-drop rule would collapse the codebook (a 12-vector
# crafted corpus samples ~2 training vectors against K=8 seeds), and
# tiny corpora gain nothing from a 4x training cut. The threshold is
# mirrored in the oracle as a scalar COUNT(*) subquery, so both
# engines flip branches on exactly the same corpus size; 300 puts the
# driver's sf0.01 run (500 vectors) on the SAMPLED branch — the branch
# that matters at scale is the value-attested one — while the crafted
# and numpy-differential tests (12/80 vectors) keep exact full-corpus
# training.
_SEM_TRAIN_SAMPLE_MIN_N = 300
_SEM_TRAIN_SAMPLE_SPARK = (
    "substring(md5(CAST(vec_id AS STRING)), 1, 1) IN ('0', '1', '2', '3')"
)
_SEM_TRAIN_SAMPLE_DUCK = (
    "substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')"
)


def _sem_assign_ctes(tag: str, cents: str, src: str = "e", codes: str = "vcodes") -> str:
    """One LSH-pruned assignment round against centroid CTE `cents`,
    assigning the vectors of CTE `src` (with LSH codes in `codes`):
    candidate buckets -> full-argmin fallback -> two-phase MIN argmin.
    Mirrors the Spark _sem_assign helper CTE-for-stage. Training rounds
    pass src="es"/codes="vscodes" (the hash-sampled training subset);
    the final assignment passes the full-corpus defaults. Codes are
    width-masked by the semmask scalar CTE (corpus-adaptive bits)."""
    return f"""
    cc{tag} AS MATERIALIZED (SELECT centroid_id, {duck_tables_select("c_emb", mask=_SEM_MASK)} FROM {cents}),
    cand{tag} AS MATERIALIZED (
      SELECT DISTINCT v.vec_id, cc.centroid_id
      FROM {codes} v JOIN cc{tag} cc USING (tbl, code)
    ),
    ca{tag} AS MATERIALIZED (
      SELECT vec_id, centroid_id FROM cand{tag}
      UNION ALL
      SELECT e.vec_id, c.centroid_id FROM {src} e CROSS JOIN {cents} c
      WHERE e.vec_id NOT IN (SELECT vec_id FROM cand{tag})
    ),
    sc{tag} AS MATERIALIZED (
      SELECT a.vec_id, a.centroid_id, {l2sq(IP_DUCK, "emb", "c_emb", "c_norm2")} AS d2
      FROM ca{tag} a
      JOIN {src} e ON e.vec_id = a.vec_id
      JOIN {cents} c ON c.centroid_id = a.centroid_id
    ),
    bs{tag} AS MATERIALIZED (SELECT vec_id, MIN(d2) AS d2 FROM sc{tag} GROUP BY vec_id),
    asg{tag} AS MATERIALIZED (
      SELECT s.vec_id, MIN(s.centroid_id) AS centroid_id
      FROM sc{tag} s JOIN bs{tag} USING (vec_id, d2)
      GROUP BY s.vec_id
    )"""


def _semdedup_oracle(iters: int) -> str:
    """DuckDB mirror of semdedup_prune: rank-based seeds, `iters`
    Lloyd rounds (LSH-pruned assign, then `centroid_means_duck`), final
    assignment, intra-cluster cosine prune. The CTEs stay MATERIALIZED:
    inlined, the round chain grows exponentially."""
    blocks = []
    for i in range(iters):
        members = f"(SELECT a.centroid_id, e.emb FROM asg{i} a JOIN es e ON e.vec_id = a.vec_id)"
        blocks.append(_sem_assign_ctes(str(i), f"c{i}", src="es", codes="vscodes"))
        blocks.append(f"""
    c{i + 1} AS MATERIALIZED (
      SELECT *, {IP_DUCK.format(a="c_emb", b="c_emb")} AS c_norm2
      FROM ({centroid_means_duck(members, ["centroid_id"], "emb")})
    )""")
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, emb, sqrt({IP_DUCK.format(a="emb", b="emb")}) AS nrm
      FROM ({VECTORS_DUCK})),
    k AS (SELECT GREATEST({_SEM_MIN_K},
                          CAST(CEIL(COUNT(*) / {_SEM_DOCS_PER_CLUSTER}.0) AS BIGINT)) AS k
          FROM e),
    {_SEM_MASK_CTES},
    c0 AS MATERIALIZED (SELECT vec_id AS centroid_id, emb AS c_emb,
                  {IP_DUCK.format(a="emb", b="emb")} AS c_norm2
           FROM e
           QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (SELECT k FROM k)),
    vcodes AS MATERIALIZED (SELECT vec_id, {duck_tables_select("emb", mask=_SEM_MASK)} FROM e),
    es AS MATERIALIZED (
      SELECT * FROM e
      WHERE (SELECT COUNT(*) FROM e) < {_SEM_TRAIN_SAMPLE_MIN_N}
         OR {_SEM_TRAIN_SAMPLE_DUCK}),
    vscodes AS MATERIALIZED (
      SELECT v.* FROM vcodes v JOIN es USING (vec_id)),
    {",".join(blocks)},
    {_sem_assign_ctes("f", f"c{iters}")},
    pruned AS (
      SELECT b.vec_id, MIN(a.vec_id) AS pruned_by
      FROM asgf a JOIN asgf b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE {_PAIR_COS_Q_DUCK} >= {_SEM_T}
      GROUP BY b.vec_id
    )
    SELECT s.vec_id, s.centroid_id, p.vec_id IS NULL AS kept, p.pruned_by
    FROM asgf s LEFT JOIN pruned p ON p.vec_id = s.vec_id
"""


def _sem_assign(
    e: DataFrame, vcodes: DataFrame, c: DataFrame, bits: int = 8
) -> DataFrame:
    """(vec_id, centroid_id): each vector's nearest centroid by
    `l2sq`, scored only against centroids sharing a sign-LSH bucket
    (all centroids when none does). The argmin is min(struct(d2,
    centroid_id)), so ties go to the lowest centroid_id as in the
    oracle's two-phase MIN, and it partial-aggregates map-side, so the
    scored rows never leave the map task: 1000x shuffle 6.2 -> 4.5 GB
    (BASELINE.md "Round-7 semdedup rework")."""
    ccodes = add_lsh_codes(
        c.select(F.col("centroid_id"), F.col("c_emb").alias("emb")), bits=bits
    ).select("centroid_id", "tbl", "code")
    # Duplicate (vec_id, centroid_id) candidates (a match in several
    # tables) are kept: the min argmin is invariant to them, so rows
    # equal the oracle's SELECT DISTINCT form without an n x ~124-row
    # DISTINCT exchange.
    cand = vcodes.join(F.broadcast(ccodes), ["tbl", "code"]).select(
        "vec_id", "centroid_id"
    )
    fallback = (
        e.select("vec_id")
        .join(cand.select("vec_id").distinct(), "vec_id", "left_anti")
        .crossJoin(F.broadcast(c.select("centroid_id")))
    )
    cand_all = cand.unionByName(fallback)
    return (
        cand_all.join(e.select("vec_id", "emb"), "vec_id")
        .join(F.broadcast(c), "centroid_id")
        .selectExpr(
            "vec_id",
            f"named_struct('d2', {l2sq(IP_SPARK, 'emb', 'c_emb', 'c_norm2')},"
            " 'centroid_id', centroid_id) AS s",
        )
        .groupBy("vec_id")
        .agg(F.min("s").alias("s"))
        .selectExpr("vec_id", "s.centroid_id AS centroid_id")
    )


def _prune_cluster_pdf(pdf):
    """Per-cluster SemDeDup prune kernel (applyInPandas): for each
    vector (ascending vec_id) find the LOWEST-id earlier member with
    quantized cosine >= _SEM_T. The pairwise kernel is inherently
    quadratic WITHIN a cluster — exactly the case the PySpark guide
    reserves for vectorized Python: the previous pure-SQL self-join
    evaluated an interpreted zip_with fold per pair (64% of the 1000x
    query's core-seconds), while one numpy row-sweep per member is
    vectorized across the cluster. Parity is BY CONSTRUCTION: the dot
    is the order-independent floor-quantized int64 sum mirrored
    literally in _PAIR_COS_Q_DUCK, nrm comes in as the column Spark
    computed (never recomputed here), and the division order matches
    the oracle expression. Memory: one (j x dim) product block at a
    time, so a cluster of width w costs O(w * dim) per step — K ~
    n/250 bounds expected w; a degenerate all-identical corpus is
    quadratic in ANY implementation of this operator's semantics."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["emb"].to_numpy()) if len(pdf) else np.empty((0, 0))
    nrm = pdf["nrm"].to_numpy()
    pruned_by = [None] * len(ids)
    for j in range(1, len(ids)):
        scaled = X[:j] * X[j] * _SEM_Q
        # Loud range check (ADVICE r7): .astype(np.int64) silently
        # WRAPS a scaled term >= 2^63 while the oracle's CAST(... AS
        # BIGINT) raises Out of Range — extreme-magnitude embeddings
        # (|a_i*b_i| >= 2^23) must fail identically on both engines,
        # not diverge quietly.
        if scaled.size and float(np.abs(scaled).max()) >= 2.0**63:
            raise ValueError(
                "semdedup prune: quantized dot term out of int64 range "
                "(embedding magnitudes too large for the 2^40 scale)"
            )
        q = np.floor(scaled).astype(np.int64).sum(axis=1)
        denom = nrm[:j] * nrm[j]
        ok = denom != 0
        cos = np.zeros(j)
        cos[ok] = (q[ok].astype(np.float64) / _SEM_Q) / denom[ok]
        hits = np.nonzero(ok & (cos >= _SEM_T))[0]
        if hits.size:
            pruned_by[j] = int(ids[hits[0]])  # ids ascending -> min id
    return pd.DataFrame(
        {
            "vec_id": ids,
            "centroid_id": pdf["centroid_id"].to_numpy(),
            "kept": [p is None for p in pruned_by],
            "pruned_by": pd.array(pruned_by, dtype="Int64"),
        }
    )


@register("semdedup_prune", oracle=_semdedup_oracle(_SEM_TRAIN_ITERS))
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings,
    then within each cluster prune every vector with a lower-id member
    at cosine >= _SEM_T. Output: every vec_id with its cluster, kept
    flag and the keeper that shadows it.

    Seeds are the K = max(8, ceil(n / 250)) lowest vec_ids; then
    _SEM_TRAIN_ITERS Lloyd rounds (`_sem_assign`, then
    `centroid_means`) train on a deterministic ~1/4 md5 sample above
    _SEM_TRAIN_SAMPLE_MIN_N vectors; the final assignment and the prune
    see every vector. K grows with n, so cluster width and the total
    pair count stay linear in n: a fixed K=8 measured 30x at 10x data
    (BASELINE.md "Scaling slope refreshed, sf0.1 -> 10x"). The
    prune is one shuffle on centroid_id into a vectorized per-cluster
    kernel (`_prune_cluster_pdf`). The oracle mirrors seeds, sample,
    every round and the LSH pruning, so the approximate assignment is
    itself oracle-checked."""
    t = load_tables(spark, sf_dir)
    e = vectors(spread(t["embeddings"])).selectExpr(
        "vec_id", "emb", f"sqrt({IP_SPARK.format(a='emb', b='emb')}) AS nrm"
    )
    e = materialize(e, big=True)  # corpus-sized embedding frame
    # Single driver-side scalar (accepted pattern, cf. pipeline.py
    # n_docs): K must be known to pick the centroid set.
    n_vecs = t["embeddings"].count()
    k = max(_SEM_MIN_K, -(-n_vecs // _SEM_DOCS_PER_CLUSTER))
    bits = _sem_bits(k)  # corpus-adaptive code width (see ladder note)
    # Rank-based seeds (K lowest vec_ids): TakeOrdered partial top-k,
    # not a vec_id < k filter that silently shrinks on sparse ids.
    c = e.orderBy("vec_id").limit(k).selectExpr(
        "vec_id AS centroid_id",
        "emb AS c_emb",
        f"{IP_SPARK.format(a='emb', b='emb')} AS c_norm2",
    )
    vcodes = add_lsh_codes(e.select("vec_id", "emb"), bits=bits).select(
        "vec_id", "tbl", "code"
    )
    # Training set: deterministic ~1/4 md5 hash-sample above the
    # corpus-size threshold (see _SEM_TRAIN_SAMPLE_* above). Only the
    # Lloyd rounds shrink; the final assignment and the prune below
    # still run over e/vcodes. n_vecs is already on the driver, so the
    # branch costs nothing extra; the oracle mirrors it via a scalar
    # COUNT(*) subquery.
    if n_vecs >= _SEM_TRAIN_SAMPLE_MIN_N:
        es = materialize(e.filter(F.expr(_SEM_TRAIN_SAMPLE_SPARK)), big=True)
        vscodes = vcodes.filter(F.expr(_SEM_TRAIN_SAMPLE_SPARK))
    else:
        es, vscodes = e, vcodes
    for _ in range(_SEM_TRAIN_ITERS):
        members = _sem_assign(es, vscodes, c, bits).join(es.select("vec_id", "emb"), "vec_id")
        c = materialize(
            centroid_means(members, ["centroid_id"], "emb").selectExpr(
                "centroid_id", "c_emb", f"{IP_SPARK.format(a='c_emb', b='c_emb')} AS c_norm2"
            )
        )
    # A job barrier, not just reuse: without it the final assignment's
    # aggregate and the prune ran as one job with concurrent stages and
    # ran out of heap at 1000x. DISK_ONLY: corpus-sized frame.
    assigned = materialize(
        _sem_assign(e, vcodes, c, bits)
        .join(e, "vec_id")
        .select("vec_id", "centroid_id", "emb", "nrm"),
        big=True,
    )
    return assigned.groupBy("centroid_id").applyInPandas(
        _prune_cluster_pdf,
        "vec_id bigint, centroid_id bigint, kept boolean, pruned_by bigint",
    )


# ------------------------------------------- substring-span dedup

_SPAN_K = 5  # k-gram width (tokens)

_SPAN_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id, {TOKS_DUCK} AS toks FROM documents
    ), grams AS (
      SELECT doc_id, unnest(generate_series(1, len(toks) - {_SPAN_K - 1})) AS pos,
             toks
      FROM docs WHERE len(toks) >= {_SPAN_K}
    ), g AS (
      SELECT doc_id, pos,
             {hash60_duck(
                 "concat_ws(' ', "
                 + ", ".join(f"list_extract(toks, pos + {j})" for j in range(_SPAN_K))
                 + ")"
             )} AS gram_h
      FROM grams
    ), dup AS (
      SELECT gram_h FROM g GROUP BY gram_h HAVING COUNT(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT g.doc_id, g.pos,
             g.pos - ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS grp
      FROM g JOIN dup USING (gram_h)
    )
    SELECT doc_id, MIN(pos) AS span_start,
           MAX(pos) + {_SPAN_K - 1} AS span_end,
           MAX(pos) + {_SPAN_K} - MIN(pos) AS span_tokens,
           COUNT(*) AS n_grams
    FROM hits GROUP BY doc_id, grp
"""


@register("dedup_substring_spans", oracle=_SPAN_ORACLE)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al. 2022, k-gram form): maximal
    token spans whose every k-gram occurs in >= 2 distinct documents —
    the spans an exact-substring dedup pass would cut from the
    training mix (doc-level near-dup misses these when two long
    documents share only a paragraph). Gaps-and-islands merge:
    duplicated k-gram start positions, grouped by pos - row_number.

    Scale shape: inverted k-gram index (one groupBy on the gram key
    with map-side partial distinct), joined back to the position table.
    The key is a 60-bit md5 prefix of the gram TEXT, computed map-side
    before the exchange: the 100x sweep measured 1.8 GB of gram-text
    shuffle (VERDICT r3 #5); hashing cuts the shuffled key to 8 bytes.
    Both engines hash identically, so a (astronomically rare, ~n^2/2^61)
    colliding gram pair merges doc counts identically on both sides —
    and a false-positive span is exactly the error class a k-gram
    dedup already tolerates. The dup side carries exactly one row per
    duplicated gram, so the join is 1:1 per (doc, pos) — a boilerplate
    gram in 10k docs produces 10k rows total, NOT 10k^2 (contrast the
    pairwise jaccard join and its df cap). The island merge is one
    window + one aggregate, both keyed by doc_id."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"]).selectExpr("doc_id", f"{TOKS} AS toks")
    g = (
        docs.filter(F.expr(f"size(toks) >= {_SPAN_K}"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.expr(f"sequence(1, size(toks) - {_SPAN_K - 1})")).alias("pos"),
        )
        .selectExpr(
            "doc_id",
            "pos",
            hash60(
                "concat_ws(' ', "
                + ", ".join(f"element_at(toks, pos + {j})" for j in range(_SPAN_K))
                + ")"
            )
            + " AS gram_h",
        )
    )
    g = materialize(g, big=True)  # one row per (doc, gram): corpus-sized
    # "occurs in >= 2 distinct docs" == min(doc_id) != max(doc_id):
    # COUNT(DISTINCT doc_id) plans a partial DEDUP map keyed by every
    # (gram_h, doc_id) pair — grams are near-unique, so the map holds
    # ~every input row and the fourth-decade run OOMed inside it
    # (round 7). min/max partial-aggregate keyed by gram_h alone (one
    # 24-byte entry per gram, one exchange level fewer), and the dup
    # SET is provably identical, so the oracle keeps its literal
    # HAVING COUNT(DISTINCT doc_id) >= 2 form — dup feeds only a
    # semi-join, no reported value involves the count.
    dup = (
        g.groupBy("gram_h")
        .agg(F.min("doc_id").alias("d_min"), F.max("doc_id").alias("d_max"))
        .filter(F.col("d_min") != F.col("d_max"))
        .select("gram_h")
    )
    hits = g.join(dup, "gram_h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (_SPAN_K - 1)).alias("span_end"),
            (F.max("pos") + _SPAN_K - F.min("pos")).alias("span_tokens"),
            F.count("*").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens", "n_grams")
    )


# --------------------------------------- hashed linear classifier

_CLS_BUCKETS = 1024
# w(bucket) = ((bucket * 2654435761) % 2001 - 1000) / 1000 in [-1, 1]:
# a deterministic stand-in for trained fastText weights (Knuth
# multiplicative hash spreads buckets uniformly). Integer arithmetic
# end-to-end until the final divide, so both engines agree exactly.
_CLS_WMUL = 2654435761
_CLS_WMOD = 2001

_CLS_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({TOKS_DUCK}) AS token FROM documents
    ), feats AS (
      SELECT doc_id,
             {hash60_duck("token")} % {_CLS_BUCKETS} AS bucket
      FROM toks
    ), scored AS (
      SELECT doc_id,
             COUNT(*) AS n_toks,
             SUM((bucket * {_CLS_WMUL}) % {_CLS_WMOD} - 1000) AS w_sum
      FROM feats GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_toks, 0) AS n_toks,
           ROUND(1.0 / (1.0 + exp(-(COALESCE(s.w_sum, 0) / (1000.0 * GREATEST(COALESCE(s.n_toks, 0), 1))))), 6) AS score,
           ROUND(1.0 / (1.0 + exp(-(COALESCE(s.w_sum, 0) / (1000.0 * GREATEST(COALESCE(s.n_toks, 0), 1))))), 6) >= 0.5 AS keep
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
"""


@register("quality_classifier_hashed", oracle=_CLS_ORACLE)
def quality_classifier_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped quality classifier: hash each token into one of
    1024 buckets (md5, same 60-bit trick as the minhash stage), score a
    document as sigmoid(mean bucket weight), keep if score >= 0.5.
    Weights here are formula-derived (deterministic stand-in for a
    trained model) so the whole scorer is arithmetic — swapping real
    weights in means one broadcast map lookup, still JVM-side.

    Scale shape: explode -> map-side partial SUM/COUNT -> one shuffle
    keyed by doc_id; the weight "table" costs nothing (pure
    expression). Zero-token docs survive the LEFT JOIN with
    score = sigmoid(0) = 0.5 — the same empty-token guard the gopher
    oracle needed (ADVICE r2)."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"])
    feats = docs.selectExpr("doc_id", f"explode({TOKS}) AS token").selectExpr(
        "doc_id",
        f"{hash60('token')} % {_CLS_BUCKETS} AS bucket",
    )
    scored = feats.groupBy("doc_id").agg(
        F.count("*").alias("n_toks"),
        F.sum(F.expr(f"(bucket * {_CLS_WMUL}) % {_CLS_WMOD} - 1000")).alias("w_sum"),
    )
    score = (
        "ROUND(1.0 / (1.0 + exp(-(COALESCE(w_sum, 0) / "
        "(1000.0 * GREATEST(COALESCE(n_toks, 0), 1))))), 6)"
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "COALESCE(n_toks, 0) AS n_toks",
            f"{score} AS score",
            f"{score} >= 0.5 AS keep",
        )
    )


# ------------------------------------------------ per-domain cap

_DOMAIN_CAP = 15  # keep top-N docs per source (quality-ordered)

_DOMAIN_ORACLE = f"""
    SELECT doc_id, source, rank, rank <= {_DOMAIN_CAP} AS kept FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rank
      FROM documents
    )
"""


def _ranged_local_rank(d: DataFrame, nparts: int) -> DataFrame:
    """Stage 1-2 of the skew-safe exact rank: range-partition on the
    full (source, n_chars DESC, doc_id) ordering, then row_number per
    (range-partition id, source) — group width bounded by the balanced
    partition size no matter how skewed the source key is."""
    ranged = d.repartitionByRange(
        nparts, F.col("source"), F.col("n_chars").desc(), F.col("doc_id")
    ).withColumn("pid", F.spark_partition_id())
    w_local = Window.partitionBy("pid", "source").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return ranged.withColumn("local_rank", F.row_number().over(w_local))


def _rank_offsets(local: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Stage 3 of the skew-safe exact rank, shared by the domain-cap
    and percentile operators: per-(partition, source) counts (tiny —
    sources are contiguous under the range order) cumulated per source
    over ascending partition id. Returns (cnt, offs): offs carries
    each partition's rank offset to broadcast-join back; cnt also
    yields per-source totals for percentile denominators."""
    cnt = local.groupBy("pid", "source").agg(F.count("*").alias("cnt"))
    w_off = (
        Window.partitionBy("source")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cnt.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).select("pid", "source", "off")
    return cnt, offs


@register("domain_cap_documents", oracle=_DOMAIN_ORACLE)
def domain_cap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap, audit form: rank each source's
    documents by a quality proxy (n_chars DESC, doc_id tiebreak) and
    flag the top _DOMAIN_CAP — the standard guard against one crawl
    domain flooding the mix. Emits every doc with its rank and kept
    flag so the dropped set is auditable.

    Scale shape — range-partitioned exact ranking, NOT a per-source
    window. `row_number().over(partitionBy(source))` puts an entire
    domain in ONE task; a mega-domain (billions of docs behind one
    crawl host — the precise case this operator exists for) is a
    straggler/OOM, and AQE's skew handling does not apply to window
    partitions (VERDICT r3). Instead:

      1. repartitionByRange on the FULL rank ordering
         (source, n_chars DESC, doc_id) — doc_id is unique, so the
         ordering is total and the range partitioner can always split
         a mega-domain evenly across tasks;
      2. local row_number per (range-partition, source) — group width
         is bounded by the partition size regardless of domain skew;
      3. per-(partition, source) counts (tiny: sources are contiguous
         under the range order, so ~n_partitions + n_sources rows)
         cumulated per source over ascending partition id give each
         partition's rank offset, broadcast-joined back.

    Range order guarantees every row in partition i sorts before every
    row in partition i+1, so local_rank + offset IS the exact global
    per-source rank; AQE coalescing merges only adjacent range
    partitions, which preserves the invariant. Cost: two balanced
    shuffles of (doc_id, source, n_chars) + one broadcast — vs one
    shuffle with an unbounded straggler. The kept-set form that needs
    no ranks at all is domain_cap_kept below."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", "source", "n_chars")
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Materialized because both the offset aggregation and the final
    # join read it; the plan gate inspects _ranged_local_rank directly
    # (localCheckpoint truncates the visible plan to Scan ExistingRDD).
    local = materialize(_ranged_local_rank(d, nparts))
    _, offs = _rank_offsets(local)
    return (
        local.join(F.broadcast(offs), ["pid", "source"])
        .withColumn("rank", (F.col("local_rank") + F.col("off")).cast("int"))
        .select(
            "doc_id",
            "source",
            "rank",
            (F.col("rank") <= _DOMAIN_CAP).alias("kept"),
        )
    )


_DOMAIN_KEPT_ORACLE = f"""
    SELECT doc_id, source, rank FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rank
      FROM documents
    ) WHERE rank <= {_DOMAIN_CAP}
"""


@register("domain_cap_kept", oracle=_DOMAIN_KEPT_ORACLE)
def domain_cap_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap, kept-set form: emit ONLY the top _DOMAIN_CAP
    documents per source — the variant a production mix-builder
    actually feeds downstream (the audit form above keeps every row).

    Scale shape: because the rank filter is part of the operator,
    Catalyst rewrites the window into WindowGroupLimit (plan-gated in
    tests/test_plans.py): every map task keeps at most _DOMAIN_CAP
    rows per source BEFORE the exchange, so a billion-doc mega-domain
    ships ~cap rows per upstream partition instead of the whole
    domain, and the post-shuffle group is bounded by
    cap x n_map_partitions regardless of skew."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        t["documents"]
        .select("doc_id", "source", "n_chars")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _DOMAIN_CAP)
        .select("doc_id", "source", "rank")
    )


# ------------------------------------------ DSIR importance weights

# Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score every raw document by the log-likelihood
# ratio of a TARGET distribution vs the RAW distribution under a
# hashed bag-of-ngrams model, then resample the raw corpus toward the
# target. Here: unigram features hashed into _CLS_BUCKETS buckets (the
# classifier's md5 trick), target = the 'src1' slice (a deterministic
# stand-in for "a Wikipedia-quality seed set"), add-one smoothing.
_DSIR_TARGET = "src1"


def _dsir_oracle_xt(train_table: str, score_table: str) -> str:
    """The DSIR oracle: raw/target unigram models fit on `train_table`,
    every `score_table` row scored (the same relation for
    dsir_importance_weights and corpus_curation_pipeline_v3). A scored
    token can hash to a bucket the training rows never produced, so the
    log-ratio table spans the full 0..N-1 bucket spine with COALESCE(0)
    counts (add-one smoothing keeps every bucket finite)."""
    return f"""
    WITH t_toks AS (
      SELECT doc_id, source, unnest({TOKS_DUCK}) AS token FROM {train_table}
    ), t_feats AS (
      SELECT source,
             {hash60_duck("token")} % {_CLS_BUCKETS} AS bucket
      FROM t_toks
    ), raw AS (
      SELECT bucket, COUNT(*) AS cr FROM t_feats GROUP BY bucket
    ), tgt AS (
      SELECT bucket, COUNT(*) AS ct FROM t_feats
      WHERE source = '{_DSIR_TARGET}' GROUP BY bucket
    ), nt AS (SELECT COUNT(*) AS n FROM t_feats WHERE source = '{_DSIR_TARGET}'),
    nr AS (SELECT COUNT(*) AS n FROM t_feats),
    spine AS (SELECT unnest(generate_series(0, {_CLS_BUCKETS - 1})) AS bucket),
    lr AS (
      SELECT s.bucket,
             ROUND(ln(COALESCE(t.ct, 0) + 1) - ln(nt.n + {_CLS_BUCKETS})
                   - ln(COALESCE(r.cr, 0) + 1) + ln(nr.n + {_CLS_BUCKETS}), 6) AS lnr
      FROM spine s
      LEFT JOIN raw r USING (bucket) LEFT JOIN tgt t USING (bucket)
      CROSS JOIN nt CROSS JOIN nr
    ), s_feats AS (
      SELECT doc_id,
             {hash60_duck("token")} % {_CLS_BUCKETS} AS bucket
      FROM (SELECT doc_id, unnest({TOKS_DUCK}) AS token FROM {score_table})
    ), agg AS (
      SELECT f.doc_id, COUNT(*) AS n_toks,
             ROUND(CAST(SUM(CAST(lr.lnr AS DECIMAL(28,9))) AS DOUBLE), 6) AS log_weight
      FROM s_feats f JOIN lr USING (bucket) GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_toks, 0) AS BIGINT) AS n_toks,
           COALESCE(a.log_weight, 0.0) AS log_weight,
           COALESCE(a.log_weight, 0.0) >= 0 AS selected
    FROM {score_table} d LEFT JOIN agg a USING (doc_id)
"""


def _dsir_scores_xt(train_docs: DataFrame, score_docs: DataFrame) -> DataFrame:
    """Spark side of _dsir_oracle_xt: fit the bucket models on
    train_docs (doc_id, source, text), score score_docs. Both model
    tables are bounded at _CLS_BUCKETS rows (full spine) and
    broadcast; the only corpus-wide shuffle is the per-doc DECIMAL
    sum. Same rounding discipline as dsir_importance_weights."""
    t_feats = materialize(
        train_docs.selectExpr("source", f"explode({TOKS}) AS token").selectExpr(
            "source",
            f"{hash60('token')} % {_CLS_BUCKETS} AS bucket",
        )
    )
    spark = train_docs.sparkSession
    raw = t_feats.groupBy("bucket").agg(F.count("*").alias("cr"))
    tgt = (
        t_feats.filter(F.col("source") == _DSIR_TARGET)
        .groupBy("bucket")
        .agg(F.count("*").alias("ct"))
    )
    nt = t_feats.filter(F.col("source") == _DSIR_TARGET).agg(
        F.count("*").alias("n_t")
    )
    nr = t_feats.agg(F.count("*").alias("n_r"))
    spine = spark.range(_CLS_BUCKETS).select(F.col("id").alias("bucket"))
    lr = (
        spine.join(raw, "bucket", "left")
        .join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .selectExpr(
            "bucket",
            f"CAST(ROUND(ln(COALESCE(ct, 0) + 1) - ln(n_t + {_CLS_BUCKETS})"
            f" - ln(COALESCE(cr, 0) + 1) + ln(n_r + {_CLS_BUCKETS}), 6) AS DECIMAL(28,9)) AS lnr",
        )
    )
    s_feats = score_docs.selectExpr(
        "doc_id", f"explode({TOKS}) AS token"
    ).selectExpr(
        "doc_id",
        f"{hash60('token')} % {_CLS_BUCKETS} AS bucket",
    )
    agg = (
        s_feats.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.sum("lnr").cast("double"), 6).alias("log_weight"),
        )
    )
    return (
        score_docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(COALESCE(n_toks, 0) AS BIGINT) AS n_toks",
            "COALESCE(log_weight, 0.0D) AS log_weight",
            "COALESCE(log_weight, 0.0D) >= 0 AS selected",
        )
    )


@register("dsir_importance_weights", oracle=_dsir_oracle_xt("documents", "documents"))
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023): per-document log importance weight
    ln p_target(doc) - ln p_raw(doc) under add-one-smoothed hashed
    unigram models; `selected` marks docs the target model likes at
    least as much as the raw one (a deterministic stand-in for the
    paper's Gumbel-top-k resample). Both bucket tables hold at most
    _CLS_BUCKETS rows and are broadcast; the one corpus-wide shuffle is
    the per-doc DECIMAL sum, keyed by doc_id.

    Per-bucket log-ratios are rounded to 6 decimals before the
    order-independent DECIMAL sum, and the sum is emitted at that same
    scale: a 1-ulp JVM-vs-libm ln() difference sits far inside the
    grid, while a coarser final round lands on exact .5 cases that
    Spark (HALF_UP on the decimal) and DuckDB (binary double) break
    differently — 42 one-ulp-of-grid mismatches at sf0.1 before."""
    t = load_tables(spark, sf_dir)
    return _dsir_scores(spread(t["documents"]))


def _dsir_scores(docs: DataFrame) -> DataFrame:
    """DSIR over a (doc_id, source, text) frame: the models are fit on
    `docs` and every row of it is scored — the rows of
    _dsir_scores_xt(docs, docs), tokenizing `docs` once instead of
    twice. dsir_importance_weights feeds the documents table,
    corpus_curation_pipeline_v3 its capped survivors."""
    feats = materialize(
        docs.selectExpr("doc_id", "source", f"explode({TOKS}) AS token").selectExpr(
            "doc_id",
            "source",
            f"{hash60('token')} % {_CLS_BUCKETS} AS bucket",
        )
    )
    raw = feats.groupBy("bucket").agg(F.count("*").alias("cr"))
    tgt = (
        feats.filter(F.col("source") == _DSIR_TARGET)
        .groupBy("bucket")
        .agg(F.count("*").alias("ct"))
    )
    nt = feats.filter(F.col("source") == _DSIR_TARGET).agg(
        F.count("*").alias("n_t")
    )
    nr = feats.agg(F.count("*").alias("n_r"))
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .selectExpr(
            "bucket",
            f"CAST(ROUND(ln(COALESCE(ct, 0) + 1) - ln(n_t + {_CLS_BUCKETS})"
            f" - ln(cr + 1) + ln(n_r + {_CLS_BUCKETS}), 6) AS DECIMAL(28,9)) AS lnr",
        )
    )
    agg = (
        feats.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.sum("lnr").cast("double"), 6).alias("log_weight"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(COALESCE(n_toks, 0) AS BIGINT) AS n_toks",
            "COALESCE(log_weight, 0.0D) AS log_weight",
            "COALESCE(log_weight, 0.0D) >= 0 AS selected",
        )
    )


# --------------------------------- per-source quality percentile

_PCTL_ORACLE = """
    SELECT doc_id, source,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id), 6) AS pctl
    FROM documents
"""


@register("quality_percentile_by_source", oracle=_PCTL_ORACLE)
def quality_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-percentile calibration: each document's
    percent rank within its source under the quality ordering
    (n_chars DESC, doc_id) — the normalization step before mixing
    sources with different score distributions (keep "top 20% of each
    source" instead of one global threshold a verbose source would
    dominate).

    Scale shape: the same skew-safe exact-rank machinery as
    domain_cap_documents (_ranged_local_rank: range partition over the
    full ordering, local row_number, broadcast offsets) plus tiny
    per-source totals — a PERCENT_RANK window partitioned by source
    would put a mega-domain in one task. percent_rank ==
    (row_number - 1) / (n - 1) because the ordering is total (doc_id
    tiebreak); single-document sources score 0 in both engines."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", "source", "n_chars")
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    local = materialize(_ranged_local_rank(d, nparts))
    cnt, offs = _rank_offsets(local)
    totals = cnt.groupBy("source").agg(F.sum("cnt").alias("n_src"))
    return (
        local.join(F.broadcast(offs), ["pid", "source"])
        .join(F.broadcast(totals), "source")
        .selectExpr(
            "doc_id",
            "source",
            "CASE WHEN n_src = 1 THEN 0.0D ELSE"
            " ROUND((local_rank + off - 1) / CAST(n_src - 1 AS DOUBLE), 6)"
            " END AS pctl",
        )
    )


# --------------------------------- classifier training (round 5)

_LR_RATE = "0.1"  # learning rate, literal on both engines

_LR_TRAIN_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({TOKS_DUCK}) AS token FROM documents
    ), feats AS (
      SELECT doc_id,
             {hash60_duck("token")} % {_CLS_BUCKETS} AS bucket,
             COUNT(*) AS x
      FROM toks GROUP BY doc_id, bucket
    ), labels AS (
      SELECT doc_id, CASE WHEN source = '{_DSIR_TARGET}' THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    g1 AS (
      -- step 1: w0 = 0 so every p = sigmoid(0) = 0.5 exactly;
      -- (0.5 - y) * x lands on the 0.5 grid -> DECIMAL-exact sum
      SELECT f.bucket,
             SUM(CAST((0.5 - l.y) * f.x AS DECIMAL(28,1))) AS grad
      FROM feats f JOIN labels l USING (doc_id) GROUP BY f.bucket
    ), w1 AS (
      SELECT bucket,
             ROUND(-{_LR_RATE} * CAST(grad AS DOUBLE) / n.n_docs, 6) AS w
      FROM g1 CROSS JOIN n
    ), z AS (
      -- per-term product rounded to a 9-decimal grid, DECIMAL sum ->
      -- the dot product is order-independent on both engines
      SELECT f.doc_id,
             CAST(SUM(CAST(ROUND(w1.w * f.x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS z
      FROM feats f JOIN w1 USING (bucket) GROUP BY f.doc_id
    ), p AS (
      SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 6) AS p FROM z
    ), g2 AS (
      -- (p - y) sits on the 1e-6 grid; times an integer count it is
      -- exactly representable in DECIMAL(28,6) -> exact sum again
      SELECT f.bucket,
             SUM(CAST(p.p - l.y AS DECIMAL(18,6)) * f.x) AS grad
      FROM feats f JOIN p USING (doc_id) JOIN labels l USING (doc_id)
      GROUP BY f.bucket
    )
    SELECT w1.bucket,
           w1.w AS w_step1,
           ROUND(w1.w - {_LR_RATE} * CAST(g2.grad AS DOUBLE) / n.n_docs, 6) AS w_step2
    FROM w1 JOIN g2 USING (bucket) CROSS JOIN n
"""


@register("classifier_lr_train", oracle=_LR_TRAIN_ORACLE)
def classifier_lr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the hashed quality classifier in-engine: two full-batch
    gradient-descent steps of logistic regression over hashed unigram
    count features (y = doc is from the 'src1' seed source, the same
    target convention DSIR uses). Completes the classifier surface —
    quality_classifier_hashed applies fixed weights; this is where
    those weights come from when no external trainer is available, the
    fastText-at-100 TB story run as two aggregation passes.

    Scale shape: each step is one broadcast-joined pass over the
    (doc, bucket, count) features with a map-side-partial DECIMAL
    gradient sum into a table bounded at 1024 rows; the per-doc margin
    z is one more bounded-broadcast join + per-doc sum. Nothing ever
    shuffles more than (doc_id | bucket)-keyed narrow rows.

    Determinism: step 1 uses w0 = 0, so p = 0.5 EXACTLY and the
    gradient is a pure DECIMAL sum; step 2 rounds each dot-product
    term to a 9-decimal grid before the DECIMAL sum, rounds the
    sigmoid to 6 decimals (the 1-ulp exp() engine divergence sits ~5
    orders inside that grid — the perplexity op's argument), and
    (p - y) * count is exactly representable in DECIMAL(28,6)."""
    w, _feats = _lr_train_parts(spark, sf_dir)
    return w


def _lr_train_parts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """classifier_lr_train's body, returning (weights, feats) so the
    train-then-apply query can SCORE on the same checkpointed feature
    table training already built instead of re-running the
    tokenize/md5/count pass — one full corpus tokenization saved per
    composed run (round 11; guide §1.2 'don't compute things twice').
    Row-identical to recomputing: feats is deterministic per corpus."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"])
    feats = materialize(
        docs.selectExpr("doc_id", f"explode({TOKS}) AS token")
        .selectExpr(
            "doc_id",
            f"{hash60('token')} % {_CLS_BUCKETS} AS bucket",
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("x"))
    )
    labels = docs.selectExpr(
        "doc_id",
        f"CASE WHEN source = '{_DSIR_TARGET}' THEN 1.0D ELSE 0.0D END AS y",
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    g1 = (
        feats.join(labels, "doc_id")
        .groupBy("bucket")
        .agg(
            F.sum(((F.lit(0.5) - F.col("y")) * F.col("x")).cast("decimal(28,1)")).alias(
                "grad"
            )
        )
    )
    w1 = materialize(
        g1.crossJoin(F.broadcast(n)).selectExpr(
            "bucket",
            f"ROUND(-{_LR_RATE} * CAST(grad AS DOUBLE) / n_docs, 6) AS w",
        )
    )
    z = (
        feats.join(F.broadcast(w1), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("CAST(ROUND(w * x, 9) AS DECIMAL(28,9))"))
            .cast("double")
            .alias("z")
        )
    )
    p = z.selectExpr("doc_id", "ROUND(1.0D / (1.0D + exp(-z)), 6) AS p")
    g2 = (
        feats.join(p, "doc_id")
        .join(labels, "doc_id")
        .groupBy("bucket")
        .agg(
            F.sum(F.expr("CAST(p - y AS DECIMAL(18,6)) * x")).alias("grad")
        )
    )
    w = (
        w1.join(g2, "bucket")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "bucket",
            "w AS w_step1",
            f"ROUND(w - {_LR_RATE} * CAST(grad AS DOUBLE) / n_docs, 6) AS w_step2",
        )
    )
    return w, feats


_CLS_TRAINED_ORACLE = f"""
    WITH trained AS ({_LR_TRAIN_ORACLE}),
    toks AS (
      SELECT doc_id, unnest({TOKS_DUCK}) AS token FROM documents
    ), feats AS (
      SELECT doc_id,
             {hash60_duck("token")} % {_CLS_BUCKETS} AS bucket,
             COUNT(*) AS x
      FROM toks GROUP BY doc_id, bucket
    ), z AS (
      SELECT f.doc_id,
             CAST(SUM(CAST(ROUND(t.w_step2 * f.x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS z
      FROM feats f JOIN trained t USING (bucket) GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           ROUND(1.0 / (1.0 + exp(-COALESCE(z.z, 0))), 6) AS score,
           ROUND(1.0 / (1.0 + exp(-COALESCE(z.z, 0))), 6) >= 0.5 AS keep
    FROM documents d LEFT JOIN z USING (doc_id)
"""


@register("quality_classifier_trained", oracle=_CLS_TRAINED_ORACLE)
def quality_classifier_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full train-then-apply loop: score every document under the
    weights classifier_lr_train just produced (w_step2) — sigmoid of
    the hashed-count dot product, keep at score >= 0.5. Together with
    quality_classifier_hashed (fixed external weights) this covers
    both provenances a production gate has: weights shipped in, or
    weights trained in-engine on the corpus's own seed labels.

    Scale shape: training's bounded passes plus ONE scoring pass — the
    1024-row trained weight table broadcasts, the per-doc margin is a
    map-side-partial DECIMAL sum keyed by doc_id. Same 9-decimal-grid
    dot product and 6-decimal sigmoid as the trainer, so the composed
    oracle stays hash-exact."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"])
    # Round 11: score on the SAME checkpointed feature table training
    # built (row-identical by determinism) — previously this block
    # re-ran the whole tokenize/explode/md5/count pipeline, a second
    # full corpus tokenization per composed run.
    trained, feats = _lr_train_parts(spark, sf_dir)
    w = materialize(trained.select("bucket", "w_step2"))
    z = (
        feats.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("CAST(ROUND(w_step2 * x, 9) AS DECIMAL(28,9))"))
            .cast("double")
            .alias("z")
        )
    )
    return (
        docs.select("doc_id")
        .join(z, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "ROUND(1.0D / (1.0D + exp(-COALESCE(z, 0.0D))), 6) AS score",
            "ROUND(1.0D / (1.0D + exp(-COALESCE(z, 0.0D))), 6) >= 0.5 AS keep",
        )
    )
