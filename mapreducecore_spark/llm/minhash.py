"""MinHash signatures and LSH bands — the one implementation behind
every near-dup operator, in Spark and in its DuckDB oracles.

Contract, identical on both engines:
- tokens are the strtok split of `text` (TOKS / TOKS_DUCK); a document
  with >= 3 tokens has the distinct space-joined 3-token shingles;
- each shingle hashes once to h = the first 15 hex digits of its md5,
  a non-negative 60-bit BIGINT (`hash60` / `hash60_duck`);
- seed s permutes h as (a_s*h + b_s) mod P with P = 2^61 - 1,
  a_s = 2s + 1, b_s = 1000003*s + 17 (`permute`, pure int64, no
  DECIMAL); signature component s is the min over the document's h;
- SEEDS = 8 components form 4 bands of 2 rows: band b's signature is
  the string mhs[2b] || ':' || mhs[2b+1] (`bands`, `bands_duck`);
- a (band_id, sig) bucket has width `bw` and representative `rep`,
  its min doc_id (`bucket_stats`, `bands_duck(banded=True)`); a
  document matches every other member of a bucket of width
  <= MAX_BUCKET but only the `rep` of a wider one (`MATCHABLE`: the
  match index keeps a wide bucket's `rep` row alone; `match_index`,
  `matches`, `matches_duck`), so a giant exact-dup cluster yields star
  edges, not a quadratic clique. `pairs_duck` is every such candidate
  pair, the oracle of the Spark pair emitter in queries/llm.py (which
  decides the same rule in-row).

Two Spark signature builders, picked by the call site:
- `signatures(docs)`: explode + one min() per seed aggregate —
  whole-stage codegen, so it wins where only signatures are needed
  (flagship at 3000x: 228.5 s vs 336.4 s in-row; BASELINE.md round 11);
- `inrow_signatures()`: array_min(transform(hs, ...)) per seed over
  an in-row hash set (`hashes`) — no doc_id exchange and no collect_set
  sort fallback (scorers at 3000x: spill 16.3 -> 9.1 GB), and the only
  form a stream can run without a stateful aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapreducecore_spark.functions.text import SPLIT_REGEX, SPLIT_REGEX_SQL

SEEDS = 8  # 4 bands x 2 rows
N_BANDS = SEEDS // 2

# One md5 per shingle -> 60-bit int h; per-seed minhash is a linear
# permutation (a_s*h + b_s) mod (2^61-1) in DECIMAL(38,0) — exact and
# identical on both engines, ~8x fewer hash computations than hashing
# per (seed, shingle).
P = 2305843009213693951

# Degenerate-bucket guard: a huge exact-dup cluster puts thousands of
# docs into one (band_id, sig) bucket; an unguarded self-join emits
# O(n^2) clique pairs there (the same failure class the simhash band
# join hit at 10x data — llm/simhash.py:58). For buckets wider than
# MAX_BUCKET we emit STAR edges (bucket-min doc_id paired with
# every other member) instead: O(n) edges, identical connected
# components downstream (llm.py dedup_connected_components).
MAX_BUCKET = 200

# The star guard as one SQL predicate over bucket-annotated band rows,
# the same text on both engines: the rows a match index keeps.
MATCHABLE = f"bw <= {MAX_BUCKET} OR doc_id = rep"

# Tokens as a SQL expression shared by the shingle-based ops.
# (backslash-escape the single quote for Spark SQL string literals)
_SPLIT_SPARK_SQL = SPLIT_REGEX.replace("'", "\\'")
TOKS = f"filter(split(text, '{_SPLIT_SPARK_SQL}'), x -> x <> '')"
TOKS_DUCK = f"list_filter(string_split_regex(text, '{SPLIT_REGEX_SQL}'), x -> x <> '')"


def shingles(n: int) -> str:
    """Spark SQL: distinct n-token shingles (space-joined) of `toks`."""
    parts = ", ".join(f"element_at(toks, i + {j})" for j in range(n))
    return (
        f"array_distinct(transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})))"
    )


def shingles_duck(n: int) -> str:
    parts = ", ".join(f"list_extract(toks, i + {j})" for j in range(n))
    return (
        f"list_distinct(list_transform(generate_series(1, len(toks) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})))"
    )


def hash60(expr: str) -> str:
    """Spark SQL: md5 of a string -> its first 60 bits as a BIGINT."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def hash60_duck(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def permute(h_expr: str, seed: int) -> str:
    """(h * a + b) mod P in PURE int64 — bit-identical to the former
    DECIMAL(38,0) form (property-tested over the full 60-bit h domain)
    but allocation-free. P = 2^61 - 1 is Mersenne, so h*a (up to 65
    bits for a <= 15) folds without overflow: with x = (h >> 32) * a,
    x * 2^32 = (x >> 29) * 2^61 + (x & (2^29-1)) * 2^32 and
    2^61 ≡ 1 (mod P), every intermediate stays under 2^62. The fourth-
    decade sweep (round 7) caught the DECIMAL form: precision-38
    decimals are JVM BigDecimals, and ~5.4B allocating mul/mod calls
    turned the flagship GC-bound (GCLocker retry storms, 6.1x wall for
    3x data while shuffle bytes stayed perfectly linear). Measured
    2.7x end-to-end on a 100M-row x 8-seed microbench (the shared md5
    dominates what remains). The expression is dialect-neutral: >>,
    <<, &, % behave identically on BIGINT in Spark and DuckDB, and
    `h_expr` must be a SIMPLE column/lambda var (it is repeated four
    times). Both engines inherit the change, so every minhash value —
    and every oracle built on one — is unchanged."""
    a, b = 2 * seed + 1, 1000003 * seed + 17
    h = h_expr
    return (
        f"(((({h} >> 32) * {a}) >> 29)"
        f" + (((({h} >> 32) * {a}) & 536870911) << 32)"
        f" + ({h} & 4294967295) * {a} + {b}) % {P}"
    )


def signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mhs) for a (doc_id, toks) frame: the aggregate form."""
    sh = (
        docs.filter(F.expr("size(toks) >= 3"))
        .selectExpr("doc_id", f"explode({shingles(3)}) AS shingle")
        .selectExpr("doc_id", f"{hash60('shingle')} AS h")
    )
    # All 8 minhashes in ONE aggregation (8 min() columns) — a single
    # shuffle keyed by doc_id, no seed explosion/join. Partial min()
    # runs map-side, so shuffle volume is n_docs x 8 ints regardless of
    # shingle count; one md5 per shingle, 8 arithmetic permutations.
    # (Round 11 tried the in-row array_min(transform(...)) form here
    # and measured it ~1.5x SLOWER at 3000x on the flagship — SQL
    # higher-order lambdas are interpreted, not codegen'd, and this
    # mhs-only aggregate has no sort-fallback spill to save. In-row is
    # only a win for the collect_set branch of _minhash_member_rows.)
    return sh.groupBy("doc_id").agg(
        F.array(*[F.min(F.expr(permute("h", s))) for s in range(SEEDS)]).alias("mhs")
    )


def hashes(docs: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, *keep, hs): the distinct shingle hashes of each
    document with >= 3 tokens, as an in-row array."""
    return docs.filter(F.expr("size(toks) >= 3")).selectExpr(
        "doc_id", *keep, f"array_distinct(transform({shingles(3)}, s -> {hash60('s')})) AS hs"
    )


def inrow_signatures() -> Column:
    """The signature array of a row's in-row hash set `hs`."""
    # The outer array is a Column, not SQL text: after an `array(`,
    # `map(` or `struct(` keyword, Spark 4.1's lexer reads `>>` as two
    # closing type brackets, so permute() must be parsed on its own.
    return F.array(
        *[F.expr(f"array_min(transform(hs, h -> {permute('h', s)}))") for s in range(SEEDS)]
    )


def band_structs() -> Column:
    """array<struct<band_id, sig>> of a row's `mhs`, one per band."""
    mhs = F.col("mhs")
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(":", mhs[2 * b], mhs[2 * b + 1]).alias("sig"),
            )
            for b in range(N_BANDS)
        ]
    )


def bands(sigs: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, *keep, band_id, sig): one row per (document, band) —
    also the schema of the persisted band index."""
    return sigs.select("doc_id", *keep, F.explode(band_structs()).alias("b")).select(
        "doc_id", *keep, "b.band_id", "b.sig"
    )


def bands_duck(src: str = "documents", prefix: str = "", banded: bool = False) -> str:
    """DuckDB CTE chain {p}docs -> {p}sh -> {p}mh (mh0..mh7) -> {p}bands
    (doc_id, band_id, sig) over `src` (a relation, optionally with a
    WHERE); `banded` appends {p}banded, each band row with its bucket
    width `bw` and representative `rep` (the bucket's min doc_id)."""
    p = prefix
    mins = ", ".join(f"MIN({permute('h', s)}) AS mh{s}" for s in range(SEEDS))
    band_ids = ", ".join(str(b) for b in range(N_BANDS))
    sigs = ", ".join(
        f"CAST(mh{2 * b} AS VARCHAR) || ':' || CAST(mh{2 * b + 1} AS VARCHAR)"
        for b in range(N_BANDS)
    )
    chain = f"""{p}docs AS (
      SELECT doc_id, {TOKS_DUCK} AS toks FROM {src}
    ), {p}sh AS (
      SELECT doc_id, {hash60_duck(f"unnest({shingles_duck(3)})")} AS h
      FROM {p}docs WHERE len(toks) >= 3
    ), {p}mh AS (
      SELECT doc_id, {mins} FROM {p}sh GROUP BY doc_id
    ), {p}bands AS (
      SELECT doc_id, band_id, sig FROM (
        SELECT doc_id, unnest([{band_ids}]) AS band_id, unnest([{sigs}]) AS sig
        FROM {p}mh)
    )"""
    if not banded:
        return chain
    return f"""{chain}, {p}banded AS (
      SELECT doc_id, band_id, sig,
             COUNT(*) OVER (PARTITION BY band_id, sig) AS bw,
             MIN(doc_id) OVER (PARTITION BY band_id, sig) AS rep
      FROM {p}bands
    )"""


def bucket_stats(bands: DataFrame) -> DataFrame:
    """(doc_id, band_id, sig, bw, rep): band rows annotated with their
    bucket's width and representative, one window pass keyed on
    (band_id, sig)."""
    wb = Window.partitionBy("band_id", "sig")
    return bands.select(
        "doc_id",
        "band_id",
        "sig",
        F.count("*").over(wb).alias("bw"),
        F.min("doc_id").over(wb).alias("rep"),
    )


def match_index(banded: DataFrame) -> DataFrame:
    """(band_id, sig, match_id): the MATCHABLE rows of a `bucket_stats`
    frame. A wide bucket contributes one row, so the index holds no
    duplicate (band_id, sig, match_id)."""
    return banded.filter(MATCHABLE).select("band_id", "sig", F.col("doc_id").alias("match_id"))


def match_index_duck(banded: str) -> str:
    """DuckDB SELECT of `match_index` over relation `banded`."""
    return f"SELECT band_id, sig, doc_id AS match_id FROM {banded} WHERE {MATCHABLE}"


def matches(new_bands: DataFrame, index: DataFrame) -> DataFrame:
    """(new_id, *keep, match_id): band rows (doc_id, band_id, sig,
    *keep) of the documents to check, joined to a match index, self-
    matches dropped. Not de-duplicated (a pair can share several
    bands): batch callers distinct(), streams dropDuplicates."""
    return (
        new_bands.join(index, ["band_id", "sig"])
        .filter(F.col("doc_id") != F.col("match_id"))
        .withColumnRenamed("doc_id", "new_id")
        .drop("band_id", "sig")
    )


def matches_duck(src: str = "documents", new: str | None = None) -> str:
    """DuckDB query (new_id, match_id), de-duplicated: the documents of
    relation `new` (default: `src` itself) against the match index of
    `src` (a relation, optionally with a WHERE)."""
    chain = bands_duck(src, banded=True)
    if new is not None:
        chain += ", " + bands_duck(new, "n_")
    return f"""
    WITH {chain}, idx AS ({match_index_duck("banded")})
    SELECT DISTINCT n.doc_id AS new_id, i.match_id
    FROM {"bands" if new is None else "n_bands"} n JOIN idx i USING (band_id, sig)
    WHERE n.doc_id <> i.match_id
"""


def pairs_duck(src: str = "documents") -> str:
    """DuckDB query (doc_a, doc_b), doc_a < doc_b: every guarded
    candidate pair of `src` — each small bucket's clique and each wide
    bucket's star to its `rep`, de-duplicated across bands."""
    return f"""
    SELECT DISTINCT least(new_id, match_id) AS doc_a,
                    greatest(new_id, match_id) AS doc_b
    FROM ({matches_duck(src)})
"""
