"""Embedding math — the one implementation behind every vector
operator (`ann_*`, `kmeans_assign_seeded`, `semdedup_prune`,
`embedding_neardup_pairs`), in Spark and in its DuckDB oracles.

Contract, identical on both engines:
- `embedding` is cast elementwise to DOUBLE (`EMB_SPARK` / `EMB_DUCK`);
- the inner product is a left-to-right fold of the elementwise
  products (`IP_SPARK` / `IP_DUCK`), so both engines return the same
  double (tests/test_vector_core.py checks bit equality);
- cosine is a.b / (|a||b|) and NULL when either norm is zero
  (`COS_SPARK` / `COS_DUCK`);
- squared L2 is |a|^2 - 2a.b + |b|^2 rounded to 5 decimals (`l2sq`):
  the rounding pins argmin ties to the same candidates on both engines;
- a Lloyd mean is the per-dimension DECIMAL(38,20) sum over the
  members divided by their count (`centroid_means` /
  `centroid_means_duck`): exact and order-independent, so trained
  centroids are bit-identical across engines.

Sign-LSH (random-hyperplane family, here deterministic coordinate-pair
hyperplanes e[i] - e[i+32]): P[bit agrees] = 1 - angle/pi. One k-bit
table has recall p^k, so L tables give 1 - (1-p^k)^L — at cosine 0.9,
4 tables x 8 bits ≈ 0.75 recall; at 0.95 ≈ 0.9. Each table is a plain
equi-join on (table, code): candidate count scales with bucket
occupancy, never O(n²). Brute force (ann_cosine_topk) stays as the
exact baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_TABLES = 4
BITS = 8
MAX_BITS = 16  # widest per-table code the hyperplane pool supports
_HALF = 32  # hyperplane pairs (i, i+32) over 64-dim embeddings

EMB_SPARK = "transform(embedding, x -> CAST(x AS DOUBLE))"
EMB_DUCK = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
VECTORS_DUCK = f"SELECT vec_id, {EMB_DUCK} AS emb FROM embeddings"

IP_SPARK = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
IP_DUCK = "list_inner_product({a}, {b})"

# nullif: a zero-norm vector yields NULL as in DuckDB (x/0 -> NULL),
# not Spark's IEEE NaN. NULL sims sort last under DESC and fail >=
# thresholds on both engines, so zero vectors never rank.
_SUMSQ_SPARK = "aggregate(transform({a}, x -> x * x), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
COS_SPARK = (
    f"{IP_SPARK} / nullif(sqrt({_SUMSQ_SPARK}) * sqrt({_SUMSQ_SPARK.format(a='{b}')}),"
    " CAST(0 AS DOUBLE))"
)
COS_DUCK = (
    f"{IP_DUCK} / (sqrt({IP_DUCK.format(a='{a}', b='{a}')})"
    f" * sqrt({IP_DUCK.format(a='{b}', b='{b}')}))"
)


def l2sq(ip: str, a: str, b: str, bb: str | None = None) -> str:
    """Rounded |a - b|^2 with inner product `ip` (IP_SPARK or IP_DUCK);
    `bb` names a precomputed |b|^2 column."""
    return (
        f"ROUND({ip.format(a=a, b=a)} - 2 * {ip.format(a=a, b=b)}"
        f" + {bb or ip.format(a=b, b=b)}, 5)"
    )


def vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, emb) of an embeddings table, emb as array<double>."""
    return embeddings.selectExpr("vec_id", f"{EMB_SPARK} AS emb")


def centroid_means(members: DataFrame, keys: list[str], vec: str) -> DataFrame:
    """(*keys, c_<vec>): the Lloyd mean of array column `vec` over each
    `keys` group of `members`. One (keys, pos) aggregate, partial
    map-side, so the exchange carries groups x dims cells whatever the
    member count; a group with no members has no row. `keys` must not
    use the names pos, val or cv."""
    dims = (
        members.select(*keys, F.posexplode(vec).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(38,20)")).cast("double") / F.count("*")
            ).alias("cv")
        )
    )
    # The lambda variable is underscored so it cannot shadow a key.
    return dims.groupBy(*keys).agg(
        F.expr("transform(array_sort(collect_list(struct(pos, cv))), _pc -> _pc.cv)").alias(
            f"c_{vec}"
        )
    )


def centroid_means_duck(members: str, keys: list[str], vec: str) -> str:
    """DuckDB form of `centroid_means` over the relation `members` (a
    CTE name or a parenthesised SELECT). DuckDB's direct DOUBLE <->
    DECIMAL casts scale in double arithmetic and are off by an ulp on
    about one value in five, so both conversions go through VARCHAR:
    shortest repr in and correctly rounded out, as Spark does."""
    k = ", ".join(keys)
    dec = f"CAST(CAST({vec}[idx] AS VARCHAR) AS DECIMAL(38,20))"
    return f"""SELECT {k}, list(cv ORDER BY idx) AS c_{vec} FROM (
        SELECT {k}, idx,
               CAST(CAST(SUM({dec}) AS VARCHAR) AS DOUBLE) / COUNT(*) AS cv
        FROM (SELECT *, unnest(generate_series(1, len({vec}))) AS idx FROM {members})
        GROUP BY {k}, idx)
      GROUP BY {k}"""


def _hyperplane(table: int, i: int) -> tuple[int, int]:
    """Coordinate pair (1-based) for bit i of `table`'s code.

    Bits 1..8 are the original family (lo = table*8 + i vs lo + 32) so
    every default-BITS caller — and every static oracle SQL string
    built from it — is byte-identical to the pre-parameterized form.
    Bits 9..16 draw from a disjoint reserve pool of +16-offset pairs
    (r, r + 16) with r rotated one table-band forward:
    r = ((table*8 + (i-8) - 1 + 8) mod 32) + 1. The rotation makes a
    table's reserve coordinates DISJOINT from its own primary {lo, hi}
    set (ADVICE r8: without it, reserve bit i shared its lo coordinate
    with primary bit i-8, correlating every wide-code extra bit with an
    existing bit and splitting buckets less evenly on correlated
    embeddings); table t's reserve r-band {t'*8+1..t'*8+8, t'=(t+1)%4}
    never meets its primary lo-band {t*8+1..t*8+8} or hi-band (+32),
    and r+16 lands outside both as well (verified exhaustively in
    tests/test_llm_ops.py). Cross-table reuse remains (the pool is only
    64 coordinates wide) but union-recall across tables is insensitive
    to it. Wide codes exist for the corpus-adaptive semdedup assignment
    (bits grows with K so centroids-per-bucket stays bounded); a b-bit
    code equals the MAX_BITS code modulo 2^b by bit-positional
    construction, which is how the DuckDB oracle expresses a
    data-dependent width — the oracle calls this same function, so the
    rotation holds identically in both engines."""
    if i <= BITS:
        lo = table * BITS + i
        return lo, lo + _HALF
    r = ((table * BITS + (i - BITS) - 1 + BITS) % 32) + 1
    return r, r + 16


def _code_expr(table: int, elem_fn: str, emb: str = "emb", bits: int = BITS) -> str:
    """bits-wide sign code for one table over the _hyperplane pool."""
    terms = []
    for i in range(1, bits + 1):
        lo, hi = _hyperplane(table, i)
        terms.append(
            f"(CASE WHEN {elem_fn}({emb}, {lo}) >= {elem_fn}({emb}, {hi}) "
            f"THEN {1 << (i - 1)} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def spark_code_expr(table: int, emb: str = "emb", bits: int = BITS) -> str:
    return _code_expr(table, "element_at", emb, bits)


def duck_code_expr(table: int, emb: str = "emb", bits: int = BITS) -> str:
    return _code_expr(table, "list_extract", emb, bits)


def spark_tables_expr(emb: str = "emb", bits: int = BITS) -> str:
    """Array of (table, code) structs — explode to get one row per table."""
    entries = ", ".join(
        f"struct({t} AS tbl, {spark_code_expr(t, emb, bits)} AS code)"
        for t in range(N_TABLES)
    )
    return f"array({entries})"


def duck_tables_select(emb: str = "emb", mask: str | None = None) -> str:
    """DuckDB: one (tbl, code) per table via parallel unnest.

    `mask` (a SQL expression, typically a scalar subquery yielding
    2^bits) selects a DATA-DEPENDENT code width: codes are generated
    at MAX_BITS and reduced modulo the mask, which equals generating
    the narrower code directly (bit i contributes 2^(i-1), so mod 2^b
    keeps exactly bits 1..b). Without a mask this emits the default
    8-bit family, byte-identical to the pre-parameterized generator —
    the static ANN oracle strings depend on that."""
    tbls = ", ".join(str(t) for t in range(N_TABLES))
    if mask is None:
        codes = ", ".join(duck_code_expr(t, emb) for t in range(N_TABLES))
    else:
        codes = ", ".join(
            f"({duck_code_expr(t, emb, MAX_BITS)} % ({mask}))" for t in range(N_TABLES)
        )
    return f"unnest([{tbls}]) AS tbl, unnest([{codes}]) AS code"


def add_lsh_codes(df, emb_col: str = "emb", bits: int = BITS):
    """Explode a vector DataFrame to one row per (vector, table) with
    its bucket code. Input must carry `emb` as array<double>."""
    cols = [c for c in df.columns if c != emb_col]
    return df.selectExpr(
        *cols,
        emb_col,
        f"explode({spark_tables_expr(emb_col, bits)}) AS tc",
    ).selectExpr(*cols, emb_col, "tc.tbl AS tbl", "tc.code AS code")
