"""Graph analytics over the near-dup similarity graph — triangle
counting and PageRank. The dedup pipeline's pair list IS a graph;
cluster-quality diagnostics (triangle density, influence scores) are
standard follow-ons in a large-scale dedup run.

Reference has no graph operators (SURVEY §2.B: one map->reduce pass is
the whole dataflow); [EXT] scope. Both queries reuse dedup_minhash_lsh
as the edge source so the whole chain stays oracle-checked.

Scale notes:
- triangle counting uses the degree-oriented wedge algorithm (each
  triangle counted at exactly one apex, edges oriented low-degree ->
  high-degree) — the join fan-out is sum(out_deg²) with out-degrees
  capped by orientation, not sum(deg²) which explodes on hubs;
- PageRank's one step is join + aggregate partitioned on the node key,
  the same iterative shape as operators/components.py (materialize per
  round when iterating).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducecore_spark.llm import minhash
from mapreducecore_spark.operators.graph import pagerank, triangle_count
from mapreducecore_spark.queries import register
from mapreducecore_spark.queries.llm import dedup_minhash_lsh


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH p AS ({minhash.pairs_duck()})
    SELECT COUNT(*) AS n_triangles FROM p e1
    JOIN p e2 ON e2.doc_a = e1.doc_a AND e2.doc_b > e1.doc_b
    JOIN p e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the near-dup graph (cluster-density diagnostic).
    Degree-oriented (operators/graph.py): orient each edge from its
    (degree, id)-smaller endpoint; every triangle then has exactly one
    apex with two out-edges, so count = wedges whose closing edge
    exists."""
    return triangle_count(dedup_minhash_lsh(spark, sf_dir), src="doc_a", dst="doc_b")


@register(
    "graph_pagerank_step",
    oracle=f"""
    WITH p AS ({minhash.pairs_duck()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM p
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM p
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u)
    SELECT e.v AS node,
           ROUND(0.15 + 0.85 * SUM(1.0 / deg.d), 6) AS pr
    FROM edges e JOIN deg ON deg.u = e.u
    GROUP BY e.v
    """,
)
def graph_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank iteration from the uniform start (pr0 = 1): each
    node's score is damped in-flow of neighbors' 1/degree. The
    join+agg shape is the per-round cost of full PageRank
    (operators/graph.py iterates it with lineage truncation exactly
    like connected_components)."""
    return pagerank(
        dedup_minhash_lsh(spark, sf_dir), src="doc_a", dst="doc_b", n_iter=1
    )


_PR_ITERS = 4
_PR_SCALE = 1_000_000  # rank fixed-point scale

# One iteration of exact integer PageRank as SQL: new rank of v =
# 0.15*S + 0.85 * sum over in-neighbors u of (r_u div d_u), all in
# BIGINT integer division — bit-identical on any engine and any
# summation order, which is what makes a 4-iteration fixed point
# value-hashable cross-engine (float PageRank would drift in low bits).
_PR_STEP_DUCK = """
    SELECT e.v AS node,
           150000 + (85 * SUM({prev}.r // d.d)) // 100 AS r
    FROM edges e
    JOIN deg d ON d.u = e.u
    JOIN {prev} ON {prev}.node = e.u
    GROUP BY e.v
"""


def _pr_oracle() -> str:
    steps = []
    for i in range(1, _PR_ITERS + 1):
        prev = f"pr{i-1}"
        steps.append(f"pr{i} AS ({_PR_STEP_DUCK.format(prev=prev)})")
    return f"""
    WITH p AS ({minhash.pairs_duck()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM p
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM p
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    pr0 AS (SELECT DISTINCT u AS node, {_PR_SCALE}::BIGINT AS r FROM edges),
    {", ".join(steps)}
    SELECT node, CAST(r AS BIGINT) AS pr_scaled FROM pr{_PR_ITERS}
    """


@register("graph_pagerank_converged", oracle=_pr_oracle())
def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-iteration PageRank over the near-dup graph in EXACT
    fixed-point arithmetic: ranks are integers scaled by 1e6, each
    iteration is r' = 0.15*S + 0.85 * sum(r_u div d_u) computed with
    BIGINT integer division, so the 4-iteration result is bit-identical
    regardless of engine or reduction order — an iterative algorithm
    with a full value oracle (chained per-iteration CTEs; recursive
    aggregation isn't SQL-standard). The Spark loop is the
    connected-components shape: edges+degrees materialized once,
    join+agg per round, lineage truncated per iteration."""
    from mapreducecore_spark.queries._util import materialize

    pairs = materialize(dedup_minhash_lsh(spark, sf_dir))
    edges = pairs.selectExpr("doc_a AS u", "doc_b AS v").unionAll(
        pairs.selectExpr("doc_b AS u", "doc_a AS v")
    )
    edges = materialize(edges)
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    # Degrees ride along with the contribution edge list: join once,
    # reuse every round.
    ed = materialize(edges.join(deg, "u"))
    pr = edges.selectExpr("u AS node").distinct().withColumn(
        "r", F.lit(_PR_SCALE).cast("long")
    )
    for _ in range(_PR_ITERS):
        pr = (
            ed.join(pr.withColumnRenamed("node", "u"), "u")
            .groupBy("v")
            .agg(F.expr("150000 + (85 * sum(r div d)) div 100").alias("r"))
            .withColumnRenamed("v", "node")
        )
        pr = materialize(pr)
    return pr.select("node", F.col("r").cast("long").alias("pr_scaled"))
