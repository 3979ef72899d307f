"""Connected components by iterative min-label propagation.

The dedup pipeline's final step: near-dup PAIRS (MinHash/SimHash band
collisions) must become dup GROUPS — i.e. connected components of the
similarity graph — so one canonical doc survives per group. The
reference has no iterative operators at all (its only dataflow is one
map->reduce pass, SURVEY §2.B); this is [EXT] scope from the north
star's dedup requirement.

Algorithm (scale stance): classic label propagation — every node starts
labeled with itself; each round every node takes the min label among
itself and its neighbors; converged when no label changes. Rounds =
graph diameter (dup clusters are shallow: usually 2-4 rounds). Each
round is one join + one aggregate, both partitioned on the node key;
`materialize` truncates the growing lineage so round N doesn't replay
rounds 1..N-1 (the standard iterative-Spark pattern; GraphX/GraphFrames
do the same under the hood).

Convergence detection costs no extra join: the per-node aggregate
carries the PREVIOUS label alongside the new min (rows from the old
label table are tagged before the union), so "did anything change" is
a filter-count over the just-materialized result — a driver-side
scalar per round, not a second shuffle.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducecore_spark.queries._util import materialize


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    n_partitions: int | None = None,
    reliable_checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume_from: DataFrame | None = None,
) -> DataFrame:
    """Components of the undirected graph given by `pairs`.

    Returns DataFrame[node, component] where component is the minimum
    node id reachable from `node`. Only nodes that appear in some pair
    are returned (isolated docs are their own trivial component and
    need no row).

    n_partitions sizes every shuffle in the loop (default: edge-count-
    scaled — ~1.5M symmetric edge rows per partition, floored at the
    session's default parallelism / 8, capped at 2048). Round 1
    propagates one message per edge, so the loop wants the full shuffle
    width — narrower settings measurably serialized the round-1 groupBy
    at the 100x sweep (8 -> 32 partitions: 71 s -> ~60 s on the same
    graph) — and the width must GROW with the graph: explicit
    repartition(N, key) is invisible to AQE, and the round-6
    three-decade sweep showed fixed-width loop shuffles go spill-bound
    in the third decade.

    Durability: per-round `materialize` is `localCheckpoint` — executor
    block storage, fast but NOT fault-tolerant (an executor loss drops
    blocks and kills the job mid-iteration). For long cluster runs pass
    `reliable_checkpoint_dir` (HDFS/S3): every `checkpoint_every` rounds
    the label table is written through `df.checkpoint()` to that
    directory, so recovery replays at most `checkpoint_every - 1` cheap
    rounds instead of the whole lineage. The trade is one durable
    write + read per k rounds vs restart-from-zero on failure — at
    100 TB the write is tiny (labels are 2 long columns) and the
    restart is hours, so set it.

    Restart: `resume_from` seeds the loop with a previously saved
    label table (DataFrame[node, label]) instead of the identity
    seeding — the recovery entry point after a driver/job loss. A
    production run persists `labels` alongside the reliable checkpoint
    (2 long columns, tiny); on restart, pass the read-back table.
    Min-label propagation is monotone, so resuming from ANY
    intermediate label table converges to the same fixed point as the
    uninterrupted run (asserted in tests/test_graph_ops.py).
    """
    spark = pairs.sparkSession
    if reliable_checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(reliable_checkpoint_dir)

    def durable(df: DataFrame, round_no: int) -> DataFrame:
        if reliable_checkpoint_dir is not None and round_no % checkpoint_every == 0:
            return df.checkpoint(eager=True)  # reliable: survives executor loss
        return materialize(df, big=True)  # corpus-sized per-round labels
    # Materialize the PAIRS (not the doubled edge list): both union
    # branches then reread one checkpointed copy half the size of the
    # symmetric edge list. The doubled list is hash-partitioned on the
    # join key ONCE and PERSISTED — persist() (unlike localCheckpoint)
    # keeps the logical plan, so Catalyst still SEES the
    # hashpartitioning(u) and every per-round join re-uses the cached
    # layout instead of re-exchanging the edge list. That re-exchange
    # was the dominant shuffle at the 100x sweep: localCheckpoint
    # truncates the plan to Scan ExistingRDD with unknown partitioning,
    # so each round paid a full O(|E|) edge shuffle — 12.9 GB total on
    # the 100x graph; with the cached exchange the edges shuffle ONCE
    # and each round exchanges only the (small) frontier and the
    # propagated messages.
    #
    # ALL of this loop's reuse frames (pairs, edges, per-round labels,
    # the final label checkpoint) are CORPUS-SIZED and therefore ride
    # DISK_ONLY per the materialize() protected-storage rule (round 8):
    # memory-resident, they pinned ~2 GB of protected storage across
    # rounds, and dedup_neardup_keeper's LATE quality text scan — 32
    # concurrent ~100 MB column-batch allocations, unmanaged by the
    # memory manager — then OOMed the fourth-decade run under EITHER
    # advisory setting (BASELINE.md round-8 notes). The cache benefit
    # that matters here is the partitioning staying VISIBLE to Catalyst
    # (persist keeps the plan), which DISK_ONLY preserves; memory
    # residency was never the win.
    pairs = materialize(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")), big=True
    )
    if n_partitions is None:
        # Explicit repartition(N, key) is a HARD width AQE cannot
        # rescale, so N must track the data: the round-6 three-decade
        # sweep showed fixed-width loop shuffles go spill-bound once
        # per-task data outgrows execution memory. ~1.5M symmetric
        # edge rows/partition ≈ 50 MB/task; count() on the just-
        # materialized pairs frame is a cached-block scan, not a
        # recompute. Floor keeps small graphs at full parallelism.
        n_edges = 2 * pairs.count()
        n_partitions = min(
            2048, max(8, spark.sparkContext.defaultParallelism, n_edges // 1_500_000)
        )
    edges = (
        pairs.union(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(n_partitions, "u")
        .persist(StorageLevel.DISK_ONLY)
    )
    if resume_from is not None:
        labels = materialize(resume_from.select("node", "label"), big=True)
    else:
        # Seed labels with min(node, neighbors) — one aggregate that does
        # the work of the whole first propagation round.
        labels = materialize(  # corpus-sized seed labels
            edges.groupBy(F.col("u").alias("node")).agg(
                F.least(F.first("u"), F.min("v")).alias("label")
            ),
            big=True,
        )

    # Delta iteration: a node's label can only improve via a neighbor
    # whose label improved in the previous round, so each round joins
    # the edges against the CHANGED frontier only, not the full label
    # table. On dup graphs (dense cliques, shallow diameter) the
    # frontier collapses after a round or two and per-round shuffle
    # drops from O(|E|) to O(|E restricted to the active frontier|).
    # Measured at the 100x scale sweep (tools/scale_bench.py), round
    # by round: full re-propagation 21.2 GB / 145 s -> delta iteration
    # over a localCheckpointed edge list 12.7 GB / 91 s (r3) -> delta
    # iteration over the PERSISTED edge exchange (partitioning visible
    # to Catalyst, no per-round edge re-shuffle) 2.6 GB / ~62 s (r4).
    frontier = labels  # round 1: every node is "changed" vs identity
    try:
        for round_no in range(1, max_iter + 1):
            # Frontier labels flow along edges; keep the min per node.
            # Old rows are tagged so the same aggregate also yields each
            # node's previous label — min-label propagation is monotone,
            # so label < prev on any row iff the round changed something.
            prop = edges.join(frontier, edges["u"] == frontier["node"]).select(
                F.col("v").alias("node"), F.col("label"), F.lit(False).alias("is_old")
            )
            old = labels.select("node", "label", F.lit(True).alias("is_old"))
            new_labels = durable(
                old.union(prop)
                .repartition(n_partitions, "node")
                .groupBy("node")
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("is_old"), F.col("label"))).alias("prev"),
                ),
                round_no,
            )
            frontier = new_labels.filter(F.col("label") < F.col("prev")).select(
                "node", "label"
            )
            changed = frontier.count()
            labels = new_labels.select("node", "label")
            if changed == 0:
                break
        # Eagerly checkpoint the FINAL labels before the finally block
        # releases the edge cache. Each completed round's labels are
        # already checkpointed (making this a cheap narrow
        # re-materialization of the label table), but the
        # zero-round path (max_iter == 0 with resume_from) never did —
        # and the eager checkpoint makes the invariant structural
        # instead of incidental: the returned plan reads materialized
        # label blocks and provably no longer references the
        # unpersisted edge exchange, so the cache benefit can't
        # silently disappear into a full recomputation.
        labels = materialize(labels, big=True)
    finally:
        # The eager checkpoint above guarantees the returned labels no
        # longer reference the cached edge exchange — release the
        # executor memory instead of holding it for the session's
        # lifetime; the finally makes sure a failed round doesn't leak
        # the dominant cached object either (on the exception path the
        # frame is never returned, so no caller can recompute through
        # the released cache).
        # blocking=True: the async cleaner otherwise races the caller's
        # next job (observed: temp_shuffle files vanishing mid-task
        # when a second invocation started while cleanup was in
        # flight).
        edges.unpersist(blocking=True)
    return labels.select(F.col("node"), F.col("label").alias("component"))
