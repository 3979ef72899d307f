"""Shared helpers for the query registry — cross-engine determinism.

Doubles summed in arbitrary order differ in low bits between engines, so
any aggregate that feeds the driver's value-hash is computed in
DECIMAL (exact, order-independent) and cast to DOUBLE at the end.
Timestamps are formatted to strings at second precision (events.ts is
ns in parquet; Spark truncates to micros, DuckDB keeps ns — second
precision is the shared ground truth).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column
from pyspark.sql import functions as F

SPARK_TS_FMT = "yyyy-MM-dd HH:mm:ss"
DUCK_TS_FMT = "%Y-%m-%d %H:%M:%S"


def dec(c: str | Column, scale: int = 2) -> Column:
    """Cast to an exact decimal for order-independent aggregation."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal(18,{scale})")


def dsum(c: str | Column, alias: str, scale: int = 2) -> Column:
    """Exact decimal sum surfaced as double (matches oracle CAST chain)."""
    return F.sum(dec(c, scale)).cast("double").alias(alias)


def davg(c: str | Column, alias: str, scale: int = 2) -> Column:
    """Deterministic average: exact decimal sum / count, in double."""
    col = F.col(c) if isinstance(c, str) else c
    return (F.sum(dec(col, scale)).cast("double") / F.count(col)).alias(alias)


def ts_str(c: str | Column, alias: str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.date_format(col, SPARK_TS_FMT).alias(alias)


def d_str(c: str | Column, alias: str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.date_format(col, "yyyy-MM-dd").alias(alias)


def spread(df, min_parts: int = 16):
    """Widen narrow inputs before CPU-heavy per-row work.

    A small parquet table arrives as ONE input split (file size <
    maxPartitionBytes), so an expensive narrow stage downstream —
    shingling, per-shingle md5, fingerprinting — runs as a single
    serial task no matter how many cores the cluster has. One cheap
    shuffle of the raw rows buys full parallelism for everything after
    it. At 100 TB the input has thousands of files and this is a no-op
    (we only repartition when the scan reads fewer files than
    min_parts), so the guard costs nothing at scale.

    The probe is `inputFiles()` — answered from the (cached) file
    index, unlike `df.rdd.getNumPartitions()` which converts the whole
    logical plan to an RDD per call.

    HASH on a deterministic per-row id, NOT round-robin (round 7): a
    plain repartition() is round-robin, and Spark sorts every map
    task's ENTIRE split before a round-robin exchange for retry
    determinism (spark.sql.execution.sortBeforeRepartition) — at the
    fourth decade that meant 32 concurrent UnsafeExternalRowSorters
    each buffering ~60 MB of compressed text while the vectorized
    parquet reader allocated column batches on top: fresh-8g-JVM heap
    OOM, measured. Hashing monotonically_increasing_id() keeps the
    exchange streaming (scan batch -> hash -> shuffle write, no
    map-side sort) and is retry-stable for the same reason the sort
    exists: the id is a pure function of (partition index, row
    position), and spread() always sits directly on a scan, whose row
    order is deterministic.

    WIDTH scales with the single file's size (~32 MB of on-disk bytes
    per partition, capped at 2048): a fixed min_parts both under-cuts
    big single-file corpora (16 partitions of a 1.9 GB file leaves
    half of local[32] idle through the most CPU-heavy stage — measured
    at the fourth decade) and is the same fixed-width mistake the
    pre-AQE shuffle ceiling was (BASELINE.md round 6). Non-local
    paths, where sizes are not cheaply knowable, keep min_parts.

    WAVE-BALANCED (round 12, guide §2.6 / VERDICT r11 #1): a width
    that lands just past a multiple of the core count schedules a
    near-empty final wave — the fourth-decade scorer profiles showed
    45 tasks on 32 cores, so the signature/scan stages ran two waves
    with the second 60% idle. When the size-derived width exceeds
    defaultParallelism it is rounded UP to the next multiple of it:
    same total work, one fewer straggler wave (45 -> 64 means two
    FULL waves of smaller tasks instead of a 32+13 split). Widths at
    or below one wave (the sf0.1 bench: every table sizes to the
    16-partition floor) are untouched, so toy-scale plans and the
    driver's bench are byte-identical. The 2048 cap wins over exact
    divisibility — at 64+ waves the tail is amortized anyway.
    """
    _assert_scan_adjacent(df)
    files = df.inputFiles()
    if len(files) >= min_parts:
        return df
    n = min_parts
    try:
        from urllib.parse import unquote, urlparse

        total = 0
        for f in files:
            p = urlparse(f)
            if p.scheme not in ("", "file"):
                raise OSError(f"non-local: {f}")
            total += os.path.getsize(unquote(p.path))
        n = _spread_width(
            total, min_parts, df.sparkSession.sparkContext.defaultParallelism
        )
    except OSError:
        pass
    return df.repartition(n, F.monotonically_increasing_id())


def _spread_width(total_bytes: int, min_parts: int, parallelism: int) -> int:
    """Pure width rule for spread(), unit-tested in test_operators.py:
    ~32 MB per partition, >= min_parts, <= 2048, and any width past
    one wave of `parallelism` rounds UP to a multiple of it."""
    n = min(2048, max(min_parts, -(-total_bytes // (32 << 20))))
    if parallelism > 0 and n > parallelism:
        n = min(2048, -(-n // parallelism) * parallelism)
    return n


# Nodes allowed between spread() and its scan: narrow, order-preserving
# wrappers over a deterministic leaf. Anything wide (Aggregate, Join,
# Repartition, Sort, Window...) breaks the retry-stability argument
# above — monotonically_increasing_id is only deterministic when the
# parent's row order is.
_SPREAD_SAFE_NODES = frozenset(
    {
        "Project",
        "Filter",
        "Relation",
        "LogicalRDD",
        "LocalRelation",
        "SubqueryAlias",
        "View",
        "Range",
    }
)


def _assert_scan_adjacent(df) -> None:
    """Mechanical guard for spread()'s invariant: the argument plan must
    be a bare relation or a Project/Filter chain over one. Enforced on
    every call — the check is one render of the analyzed plan (no job),
    so the whole test suite polices every call site. A new safe plan
    shape goes into _SPREAD_SAFE_NODES."""
    plan = df._jdf.queryExecution().analyzed().toString()
    for line in plan.splitlines():
        node = line.lstrip(" +-:").split(" ", 1)[0].split("[", 1)[0]
        # Exact membership, not prefix (ADVICE r9): a future node merely
        # SPELLED like an allowed one (e.g. "FilterEstimation") must trip
        # the guard, not slide under a startswith.
        if node and node not in _SPREAD_SAFE_NODES:
            raise AssertionError(
                "spread() must sit directly on a scan (retry-stability "
                f"invariant, see docstring); found node {node!r} in:\n{plan}"
            )


_EXPAND_ADVISORY_BYTES = 16 << 20  # measured best for ~3-4x expanding stages
_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def expanding_session(spark):
    """Session clone with a 16 MB AQE advisory for queries whose hot
    reduce stage EXPANDS its input.

    AQE sizes a reduce task by the bytes it READS, so it is blind to
    expansion: the minhash bucket-collect stage inflates ~3.6x, and at
    the default 64 MB advisory its tasks spill (a 16 MB advisory cut the
    fourth-decade flagship 390 -> 213 s; BASELINE.md round 7). The
    clone is the per-query conf scope: DataFrames hold their session
    and AQE reads conf at action time, so set-then-restore around plan
    construction would not stick.

    Any session that already carries an explicit advisory is returned
    unchanged. That one check covers an operator pin (get_spark
    extra_conf / SPARK_GRAFT_EXTRA_CONF) and re-entry on the clone
    itself. Otherwise the clone is built once and cached on the base
    session.

    Membership is measured, not assumed: the smaller advisory raises
    reduce-task concurrency, and queries that scan the corpus twice
    concurrently OOMed under it at 3000x (BASELINE.md round 8).
    Decorate a new query with @expanding only after a fourth-decade run
    proves it survives the clone."""
    if spark.conf.get(_ADVISORY, None) is not None:
        return spark
    clone = spark.__dict__.get("_graft_expand_clone")
    if clone is None:
        from mapreducecore_spark.session import tune_session

        clone = spark.newSession()
        tune_session(clone)
        clone.conf.set(_ADVISORY, str(_EXPAND_ADVISORY_BYTES))
        # Text scans want smaller splits than the 128 MB parquet
        # default: a fat split's ~100 MB decoded column batches plus the
        # per-split partial-aggregation state is what the fourth/fifth-
        # decade OOMs and GC storms in this family traced back to, and on
        # many-file corpora (spread() a no-op) split size is the only
        # lever (fifth-decade flagship 780.8 -> 624.3 s; BASELINE.md
        # round 8).
        clone.conf.set("spark.sql.files.maxPartitionBytes", str(32 << 20))
        # Smaller reader batches for the same reason: the default
        # 4096-row batch reaches ~100 MB on a long-document tail, and 32
        # concurrent scan tasks then race the GCLocker.
        clone.conf.set("spark.sql.parquet.columnarReaderBatchSize", "512")
        # Deliberately NOT raised: objectHashAggregate's sort-based
        # fallbackThreshold. It is one conf for both aggregation halves,
        # and raising it OOMed the 3000x flagship's map-side collect
        # (BASELINE.md round 8).
        spark._graft_expand_clone = clone
    return clone


def expanding(fn):
    """Decorator form of expanding_session for registry entry points:
    the query builds (and therefore executes) against the small-
    advisory clone. Place UNDER @register so the registered callable
    is the wrapped one."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark, sf_dir):
        return fn(expanding_session(spark), sf_dir)

    return wrapper


# reclaim()'s skip threshold on a local master (see _reclaim_min_bytes).
_RECLAIM_MIN_BYTES = 1 << 30
# reclaim()'s settle-poll sleep. Tests replace this name, not the global
# time.sleep, which py4j's gateway threads also call.
_sleep = time.sleep


def _own_blockmgr_dirs(spark) -> list[str] | None:
    """Block-manager scratch dirs owned by THIS session's JVM (local
    mode: the driver's DiskBlockManager — the only block manager).

    The settle poll can only ever observe deletions issued by THIS
    session's ContextCleaner, so only this session's dirs belong in
    the reclaimable estimate: a stale blockmgr-* leaked by a dead JVM
    never shrinks (observed round 12: a killed 3000x run left 20 GB
    under /tmp, which kept EVERY later session's poll permanently
    active — four ~1.3 s stalls per candidate_recall run, the exact
    r10 signature the skip was built to remove), and a live sibling's
    scratch answers the sibling's cleaner, not ours. Returns None when
    the (private[spark], stable since 1.x) accessor is unavailable —
    the caller then falls back to counting every blockmgr-* under the
    spool, which errs toward polling."""
    try:
        dbm = (
            spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
            .blockManager()
            .diskBlockManager()
        )
        return [str(d) for d in dbm.localDirsString()]
    except Exception:
        return None


def _scratch_bytes(
    spool: str,
    own_dirs: list[str] | None = None,
    include_rdd: bool = False,
) -> int:
    """Bytes of RECLAIMABLE block-manager scratch under the shuffle
    spool — an upper bound on what a settle wait could possibly free.

    Scoped to `own_dirs` (this session's block-manager dirs, see
    _own_blockmgr_dirs) when known; falls back to every blockmgr-*
    under the spool otherwise (errs toward polling).

    `rdd_*` block files are EXCLUDED by default (round 12, VERDICT r11
    #3): those are resident localCheckpoint partitions, pinned by live
    DataFrames until the caller drops them — a settle poll can never
    reclaim them, but counting them meant a long sweep session
    accumulated enough DISK_ONLY checkpoint residue (>1 GiB after
    hundreds of materialize() calls) to silently re-activate the poll
    on queries whose actual pending-delete volume was a few MB
    (in-sweep candidate_recall ~4.7 s vs 4.2 s warm-standalone).
    Everything else under blockmgr-* (shuffle_*.data/.index, temp_*,
    broadcast_*) is either deletable by the ContextCleaner drain the
    poll watches or transient, so the estimate still errs toward
    polling for the ENOSPC race the guard exists for (pending
    dead-shuffle deletes).

    include_rdd=True counts everything — the estimate reclaim() uses
    to decide whether the System.gc() ENQUEUE is worth a full GC:
    dead checkpoint blocks are indistinguishable from live ones on
    disk, so the gc must fire once TOTAL residue (any block type)
    crosses the threshold or dropped checkpoints would leak for the
    session's lifetime."""
    import glob

    dirs = (
        own_dirs
        if own_dirs is not None
        else glob.glob(os.path.join(spool, "blockmgr-*"))
    )
    total = 0
    for d in dirs:
        for root, _dirs, files in os.walk(d):
            for f in files:
                if not include_rdd and f.startswith("rdd_"):
                    continue
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def _reclaim_min_bytes(master: str) -> int:
    """reclaim()'s skip threshold for `master`. On a local master the
    driver's spool IS the block store, so scratch under 1 GiB is safe
    to skip. On any other master the pending deletes live on executor
    disks the driver cannot see, so the threshold is 0: always GC and
    poll."""
    from mapreducecore_spark.session import is_local_master

    return _RECLAIM_MIN_BYTES if is_local_master(master) else 0


def reclaim(spark, settle_secs: float = 20.0) -> None:
    """Shuffle-file reclaim point between staged jobs.

    An eager checkpoint truncates lineage, but the dead upstream
    stages' shuffle files are only DELETED once a driver GC clears the
    ContextCleaner's weak references to their ShuffleDependency
    objects — an asynchronous race that a time-based
    spark.cleaner.periodicGC can lose. The 10000x candidate_recall run
    measured exactly that loss (BASELINE.md round 9): the truth side's
    ~24 GB of dead gram-index shuffles were still on disk when the
    candidate side started writing (92 GB peak -> ENOSPC), and the
    disk-usage curve shows the periodic cleanup landing 16 SECONDS
    after the crash. Call this after the caller has dropped its
    pre-checkpoint frames: one Python gc.collect() releases the Py4J
    proxies pinning the old plans, one System.gc() on the driver JVM
    lets the cleaner enqueue the deletes NOW.

    The gc only ENQUEUES, though (ADVICE r9): the ContextCleaner
    drains its reference queue on its own thread, so deletes still
    land asynchronously — a fast next stage could beat them to disk.
    To close that tail, after the gc this polls free space on the
    shuffle spool's filesystem and returns once it has stopped growing
    (two consecutive stable 0.5 s samples) or `settle_secs` elapses —
    bounded, and ~1 s when there is nothing pending. Cost per staging
    point is one full driver GC plus the settle poll — noise next to
    the multi-minute jobs it sits between; on a real cluster the
    deletes fan out to executors over the cleaner RPC the same way
    (the poll then only observes the driver-local spool, so treat
    remote headroom as eventually consistent there).

    BOTH STEPS ARE HEADROOM-CONDITIONAL (_reclaim_min_bytes): at bench
    scale the scratch holds a few MB, and the poll's two-sample floor
    (~1 s) plus a 150-300 ms full GC per staging point were the staged
    queries' largest fixed costs (2.6x on candidate_recall at sf0.1).
    The System.gc() fires only when TOTAL own scratch, rdd_* blocks
    included (dead dropped-checkpoint blocks must still get their
    deletes enqueued), reaches the threshold; the poll additionally
    needs the non-rdd share over it. Residue is therefore bounded at
    the threshold. The Python gc.collect() stays unconditional (~10 ms;
    it releases the Py4J proxies pinning dropped plans). At scale every
    estimate is far above the threshold. No query plan forks on any of
    this; BASELINE.md rounds 10-12 hold the measurements."""
    import gc
    import shutil
    import tempfile

    gc.collect()
    spool = (
        spark.sparkContext.getConf().get("spark.local.dir", tempfile.gettempdir())
    ).split(",")[0]
    own = _own_blockmgr_dirs(spark)
    min_bytes = _reclaim_min_bytes(spark.sparkContext.master)
    if _scratch_bytes(spool, own, include_rdd=True) < min_bytes:
        return
    spark.sparkContext._jvm.System.gc()
    if _scratch_bytes(spool, own) < min_bytes:
        return
    try:
        free = shutil.disk_usage(spool).free
    except OSError:
        return
    deadline = time.monotonic() + settle_secs
    stable = 0
    while stable < 2 and time.monotonic() < deadline:
        _sleep(0.5)
        now_free = shutil.disk_usage(spool).free
        stable = stable + 1 if now_free <= free else 0
        free = max(free, now_free)


def materialize(df, big: bool = False):
    """Compute once, reuse across self-join branches.

    A DataFrame referenced on both sides of a join is otherwise fully
    recomputed per branch (Spark plans are trees, not DAGs) — for the
    dedup candidate generators that means running the expensive
    shingle/minhash/LSH stage twice. localCheckpoint stores the computed
    partitions in executor block storage and truncates lineage, so both
    branches read the same materialized blocks.

    Always EAGER: the checkpoint's job runs now, on the calling thread,
    as its own job. A lazy localCheckpoint materializes inside the
    first consuming job, where under AQE a broadcast-exchange thread
    and the DAG scheduler can take the RDD lock and the
    RDDCheckpointData lock in opposite orders — a JVM deadlock caught
    live by jstack (BASELINE.md round 12). Eager also makes the frame a
    job barrier: two independent consumer stages can no longer both
    compute it concurrently, which for a text-scan frame was the
    concurrent-scan OOM (BASELINE.md round 8).

    big=True stores the blocks DISK_ONLY. Default MEMORY_AND_DISK
    blocks occupy unified memory that `spark.memory.storageFraction`
    PROTECTS from eviction, so a corpus-sized frame pins ~half the pool
    and starves every downstream hash aggregate
    (UNABLE_TO_ACQUIRE_MEMORY at the 1000x sweep). A frame read back
    once per consuming branch loses nothing measurable from disk
    residency.

    CLUSTER MODE: localCheckpoint blocks are NOT executor-loss-safe — a
    lost executor loses its blocks AND the truncated lineage needed to
    recompute them. Set SPARK_GRAFT_RELIABLE_CHECKPOINT=<dir> (an
    HDFS/S3/shared path) to swap in persist + reliable checkpoint():
    partitions are persisted (so the checkpoint write doesn't recompute
    them), written durably, and survive executor loss.
    tests/test_reliable_materialize.py runs the dedup flagship
    end-to-end under that mode.
    """
    from pyspark import StorageLevel

    level = StorageLevel.DISK_ONLY if big else StorageLevel.MEMORY_AND_DISK
    ckpt_dir = os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(ckpt_dir)
        return df.persist(level).checkpoint(eager=True)
    if big:
        return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    return df.localCheckpoint(eager=True)
