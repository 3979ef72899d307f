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
    """Mechanical guard for spread()'s invariant (VERDICT r8 #5 /
    ADVICE r7 #2): the argument plan must be a bare relation or a
    Project/Filter chain over one. Enforced on EVERY call — the check
    is one render of the analyzed plan (no job), so the whole test
    suite polices every call site for free. Opt out with
    SPARK_GRAFT_CHECK_SPREAD=0 only if a plan shape is known-safe but
    not yet in the allowlist."""
    if os.environ.get("SPARK_GRAFT_CHECK_SPREAD", "1") == "0":
        return
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


def _env_extra_conf_advisory() -> bool:
    """True if the operator pinned an AQE advisory through the
    SPARK_GRAFT_EXTRA_CONF passthrough (tools/run_once.py). ADVICE r8:
    that knob lands in the base conf, so without this check the clone's
    16 MB override would silently replace it on @expanding queries —
    two documented knobs for the same conf with different precedence.
    An explicit operator pin wins via either spelling."""
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    return any(
        kv.split("=", 1)[0].strip() == "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        for kv in extra.split(";")
        if "=" in kv
    )


def expanding_session(spark):
    """Session clone with a 16 MB AQE advisory for queries whose hot
    reduce stage EXPANDS its input.

    AQE's coalesce sizes a reduce task by the bytes it READS from the
    previous exchange — it is expansion-blind. The minhash family's
    bucket-collect stage inflates ~3.6x (narrow band rows collect into
    per-bucket member arrays), so at the default 64 MB advisory each
    task sorts ~230 MB and spills: the fourth-decade flagship measured
    37 over-fat tasks, 18.1 GB spill, and a 16 MB advisory cut wall
    45% (390 -> 213 s) with spill down 4.5x (BASELINE.md round 7).
    Rather than shrink the GLOBAL advisory (wrong for every
    non-expanding exchange), the expanding queries bind their plans to
    a cloned session carrying the smaller advisory: DataFrames hold
    their session, and AQE reads conf at ACTION time, so a
    set-then-restore around plan construction would not stick — the
    clone is the supported per-query conf scope.

    The clone is created once per underlying session and cached on it;
    re-entry (a family helper calling another family entry point)
    returns the same clone. An explicit SPARK_GRAFT_ADVISORY_PARTITION
    override wins — the operator asked for a specific global value, so
    no per-query second-guessing.

    MEMBERSHIP IS MEASURED, NOT ASSUMED (round-8 3000x sweeps): the
    smaller advisory means ~4x more concurrent reduce tasks, and a
    query that runs TWO corpus text scans concurrently (tfidf's tf+df,
    candidate_recall's truth+candidates) then OOMs — the scans' ~100 MB
    column-batch allocations are unmanaged by the memory manager and
    lose to the extra task concurrency (GCLocker retry storms,
    BASELINE.md round-8 notes). Single-scan-pipeline dedup queries
    measured 1.4-2.6x faster. Decorate a new query with @expanding
    only after a fourth-decade run proves it survives the clone."""
    if os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION") or _env_extra_conf_advisory():
        return spark
    if getattr(spark, "_graft_expanding", False):
        return spark
    clone = spark.__dict__.get("_graft_expand_clone")
    if clone is None:
        from mapreducecore_spark.session import tune_session

        clone = spark.newSession()
        tune_session(clone)
        clone.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            str(_EXPAND_ADVISORY_BYTES),
        )
        # Text scans want smaller splits than the 128 MB parquet
        # default: a fat split's ~100 MB decoded column batches plus
        # the per-split partial-aggregation state is what every
        # fourth/fifth-decade OOM and GC storm in this family traced
        # back to. On MANY-file corpora spread() is a no-op (>= 16
        # files), so split size is the only lever — the fifth-decade
        # flagship measured 780.8 -> 624.3 s from this alone (200
        # x ~30 MB splits instead of 65 x ~92 MB; BASELINE.md round
        # 8). Single-file corpora are unaffected: spread() already
        # re-spreads them at ~32 MB/partition.
        clone.conf.set("spark.sql.files.maxPartitionBytes", str(32 << 20))
        # ... and smaller READER BATCHES for the same reason: the
        # vectorized reader's default 4096-row batch reaches ~100 MB
        # on a long-document tail (observed as 12.5M-word single
        # allocations), and 32 concurrent scan tasks then race the
        # GCLocker — dedup_savings_report's 3000x run OOMed on one of
        # two otherwise-identical attempts. 512-row batches cap the
        # per-task allocation ~8x; reader overhead is noise next to
        # the per-document shingle/minhash CPU this family does.
        clone.conf.set("spark.sql.parquet.columnarReaderBatchSize", "512")
        # NOT raised here, with the scar to prove it (round 8):
        # spark.sql.objectHashAggregate.sortBased.fallbackThreshold.
        # The bucket-collect's sort-based fallback (128-key default)
        # spills the expanded payload to disk, and the fifth-decade
        # run is disk-bound on one spindle because of it — but the
        # threshold is ONE conf for BOTH aggregation halves, and the
        # MAP-side partial collect reads upstream-sized input (128 MB
        # parquet splits, no advisory bound): raising it to 2^22
        # OOMed the 3000x flagship outright. The reduce-side-only
        # bound that would make it safe does not exist as a conf; the
        # spill is the correct trade on a single-disk box and a real
        # cluster spreads it across spindles.
        clone._graft_expanding = True
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


_RECLAIM_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_RECLAIM_MIN_BYTES", str(1 << 30))
)
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

    THE POLL IS HEADROOM-CONDITIONAL (VERDICT r10 #2): it exists to
    stop a tens-of-GB next stage racing tens of GB of pending deletes
    to ENOSPC, but at bench scale the block-manager scratch holds a
    few MB and the fixed two-sample floor (~1 s per staging point) was
    the single largest per-query cost of the staged queries at sf0.1
    (2.6x on candidate_recall). When everything the spool COULD
    reclaim — this session's scratch, see _scratch_bytes — is under
    SPARK_GRAFT_RECLAIM_MIN_BYTES (default 1 GiB), skipping the wait
    risks at most that much transient over-occupancy, three orders of
    magnitude below the headroom the guard protects. No query PLAN
    forks on any of this.

    THE System.gc() IS ALSO HEADROOM-CONDITIONAL (round 12): a driver
    full GC costs 150–300 ms, and with 2–4 staging points per staged
    query it was the family's largest remaining fixed cost once the
    poll was skipped (~3 s of the full-GC budget of an entire sf0.1
    sweep was reclaim's own calls). It now fires only when TOTAL own
    scratch — including rdd_* blocks, because dead dropped-checkpoint
    blocks are indistinguishable from live ones on disk and must
    still get their deletes enqueued eventually — crosses the same
    threshold. Accumulation is therefore bounded at the threshold: a
    sweep grows residue to ~1 GiB, one reclaim() then runs the full
    GC (and, if the non-rdd share is big, the poll), and the cycle
    resets. The Python-side gc.collect() stays unconditional — it is
    ~10 ms and releases the Py4J proxies pinning dropped plans, so
    both our conditional full GC and any natural JVM GC can actually
    collect them. At scale (3000x+: tens of GB of shuffle scratch)
    every estimate is far above threshold and the behavior is
    byte-identical to r11's unconditional form.

    CLUSTER NOTE (ADVICE r11): the estimate reads only the DRIVER-local
    spool; with remote executors the pending shuffle deletes live on
    executor disks, so the condition would near-always fire and
    silently disable the settle poll. Distributed deployments should
    set SPARK_GRAFT_RECLAIM_MIN_BYTES=0 (poll always) — same place the
    SPARK_GRAFT_MAX_TASK_FAILURES cluster note applies (session.py)."""
    import gc
    import shutil
    import tempfile

    gc.collect()
    spool = (
        spark.sparkContext.getConf().get("spark.local.dir", tempfile.gettempdir())
    ).split(",")[0]
    own = _own_blockmgr_dirs(spark)
    if _scratch_bytes(spool, own, include_rdd=True) < _RECLAIM_MIN_BYTES:
        return
    spark.sparkContext._jvm.System.gc()
    if _scratch_bytes(spool, own) < _RECLAIM_MIN_BYTES:
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


def materialize(df, big: bool = False, eager: bool = True):
    """Compute once, reuse across self-join branches.

    EAGER BY DEFAULT (round 12): a LAZY localCheckpoint materializes at
    the end of whichever job first consumes it — and under AQE that job
    can finish on a broadcast-exchange thread while the DAG scheduler
    is concurrently submitting another stage over the same RDD. Those
    two paths take Spark's RDD state lock and the RDDCheckpointData
    companion lock in OPPOSITE orders, and round 12 caught the
    resulting JVM deadlock live in the test suite (jstack:
    dag-scheduler-event-loop in getCacheLocs holding the RDD lock,
    wanting RDDCheckpointData$; broadcast-exchange-113 in
    RDDCheckpointData.checkpoint holding RDDCheckpointData$, wanting
    markCheckpointed's RDD lock — both parked forever, query hung).
    Eager materialization runs the checkpoint's job on the CALLING
    thread at build time, before the query has any concurrent stage
    submission to race, closing the window for that frame. With
    localCheckpoint the computed work and block writes are identical
    either way — lazy only saved one job's scheduling overhead
    (~50 ms at toy scale, noise at the attested decades), which is not
    worth a process-wide hang class.

    eager=True forces the computation NOW as its own job
    — a JOB BARRIER. Lazy checkpoints materialize inside the first
    consuming job, so two INDEPENDENT consumer stages in that job can
    both compute the parent concurrently (the cache race): for a frame
    whose computation is a raw TEXT SCAN that is exactly the
    concurrent-scan memory squeeze the barrier exists to prevent —
    each 32-task scan allocates ~100 MB column batches OUTSIDE the
    memory manager, and two at once OOMed dedup_candidate_recall's
    fourth-decade run even at the default advisory (BASELINE.md round
    8). Eager costs one extra pass over the frame; use it when the
    frame's own computation is scan-heavy and it feeds >1 independent
    branch of one action.

    A DataFrame referenced on both sides of a join is otherwise fully
    recomputed per branch (Spark plans are trees, not DAGs) — for the
    dedup candidate generators that means running the expensive
    shingle/minhash/LSH stage twice. localCheckpoint stores the computed
    partitions in executor block storage and truncates lineage, so both
    branches read the same materialized blocks.

    big=True stores the blocks DISK_ONLY. Default MEMORY_AND_DISK
    blocks occupy unified memory that `spark.memory.storageFraction`
    PROTECTS from eviction, so a corpus-sized frame (the exploded
    shingle index at the 1000x sweep) pins ~half the pool and starves
    every downstream hash aggregate — the three-decade sweep measured
    UNABLE_TO_ACQUIRE_MEMORY crashes from exactly this. A frame that
    is read back once per consuming branch loses nothing measurable
    from disk residency; memory caching only ever helped the small
    scales where it doesn't matter.

    CLUSTER MODE (VERDICT r6 #6): localCheckpoint blocks are NOT
    executor-loss-safe — on a real cluster a lost executor loses its
    blocks AND the truncated lineage needed to recompute them. Set
    SPARK_GRAFT_RELIABLE_CHECKPOINT=<dir> (an HDFS/S3/shared path) to
    swap in persist + RELIABLE checkpoint(): partitions are persisted
    (so the checkpoint write doesn't recompute them), written durably
    to the checkpoint dir, and survive executor loss. big maps to
    DISK_ONLY persistence for the same protected-storage reason. The
    env gate keeps local runs on the cheaper block-storage path;
    tests/test_reliable_materialize.py runs the dedup flagship
    end-to-end under the reliable mode.
    """
    import os

    from pyspark import StorageLevel

    level = StorageLevel.DISK_ONLY if big else StorageLevel.MEMORY_AND_DISK
    ckpt_dir = os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(ckpt_dir)
        return df.persist(level).checkpoint(eager=eager)
    if big:
        return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)
    return df.localCheckpoint(eager=eager)
