"""SparkSession factory with scale-oriented defaults.

The reference's runtime knobs (`mapreduce_spec.h:18-26`: n_workers,
map_kilobytes shard size, n_output_files R) map onto Spark: worker
count -> master URL / executor confs; shard size and R are arguments of
mapreduce.run_job (its shards and its shuffle width), not session confs.

Settings are chosen for a large cluster and scale down fine to local[N]:
AQE handles partition coalescing and skew joins at runtime, so a fixed
shuffle-partition count is only the pre-AQE upper bound.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied even to an externally created session
# (the driver owns its own SparkSession; tune_session() makes query
# behavior independent of who built the session).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
    # rejects; read as long and convert in catalog.load_tables (exact
    # integer div — double math would lose precision above 2^53 ns).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # 10k-row Arrow batches keep pandas-UDF memory bounded at wide rows.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Stateful STREAMING can't use AQE partition coalescing, so an
    # externally-built session's 200-partition default becomes 200 real
    # state-store tasks per micro-batch; pin a width that matches the
    # test scale. Batch shuffles are unaffected: AQE starts them at the
    # initial width below and coalesces.
    "spark.sql.shuffle.partitions": "32",
    # The batch shuffle width AQE actually uses is initialPartitionNum
    # coalesced down to the advisory size: starting wide makes it
    # data-adaptive (a few reduce tasks at sf0.001, ~75 MB/task on the
    # 1000x corpus, where a 32-wide ceiling spilled and OOMed;
    # BASELINE.md round 6). The advisory stays at Spark's 64 MB default
    # except on @expanding queries (queries/_util.expanding_session);
    # an advisory pinned at session build (extra_conf) wins everywhere.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
}


def is_local_master(master: str) -> bool:
    """True for `local` / `local[N]`: one JVM, no executors of its own
    (`local-cluster[...]` has separate executor JVMs, so it is not)."""
    return master == "local" or master.startswith("local[")


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable by EXECUTOR-side Python workers.

    In pure local[N] mode the python workers run with the driver JVM's
    cwd, so the repo-root package resolves by accident of layout. On
    any real cluster master — including local-cluster[W,C,M], whose
    executors are separate JVMs in their own work dirs (round-9
    multi-executor attestation found this the first time a pandas UDF
    deserialized off-driver: ModuleNotFoundError) — the package must
    travel with the job. addPyFile(zip) is the cluster-portable
    mechanism (same path spark-submit --py-files uses: the zip is
    fetched per-executor and prepended to the worker's sys.path);
    a shared filesystem is NOT assumed. Shipped once per CONTEXT —
    the guard lives on the SparkContext, not the session, because
    newSession() clones (the expanding-advisory clone) share the
    context's file registry and a second addPyFile of the same
    filename from a different path is rejected (round-9 full
    local-cluster sim caught exactly that: 13 @expanding queries
    erroring on 'already registered with a different path').

    The zip itself is CONTENT-ADDRESSED (ADVICE r9): one
    $TMPDIR/graft_pkg_<sha256-of-sources>/ dir per distinct package
    content, built atomically (write-then-rename) and reused by every
    later context in any process — a host that cycles contexts (the
    chaos/speculation tools build several) no longer accumulates one
    orphaned mkdtemp per context, and the on-disk residue is bounded
    by the number of distinct package versions seen since boot. Not
    deleted at exit on purpose: a concurrently running sibling process
    may be serving the same zip to late-launching executors."""
    sc = spark.sparkContext
    if is_local_master(sc.master):
        return
    if getattr(sc, "_graft_pkg_shipped", False):
        return
    import hashlib
    import shutil
    import tempfile

    import mapreducecore_spark

    pkg_dir = os.path.dirname(os.path.abspath(mapreducecore_spark.__file__))
    digest = hashlib.sha256()
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for fname in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, fname)
            digest.update(os.path.relpath(path, pkg_dir).encode())
            with open(path, "rb") as fh:
                digest.update(fh.read())
    out_dir = os.path.join(
        tempfile.gettempdir(), f"graft_pkg_{digest.hexdigest()[:16]}"
    )
    zip_path = os.path.join(out_dir, "mapreducecore_spark.zip")
    if not os.path.exists(zip_path):
        build_dir = tempfile.mkdtemp(prefix="graft_pkg_build_")
        try:
            built = shutil.make_archive(
                os.path.join(build_dir, "mapreducecore_spark"),
                "zip",
                root_dir=os.path.dirname(pkg_dir),
                base_dir="mapreducecore_spark",
            )
            os.makedirs(out_dir, exist_ok=True)
            os.replace(built, zip_path)
        finally:
            shutil.rmtree(build_dir, ignore_errors=True)
    sc.addPyFile(zip_path)
    sc._graft_pkg_shipped = True


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime on this build — keep going
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "mapreducecore-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or default_master())
        # 128 MiB file-source splits for the registry's scans.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Python workers on Unix sockets: on loopback TCP, a job-path map
        # task that reads its own shard (no input stream carrying ACKs
        # back) waits on its output, and in mr_index's same-JVM A/B the
        # shard reader cut the map stage by 34 ms instead of 155 ms. The
        # registry's Python-worker queries stayed within +-5 % (BASELINE.md
        # "Job path: map tasks read their own shards"). extra_conf can
        # turn it off.
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Heap-floor fail-fast (VERDICT r10 #4): an under-heaped TRAINING
    # operator (the IVF/Lloyd family has a per-JVM heap floor — one 8g
    # executor completes where two 4g executors OOM at the same
    # aggregate memory, BASELINE.md round 10) otherwise relaunch-loops
    # its executor 100+ times on a standalone worker before the master
    # gives up. Set SPARK_GRAFT_MAX_TASK_FAILURES (e.g. 2) on cluster
    # runs so a doomed configuration dies in seconds; unset, Spark's
    # default stands (local mode fails fast already at 1).
    if os.environ.get("SPARK_GRAFT_MAX_TASK_FAILURES"):
        builder = builder.config(
            "spark.task.maxFailures", os.environ["SPARK_GRAFT_MAX_TASK_FAILURES"]
        )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return tune_session(builder.getOrCreate())
