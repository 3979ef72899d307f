"""LIVE Structured Streaming registry entries — unlike the batch twins
in queries/streaming_batch.py, these actually run a streaming query
(file source over the sf_dir events parquet, availableNow drain into a
memory sink) and return the drained result. The DuckDB oracle is plain
batch SQL over the same parquet: Spark's guarantee that a drained
stream equals the batch computation is exactly what gets checked.

Scale notes: availableNow processes the backlog in bounded micro-
batches then stops — the backfill pattern for catching a stream up
without unbounded-trigger risk. The memory sink is test plumbing; a
real deployment writes parquet/Kafka via the same writeStream.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducecore_spark.catalog import load_tables, tune_session
from mapreducecore_spark.llm import minhash
from mapreducecore_spark.llm.minhash import TOKS
from mapreducecore_spark.queries import register
from mapreducecore_spark.queries._util import materialize, spread

def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the driver's events table. The file source
    needs an explicit schema, so take it from the parquet footer via a
    batch read (cheap, metadata-only) — this adapts to either ts
    physical type the generator has used (TIMESTAMP(NANOS) surfaced as
    long nanos under nanosAsLong, or plain TIMESTAMP micros), then
    normalizes exactly like catalog._fix_event_ts."""
    import os

    from mapreducecore_spark.catalog import _fix_event_ts

    tune_session(spark)
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # The table is a single file and the file source wants a directory:
    # stream the sf_dir with a glob pinned to the events file.
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _fix_event_ts(raw)


def _stream_scratch(prefix: str, need_bytes: int = 0) -> str:
    """Per-invocation scratch dir for streaming checkpoints/re-laid
    inputs, on the fastest LOCAL filesystem (round 12, guide §1.2/§7).

    Every micro-batch pays two WAL fsyncs (offsets + commit) plus one
    state-store delta file per partition per stateful operator, all
    under the checkpoint dir. These drains are availableNow backfills
    into per-run sinks — the checkpoint is pure scratch (a fresh UUID
    name each call, never resumed), so durability of the WAL buys
    nothing here and the fsyncs are pure per-batch latency on a
    spinning/virtual disk. A tmpfs mount (/dev/shm) makes them memory
    writes. Production streams that must survive a restart point their
    checkpoint at durable storage INSTEAD — parameterised via
    SPARK_GRAFT_STREAM_SCRATCH (set it to a disk path to opt out);
    unset, the default is /dev/shm when it is writable and has
    ``need_bytes`` free (callers pass the size of the input they
    re-lay), else the system tempdir.
    The caller removes the dir before it returns, so a long sweep holds
    no more than one call's scratch."""
    import tempfile

    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if not base:
        shm = os.access("/dev/shm", os.W_OK) and shutil.disk_usage("/dev/shm").free >= need_bytes
        base = "/dev/shm" if shm else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def _stream_width(in_bytes: int | None, parallelism: int) -> int:
    """Pure width rule for _drain's state partitioning, unit-tested in
    test_operators.py: ~1 MiB of stream input per state partition,
    >= 4, <= defaultParallelism. Calibrated by a round-12 same-JVM A/B
    at two scale factors (see _drain's docstring); unknown input sizes
    fall back to the small-state floor."""
    if not in_bytes:
        return 4
    return min(max(parallelism, 4), max(4, in_bytes >> 20))


def _src_bytes(sf_dir: str, *names: str) -> int:
    """Stream-input size for _stream_width: sum of the named source
    files (repeat a name for a query that streams it twice). A
    directory-shaped source counts its data files, not its inode."""
    total = 0
    for n in names:
        p = os.path.join(sf_dir, n)
        if os.path.isdir(p):
            total += sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(p)
                for f in fs
                if not f.startswith(("_", "."))
            )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def _drain(
    out: DataFrame,
    spark: SparkSession,
    mode: str = "complete",
    in_bytes: int | None = None,
) -> DataFrame:
    """Run the streaming frame to completion (availableNow) into a
    memory sink and return the sink as a batch DataFrame. The
    checkpoint is scratch and is freed when the drain returns.

    State width follows the input size (`_stream_width`): per-batch
    state-store provisioning dominates small state, while the sf1
    interval join needs width — 19.7 s at 4 partitions, 7.2 s at 16
    (BASELINE.md "Streaming state width is now size-adaptive"). The
    conf is pinned into the query at start, so restoring it afterwards
    cannot affect the running stream."""
    name = f"live_{uuid.uuid4().hex[:12]}"
    width = str(_stream_width(in_bytes, spark.sparkContext.defaultParallelism))
    ckpt = _stream_scratch("mrc_ckpt_")
    # The result lives in the memory sink; the checkpoint is never
    # resumed, so it is freed when the drain returns.
    try:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", width)
        try:
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                # Explicit tmpfs-backed checkpoint: without it
                # Spark creates the temp checkpoint under java.io.tmpdir on
                # the system disk and every micro-batch's offset/commit WAL
                # fsyncs plus state-store delta writes pay disk latency.
                .option("checkpointLocation", ckpt + "/ckpt")
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        try:
            finished = q.awaitTermination(120)
            if not finished:
                raise RuntimeError(
                    f"streaming drain {name!r} did not finish within 120s; "
                    "memory sink holds a partial result"
                )
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


@register(
    "stream_live_tumbling_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def stream_live_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real streaming query: 1-hour tumbling window counts per event
    type, drained with availableNow. The oracle is the equivalent batch
    GROUP BY — stream-equals-batch is the property under test."""
    ev = _event_stream(spark, sf_dir)
    out = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n",
        )
    )
    return _drain(out, spark, in_bytes=_src_bytes(sf_dir, "events.parquet"))


@register(
    "stream_live_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_live_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals maintained in streaming state across the
    micro-batches of the backlog drain (complete mode emits the final
    accumulator table)."""
    ev = _event_stream(spark, sf_dir)
    out = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "total_value"
        ),
    )
    return _drain(out, spark, in_bytes=_src_bytes(sf_dir, "events.parquet"))


@register(
    "stream_live_dedup_totals",
    oracle="""
    WITH d AS (SELECT DISTINCT event_id, event_type FROM events)
    SELECT event_type, COUNT(*) AS n_unique FROM d GROUP BY event_type
    """,
)
def stream_live_dedup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates keyed on event_id, drained with
    availableNow — the exactly-once ingest pattern (dedup state spans
    micro-batches; with a watermark the state is bounded in
    production). Oracle is the batch DISTINCT."""
    ev = _event_stream(spark, sf_dir)
    out = (
        ev.select("event_id", "event_type")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    return _drain(out, spark, in_bytes=_src_bytes(sf_dir, "events.parquet"))


@register(
    "stream_live_tws_distinct_types",
    oracle="""
    SELECT user_id, COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
)
def stream_live_tws_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming LIVE: per-user distinct-event-type
    membership held in processor state (streaming/tws.py
    DistinctTypesProcessor — real transformWithStateInPandas where the
    protobuf protocol exists, the applyInPandasWithState fallback
    runtime otherwise; identical processor code either way). Update
    mode emits one row per user per micro-batch; the membership count
    is grow-only, so max(n_types) per user after the drain is the final
    state — an exact integer the batch COUNT(DISTINCT) oracle checks."""
    from mapreducecore_spark.streaming.tws import distinct_types_auto

    ev = _event_stream(spark, sf_dir)
    drained = _drain(distinct_types_auto(ev), spark, mode="update", in_bytes=_src_bytes(sf_dir, "events.parquet"))
    return drained.groupBy("user_id").agg(F.max("n_types").alias("n_types"))


@register(
    "stream_live_append_watermark",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           COUNT(*) AS n
    FROM events
    GROUP BY date_trunc('hour', ts)
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
           <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
)
def stream_live_append_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling window in APPEND mode — the production
    shape for unbounded streams: state for an hour-window is emitted
    exactly once and evicted when the 10-minute watermark passes the
    window end; open windows never reach the sink. The oracle encodes
    Spark's finalization rule in SQL: after the availableNow drain the
    final watermark is max(event time) - 10 min, so exactly the windows
    whose end <= that watermark are emitted. (Complete-mode twin:
    stream_live_tumbling_counts — together they pin both output-mode
    semantics.)"""
    # withWatermark requires TIMESTAMP (rejects TIMESTAMP_NTZ); the cast
    # keeps the wall-clock value, and date_format below renders the same
    # wall clock back, so the oracle's naive timestamps line up.
    ev = (
        _event_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
    )
    out = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "n",
        )
    )
    return _drain(out, spark, mode="append", in_bytes=_src_bytes(sf_dir, "events.parquet"))


@register(
    "stream_live_session_append",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER w >= INTERVAL '5 minutes'
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 5 MINUTE
           <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
)
def stream_live_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) per user under a 10-minute
    watermark, APPEND mode, availableNow drain — the hardest streaming
    finalization rule: a session closes only when the watermark passes
    its end (last event + gap), and merged-then-closed sessions are
    emitted exactly once. The oracle re-derives sessions with
    gaps-and-islands SQL and applies the same closure cutoff
    (session MAX(ts) + gap <= max event time - delay)."""
    ev = (
        _event_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
    )
    out = (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    return _drain(out, spark, mode="append", in_bytes=_src_bytes(sf_dir, "events.parquet"))


@register(
    "stream_live_foreachbatch_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def stream_live_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once SINK path: the event stream drains
    through foreachBatch into batch_id-keyed parquet directories
    (streaming/sinks.py — a replayed micro-batch overwrites its own
    directory instead of appending duplicates), then the WRITTEN files
    are read back and aggregated. The oracle is the batch aggregate
    over the source table, so a hash match proves no row was lost or
    duplicated through the write-replay-read cycle — the durability
    contract the memory-sink entries can't test. Scratch dirs are
    per-call tempdirs (test plumbing; production points out_dir at the
    lake path and keeps the same checkpoint across runs)."""
    from mapreducecore_spark.streaming.sinks import idempotent_parquet_sink

    ev = _event_stream(spark, sf_dir).select("event_id", "event_type", "value")
    tmp = _stream_scratch("mrc_fb_sink_", _src_bytes(sf_dir, "events.parquet"))
    try:
        q = (
            idempotent_parquet_sink(ev, f"{tmp}/out", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(120):
                raise RuntimeError("foreachBatch sink drain did not finish in 120s")
        finally:
            q.stop()
        written = spark.read.parquet(f"{tmp}/out")  # partition col `batch` added
        # Materialized, so the rows outlive `tmp`.
        return materialize(
            written.groupBy("event_type").agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "stream_live_enrich_static",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_live_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment LIVE: each micro-batch of the event
    stream joins against the (batch) customer dimension — Spark
    re-plans per batch, so the small dim side is broadcast and the
    stream side never shuffles for the join — then aggregates per
    market segment in streaming state (complete mode). Oracle is the
    batch join+GROUP BY; stream-equals-batch through a stream-static
    join is the property under test (streaming/windows.py
    enrich_with_static)."""
    from mapreducecore_spark.streaming.windows import enrich_with_static

    dim = load_tables(spark, sf_dir)["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    ev = _event_stream(spark, sf_dir).select("user_id", "value")
    out = (
        enrich_with_static(ev, F.broadcast(dim), "user_id")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    return _drain(out, spark, in_bytes=_src_bytes(sf_dir, "events.parquet"))


@register(
    "stream_live_interval_join",
    oracle="""
    SELECT l.event_id AS l_id, r.event_id AS r_id,
           l.user_id AS user_id, r.event_type AS r_type,
           epoch_us(r.ts) - epoch_us(l.ts) AS lag_us
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_id % 2 = 0 AND r.event_id % 2 = 1
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
    """,
)
def stream_live_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER interval join LIVE: even-id events pair with
    odd-id events of the same user within [l.ts, l.ts + 30 min]. Both
    sides carry a 10-minute watermark so the join state store evicts
    rows once the event-time bound can no longer match (without the
    range condition stream-stream join state grows forever —
    streaming/windows.py interval_join_streams). Inner-join matches are
    emitted as they form, so the availableNow drain equals the batch
    interval join, which is exactly what the oracle checks. lag_us is a
    timestamp DIFFERENCE, so it is timezone-shift-invariant and safe to
    hash across engines."""
    from mapreducecore_spark.streaming.windows import interval_join_streams

    def half(parity: int) -> DataFrame:
        return (
            _event_stream(spark, sf_dir)
            .filter(F.col("event_id") % 2 == parity)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    joined = interval_join_streams(
        half(0), half(1), watermark="10 minutes", join_horizon="30 minutes"
    )
    out = joined.select(
        "l_id",
        "r_id",
        F.col("l_user").alias("user_id"),
        "r_type",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("lag_us"),
    )
    # Both halves stream the full events file: the join-state width must
    # scale with BOTH sides' input (the sf1 A/B in _drain's docstring is
    # this query), so the file is counted twice.
    return _drain(
        out,
        spark,
        mode="append",
        in_bytes=_src_bytes(sf_dir, "events.parquet", "events.parquet"),
    )


@register(
    "stream_live_doc_dedup",
    oracle="""
    WITH d AS (SELECT DISTINCT source, md5(text) AS h FROM documents)
    SELECT source, COUNT(*) AS n_unique FROM d GROUP BY source
    """,
)
def stream_live_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time exact dedup of the DOCUMENT corpus — the
    LLM-pipeline counterpart of stream_live_dedup_totals: documents
    arrive as a stream, each is content-hashed (md5 of the raw text),
    and dropDuplicates on (source, hash) suppresses re-crawled copies
    before they ever reach storage. The drained per-source unique
    counts equal the batch DISTINCT oracle.

    100 TB shape: dedup state is one (source, 32-byte hash) entry per
    unique doc, hash-partitioned across the state stores; with a
    watermark on ingest time (dropDuplicatesWithinWatermark) the state
    is bounded in production — unbounded here because availableNow
    backfill is finite by construction."""
    import os

    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    tune_session(spark)
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    out = (
        docs.select("source", F.md5("text").alias("h"))
        .dropDuplicates(["source", "h"])
        .groupBy("source")
        .agg(F.count("*").alias("n_unique"))
    )
    return _drain(out, spark, in_bytes=_src_bytes(sf_dir, "documents.parquet"))


@register(
    "stream_live_dedup_within_watermark",
    oracle="""
    WITH d AS (SELECT DISTINCT event_id, event_type FROM events)
    SELECT event_type, COUNT(*) AS n_unique FROM d GROUP BY event_type
    """,
)
def stream_live_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark — the BOUNDED-STATE dedup API:
    unlike plain dropDuplicates (state grows forever), each key is held
    only until the watermark passes its event time, which is the only
    deployable config for an unbounded 100 TB ingest stream. The
    guarantee is conditional: duplicates arriving within the watermark
    delay of each other are suppressed. Here the whole backlog drains
    as one availableNow batch (single file, maxFilesPerTrigger=1), so
    every duplicate is within-delay by construction and the drained
    counts equal the unconditional batch DISTINCT oracle."""
    ev = _event_stream(spark, sf_dir)
    out = (
        ev.select("event_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    return _drain(out, spark, in_bytes=_src_bytes(sf_dir, "events.parquet"))


@register(
    "stream_live_cdc_merge",
    oracle="""
    SELECT user_id,
           max_by(event_type, printf('%019d|%019d',
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT), event_id))
             AS last_type,
           CAST(max_by(value, printf('%019d|%019d',
                  CAST(epoch(date_trunc('second', ts)) AS BIGINT), event_id))
             AS DOUBLE) AS last_value,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def stream_live_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC MERGE-upsert LIVE (the sink-side twin of
    events_cdc_latest_state): the event backlog is re-laid into FOUR
    files so availableNow + maxFilesPerTrigger=1 drains it as four
    real micro-batches, each running versioned_merge_sink's MERGE — a
    per-key aggregate merged into the previous parquet snapshot,
    written as a new version keyed by batch_id (replay-idempotent;
    streaming/sinks.py). The final snapshot must equal the batch
    argmax oracle over the whole table: state carries (argmax key,
    aggregates), so merging batch-wise is associative and the split
    into batches cannot change the answer. State size is bounded by
    key cardinality, never stream length — the deployable shape for an
    unbounded CDC feed."""
    from mapreducecore_spark.streaming.sinks import (
        latest_merge_snapshot,
        versioned_merge_sink,
    )

    tmp = _stream_scratch("mrc_cdc_merge_", _src_bytes(sf_dir, "events.parquet"))
    try:
        # Re-lay the backlog as 4 files (ts already normalized by the
        # catalog) so the file source yields 4 real micro-batches.
        tune_session(spark)
        load_tables(spark, sf_dir)["events"].select(
            "event_id", "user_id", "event_type", "ts", "value"
        ).repartition(4).write.mode("overwrite").parquet(f"{tmp}/in")
        stream = (
            spark.readStream.schema(spark.read.parquet(f"{tmp}/in").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        ordkey = F.format_string(
            "%019d|%019d",
            F.unix_timestamp(F.date_trunc("second", F.col("ts").cast("timestamp"))),
            F.col("event_id"),
        )
        prepared = stream.select(
            "user_id", "event_type", "value", ordkey.alias("ordkey")
        )
        q = (
            versioned_merge_sink(prepared, f"{tmp}/state", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(120):
                raise RuntimeError("cdc merge drain did not finish in 120s")
        finally:
            q.stop()
        # Materialized, so the rows outlive `tmp`.
        return materialize(
            latest_merge_snapshot(spark, f"{tmp}/state").select(
                "user_id",
                "last_type",
                F.col("last_value").cast("double").alias("last_value"),
                "n_events",
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "stream_live_quality_gate",
    oracle="""
    WITH s AS (
      SELECT source,
             len(list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
                             x -> x <> '')) AS n_toks,
             length(text) AS n_chars
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) FILTER (WHERE n_toks >= 10
                                 AND n_chars <= 20 * n_toks) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE NOT (n_toks >= 10
                                 AND n_chars <= 20 * n_toks)) AS BIGINT) AS n_dropped
    FROM s GROUP BY source
    """,
)
def stream_live_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time QUALITY GATE — the curation counterpart of
    stream_live_doc_dedup: documents arrive as a stream, each is scored
    with stateless JVM-side heuristics (token count floor + mean token
    length ceiling, the structural core of a Gopher-style rule set),
    and the gate's per-source kept/dropped tallies are drained and
    compared to the batch oracle. This is how a 100 TB crawl applies
    quality filtering ON INGEST, before paying storage for rejected
    documents.

    100 TB shape: the filter is stateless row-local expression work
    (whole-stage codegen inside the micro-batch, no state store); only
    the per-source counter aggregation keeps state — one row per
    (source, flag), bounded by source cardinality."""
    import os

    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    tune_session(spark)
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    toks = "filter(split(text, '[ \\t\\n\\r]+'), x -> x <> '')"
    out = (
        docs.selectExpr(
            "source",
            f"(size({toks}) >= 10 AND length(text) <= 20 * size({toks})) AS keep",
        )
        .groupBy("source")
        .agg(
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        )
    )
    return _drain(out, spark, in_bytes=_src_bytes(sf_dir, "documents.parquet"))


_INCR_STREAM_ORACLE = minhash.matches_duck(
    "documents WHERE doc_id % 10 <> 0", "documents WHERE doc_id % 10 = 0"
)


def _old_match_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH match index (llm/minhash.py) of the existing corpus
    (doc_id % 10 != 0), materialized: a stream-static join re-plans
    and re-executes its static side every micro-batch, which re-ran
    the whole shingle/minhash/band pipeline per batch. Eager, so the
    index job runs (and is charged) before the stream starts;
    big=True as the index is corpus-sized."""
    old_docs = (
        spread(load_tables(spark, sf_dir)["documents"])
        .filter(F.col("doc_id") % 10 != 0)
        .selectExpr("doc_id", f"{TOKS} AS toks")
    )
    banded = minhash.bucket_stats(minhash.bands(minhash.signatures(old_docs)))
    return materialize(minhash.match_index(banded), big=True)


@register("stream_live_incremental_dedup", oracle=_INCR_STREAM_ORACLE)
def stream_live_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental near-dedup — the live form of
    dedup_incremental_minhash: new documents (doc_id % 10 == 0) arrive
    as a stream and are matched against the static LSH band index of
    the existing corpus via a stream-static equi-join. The signature
    stage is IN-ROW on the stream side (array_min over a transform of
    the shingle array — no explode/groupBy, so computing 8 minhashes
    per document is stateless, shuffle-free expression work inside the
    micro-batch); the only stateful operator is the pair
    dropDuplicates. The static index keeps only the representative of
    an oversized bucket (the core's match index), so a degenerate
    bucket contributes ONE index row instead of thousands of join
    partners.

    100 TB shape: the index is (band_id, sig, match_id) — broadcast at
    test scale, a co-partitioned shuffle join on a real cluster; dedup
    state is one (new_id, match_id) entry per emitted pair, swapped
    for dropDuplicatesWithinWatermark on an unbounded feed. Batch
    equivalence (the oracle) is exact, including the bucket guard."""
    tune_session(spark)
    idx = _old_match_index(spark, sf_dir)
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
        .selectExpr("doc_id", f"{TOKS} AS toks")
    )
    sigs = minhash.hashes(stream).select("doc_id", minhash.inrow_signatures().alias("mhs"))
    out = minhash.matches(minhash.bands(sigs), idx).dropDuplicates(["new_id", "match_id"])
    return _drain(out, spark, mode="append", in_bytes=_src_bytes(sf_dir, "documents.parquet"))


def _incremental_dedup_stream(
    spark: SparkSession, sf_dir: str, in_dir: str
) -> DataFrame:
    """The watermarked incremental-dedup streaming frame (shared by the
    registry entry below and the bounded-state test): 4 sequential
    ingest files with a synthetic hour-apart ingest_ts per file, in-row
    minhash signatures, stream-static join against the old corpus's
    match index, and pair dedup via dropDuplicatesWithinWatermark so
    pair state is EVICTED once the watermark passes."""
    tune_session(spark)
    docs = load_tables(spark, sf_dir)["documents"]
    idx = _old_match_index(spark, sf_dir)

    # Re-lay the new batch as 4 sequential files, each stamped with an
    # ingest_ts one hour after the previous — a compressed stand-in for
    # an unbounded feed where ingest time advances monotonically, so
    # the watermark actually moves and state actually expires.
    #
    # ONE job, not four: a per-batch loop ran 4 sequential
    # repartition(1)+write jobs (~0.8 s of the wm drain's profile was
    # these jobs plus their scheduling gaps). A single
    # partitionBy("grp") write of one task lays out the same 4 files in
    # one job. The file source replays files in MODIFICATION-
    # TIME order (FileStreamSource sorts by timestamp), which the old
    # sequential writes guaranteed implicitly; one job writes all 4
    # within the same clock tick, so the order the watermark semantics
    # depend on is pinned EXPLICITLY with os.utime (one second apart,
    # far above the source's ms granularity). The eviction test
    # (numRowsRemoved > 0) and the oracle both break if this order ever
    # regresses.
    grp = ((F.col("doc_id") / 10) % 4).cast("int")
    (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            "text",
            grp.alias("grp"),
            F.to_timestamp(
                F.format_string("2024-01-01 %02d:00:00", grp)
            ).alias("ingest_ts"),
        )
        .repartition(1)
        .write.mode("overwrite")
        .partitionBy("grp")
        .parquet(in_dir)
    )
    import time as _time

    t0 = _time.time()
    for root, _dirs, files in os.walk(in_dir):
        m = root.rsplit("grp=", 1)
        if len(m) != 2 or not m[1].isdigit():
            continue
        for f in files:
            if not f.startswith(("_", ".")):
                os.utime(os.path.join(root, f), times=(t0, t0 + int(m[1])))

    schema = spark.read.option("recursiveFileLookup", "true").parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
        .withWatermark("ingest_ts", "30 minutes")
        .selectExpr("doc_id", "ingest_ts", f"{TOKS} AS toks")
    )
    sigs = minhash.hashes(stream, "ingest_ts").select(
        "doc_id", "ingest_ts", minhash.inrow_signatures().alias("mhs")
    )
    return (
        minhash.matches(minhash.bands(sigs, "ingest_ts"), idx)
        .dropDuplicatesWithinWatermark(["new_id", "match_id"])
        .select("new_id", "match_id")
    )


@register("stream_live_incremental_dedup_wm", oracle=_INCR_STREAM_ORACLE)
def stream_live_incremental_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental near-dedup with WATERMARK-BOUNDED state —
    the unbounded-feed form of stream_live_incremental_dedup:
    identical stream-static band-index join, but pair dedup
    uses dropDuplicatesWithinWatermark(new_id, match_id) over a
    30-minute watermark on ingest time, so a pair's state row is
    dropped once the watermark passes its ingest_ts + delay instead of
    accumulating forever. The new batch is re-laid as 4 hour-apart
    ingest files so the watermark genuinely advances across
    micro-batches and eviction actually happens mid-run
    (tests/test_streaming.py asserts numRowsRemoved > 0 from the state
    operator's progress metrics). A given new document arrives in
    exactly one ingest file, so its duplicate pairs are always within
    the retention window and the drained output still equals the batch
    oracle — the finalization rule under which dropDuplicatesWithin-
    Watermark is exact.

    100 TB shape: state is one row per in-flight pair per retention
    window, independent of total stream length — the property the
    unbounded form cannot offer."""
    tmp = _stream_scratch("mrc_incr_wm_", _src_bytes(sf_dir, "documents.parquet"))
    try:
        out = _incremental_dedup_stream(spark, sf_dir, f"{tmp}/in")
        # The stream side is the re-laid 10%-of-docs backlog written just
        # above (not the full documents file), so size the state width from
        # what was actually laid out. The drained rows live in the memory
        # sink, which outlives `tmp`.
        return _drain(out, spark, mode="append", in_bytes=_src_bytes(tmp, "in"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
