"""Structured Streaming tests: deterministic micro-batch runs with
file sources (one file = one batch) and memory sinks, per SURVEY §5
item 4 — window finalization, watermark late-data drop, streaming
dedup, stateful counts."""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime

import pytest

from mapreducecore_spark.streaming.windows import (
    dedup_stream,
    read_event_stream,
    session_counts,
    stateful_user_counts,
    tumbling_counts,
)


def _ev(eid, ts, user=1, etype="click", value=1.0):
    return (eid, datetime.fromisoformat(ts), user, etype, value, "{}")


EVENTS_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


@pytest.fixture()
def stream_env(spark, tmp_path):
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")

    state = {"i": 0}

    def write_batch(rows):
        df = spark.createDataFrame(rows, EVENTS_COLS)
        df.coalesce(1).write.mode("append").parquet(src)
        state["i"] += 1

    # Parquet dir must exist with data before the stream starts.
    yield src, chk, write_batch
    shutil.rmtree(src, ignore_errors=True)


def _run_query(df, mode, name):
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", None or f"/tmp/chk-{name}-{uuid.uuid4().hex}")
        .start()
    )


def test_tumbling_append_finalization_and_late_drop(spark, stream_env):
    src, chk, write_batch = stream_env
    # Batch 1: two events in the 10:00 window, one in 11:00.
    write_batch(
        [
            _ev(1, "2024-06-01 10:05:00"),
            _ev(2, "2024-06-01 10:20:00"),
            _ev(3, "2024-06-01 11:01:00"),
        ]
    )
    stream = read_event_stream(spark, src)
    out = tumbling_counts(stream, window="1 hour", watermark="10 minutes")
    name = f"tumbling_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        # Nothing finalized yet: watermark = 11:01 - 10min < 11:00.
        # Batch 2: event far ahead advances watermark past the 10:00 and
        # 11:00 windows -> both finalize.
        write_batch([_ev(4, "2024-06-01 13:00:00")])
        q.processAllAvailable()
        rows = {
            (r["wstart"].isoformat(), r["n"]) for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert ("2024-06-01T10:00:00", 2) in rows
        assert ("2024-06-01T11:00:00", 1) in rows
        # Batch 3: a LATE event inside the already-finalized 10:00 window
        # -> dropped by the watermark, no new output row for that window.
        write_batch([_ev(5, "2024-06-01 10:30:00"), _ev(6, "2024-06-01 14:00:00")])
        q.processAllAvailable()
        rows_after = [
            r
            for r in spark.sql(f"SELECT * FROM {name}").collect()
            if r["wstart"].isoformat() == "2024-06-01T10:00:00"
        ]
        assert len(rows_after) == 1 and rows_after[0]["n"] == 2, (
            "late event must not reopen a finalized window"
        )
    finally:
        q.stop()


def test_streaming_dedup(spark, stream_env):
    src, chk, write_batch = stream_env
    write_batch([_ev(1, "2024-06-01 10:00:00"), _ev(1, "2024-06-01 10:00:30")])
    stream = read_event_stream(spark, src)
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_stream(stream, watermark="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # Duplicate id arriving in a later batch (within watermark) is
        # also suppressed by state.
        write_batch([_ev(1, "2024-06-01 10:01:00"), _ev(2, "2024-06-01 10:02:00")])
        q.processAllAvailable()
        ids = [r["event_id"] for r in spark.sql(f"SELECT * FROM {name}").collect()]
        assert sorted(ids) == [1, 2]
    finally:
        q.stop()


def test_session_window_merge(spark, stream_env):
    src, chk, write_batch = stream_env
    # user 1: events 2 min apart (one session), then a 20-min gap (new session)
    write_batch(
        [
            _ev(1, "2024-06-01 10:00:00", user=1),
            _ev(2, "2024-06-01 10:02:00", user=1),
            _ev(3, "2024-06-01 10:22:00", user=1),
            _ev(4, "2024-06-01 12:00:00", user=2),  # watermark pusher
        ]
    )
    stream = read_event_stream(spark, src)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        session_counts(stream, gap="5 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch([_ev(5, "2024-06-01 14:00:00", user=2)])  # finalize all
        q.processAllAvailable()
        rows = {
            (r["user_id"], r["session_start"].isoformat(), r["n_events"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert (1, "2024-06-01T10:00:00", 2) in rows
        assert (1, "2024-06-01T10:22:00", 1) in rows
    finally:
        q.stop()


def test_stream_static_join(spark, stream_env):
    from mapreducecore_spark.streaming.windows import enrich_with_static

    src, chk, write_batch = stream_env
    write_batch([_ev(1, "2024-06-01 10:00:00", user=1), _ev(2, "2024-06-01 10:01:00", user=2)])
    dim = spark.createDataFrame([(1, "gold"), (2, "silver")], ["user_id", "tier"])
    stream = read_event_stream(spark, src)
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        enrich_with_static(stream, dim, "user_id")
        .select("event_id", "user_id", "tier")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {(r["event_id"], r["tier"]) for r in spark.sql(f"SELECT * FROM {name}").collect()}
        assert rows == {(1, "gold"), (2, "silver")}
    finally:
        q.stop()


def test_stateful_counts_update_mode(spark, stream_env):
    src, chk, write_batch = stream_env
    write_batch([_ev(1, "2024-06-01 10:00:00", user=7), _ev(2, "2024-06-01 10:01:00", user=7)])
    stream = read_event_stream(spark, src)
    name = f"state_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_user_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch([_ev(3, "2024-06-01 10:05:00", user=7), _ev(4, "2024-06-01 10:06:00", user=9)])
        q.processAllAvailable()
        counts = {
            r["user_id"]: r["n"] for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert counts[7] == 3 and counts[9] == 1
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, stream_env):
    from mapreducecore_spark.streaming.windows import interval_join_streams

    src, chk, write_batch = stream_env
    write_batch(
        [
            _ev(1, "2024-06-01 10:00:00", user=1, etype="click"),
            _ev(2, "2024-06-01 10:02:00", user=1, etype="purchase"),
            _ev(3, "2024-06-01 10:30:00", user=1, etype="view"),
            _ev(4, "2024-06-01 10:01:00", user=2, etype="view"),
        ]
    )
    joined = interval_join_streams(
        read_event_stream(spark, src), read_event_stream(spark, src)
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.select("l_id", "r_id")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        pairs = {(r["l_id"], r["r_id"]) for r in spark.sql(f"SELECT * FROM {name}").collect()}
        # same user, r_ts in [l_ts, l_ts+5min]; event 3 is 28 min after
        # event 2 -> outside the horizon; user 2 only self-joins.
        assert pairs == {(1, 1), (1, 2), (2, 2), (3, 3), (4, 4)}
    finally:
        q.stop()


def test_foreach_batch_idempotent_sink(spark, stream_env, tmp_path):
    from mapreducecore_spark.streaming.sinks import idempotent_parquet_sink

    src, chk, write_batch = stream_env
    out = str(tmp_path / "sink_out")
    write_batch([_ev(1, "2024-06-01 10:00:00"), _ev(2, "2024-06-01 10:01:00")])
    write_batch([_ev(3, "2024-06-01 10:02:00")])
    q = idempotent_parquet_sink(read_event_stream(spark, src), out, chk).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    # every event landed exactly once, across >= 2 batch directories
    assert sorted(r["event_id"] for r in got.select("event_id").collect()) == [1, 2, 3]
    assert got.select("batch").distinct().count() >= 2


def test_trigger_available_now_drains_and_stops(spark, stream_env):
    """Trigger.AvailableNow: process everything present, then stop on
    its own — the batch-over-stream mode used for periodic backfill
    jobs sharing the streaming code path."""
    src, chk, write_batch = stream_env
    write_batch([_ev(1, "2024-06-01 10:00:00"), _ev(2, "2024-06-01 10:20:00")])
    write_batch([_ev(3, "2024-06-01 11:05:00")])
    name = f"anow_{uuid.uuid4().hex[:8]}"
    q = (
        tumbling_counts(read_event_stream(spark, src), window="1 hour")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)  # self-terminates after draining
    assert not q.isActive
    rows = {
        (str(r["wstart"]), r["n"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert rows == {("2024-06-01 10:00:00", 2), ("2024-06-01 11:00:00", 1)}


def test_restart_from_checkpoint_resumes_exactly_once(spark, stream_env, tmp_path):
    """Stop a stateful query mid-stream, start a NEW query object from
    the same checkpoint: state must survive and no input may be
    double-counted — Spark's exactly-once contract across restarts."""
    src, chk, write_batch = stream_env
    chk = str(tmp_path / "restart_chk")
    name = f"restart_{uuid.uuid4().hex[:8]}"

    def start(qname):
        return (
            stateful_user_counts(read_event_stream(spark, src))
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", chk)
            .start()
        )

    write_batch([_ev(1, "2024-06-01 10:00:00", user=7), _ev(2, "2024-06-01 10:01:00", user=7)])
    q1 = start(name)
    try:
        q1.processAllAvailable()
        assert spark.sql(f"SELECT n FROM {name} WHERE user_id = 7").collect()[0]["n"] == 2
    finally:
        q1.stop()

    # Data arriving while the query is down is picked up on restart.
    write_batch([_ev(3, "2024-06-01 10:02:00", user=7), _ev(4, "2024-06-01 10:03:00", user=9)])
    name2 = f"{name}_b"
    q2 = start(name2)
    try:
        q2.processAllAvailable()
        counts = {r["user_id"]: r["n"]
                  for r in spark.sql(f"SELECT * FROM {name2}").collect()}
        # user 7: 2 before shutdown + 1 after, never 4 (no double-count
        # of the pre-shutdown files); user 9: the new event.
        assert counts == {7: 3, 9: 1}
    finally:
        q2.stop()


def test_rocksdb_state_store_matches_default(spark, sf_dir):
    """100 TB state story: streaming state larger than executor memory
    needs the RocksDB state store provider (bundled rocksdbjni). The
    same stateful aggregation must produce identical results under
    RocksDB-backed and default (HDFS-backed in-memory) state stores."""
    from mapreducecore_spark.queries.streaming_live import stream_live_user_totals

    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    default_rows = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in stream_live_user_totals(spark, sf_dir).collect()
    }
    prev = spark.conf.get(key)
    spark.conf.set(key, rocks)
    try:
        rocks_rows = {
            (r["user_id"], r["n_events"], r["total_value"])
            for r in stream_live_user_totals(spark, sf_dir).collect()
        }
    finally:
        spark.conf.set(key, prev)
    assert rocks_rows == default_rows and len(rocks_rows) > 0


def test_parquet_sink_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Restart-safety of the durable sink path: an availableNow drain
    into a parquet sink with a checkpoint, then the SAME query restarted
    against the SAME checkpoint, must not re-emit the already-committed
    backlog — the offset log + file-sink transaction log give
    exactly-once across restarts (reference D7, master.h:295-300,
    delegated to Spark's commit protocol)."""
    import os

    from pyspark.sql import functions as F

    from mapreducecore_spark.queries.streaming_live import _event_stream

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain_once():
        q = (
            _event_stream(spark, sf_dir)
            .select("event_id", "user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    drain_once()
    n_batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    first = spark.read.parquet(out)
    assert first.count() == n_batch
    drain_once()  # "restart" — same checkpoint, backlog already committed
    second = spark.read.parquet(out)
    assert second.count() == n_batch
    assert second.select(F.countDistinct("event_id")).first()[0] == n_batch


def test_stateful_agg_resumes_from_checkpoint(spark, tmp_path):
    """Stateful-streaming restart: drain batch 1 with a checkpoint,
    then add batch 2 and re-run the SAME query against the SAME
    checkpoint. The second run reads only the new file, yet its
    complete-mode output equals the aggregation over BOTH batches —
    the per-key counts live in the restored state store, not in a
    re-read of the backlog."""
    import uuid as _uuid

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(rows):
        spark.createDataFrame(rows, EVENTS_COLS).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain():
        stream = (
            spark.readStream.schema(
                spark.read.parquet(src).schema
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        agg = stream.groupBy("user_id").count()
        name = f"resume_{_uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        n_files_read = q.lastProgress["sources"][0]["numInputRows"] if q.lastProgress else None
        q.stop()
        return spark.table(name).collect(), n_files_read

    write_batch([_ev(1, "2026-01-01 10:00:00", user=1), _ev(2, "2026-01-01 10:01:00", user=2)])
    first, _ = drain()
    assert {r["user_id"]: r["count"] for r in first} == {1: 1, 2: 1}

    write_batch([_ev(3, "2026-01-01 10:02:00", user=1), _ev(4, "2026-01-01 10:03:00", user=1)])
    second, n_rows_second = drain()
    # full accumulated state, though only batch 2 was read this run
    assert {r["user_id"]: r["count"] for r in second} == {1: 3, 2: 1}
    assert n_rows_second == 2  # the restart did NOT re-read batch 1


def test_versioned_merge_replay_idempotent(spark, sf_dir, tmp_path):
    """versioned_merge_sink's MERGE step: batch replay (same batch_id,
    same contents — Spark's failure-retry contract) must converge to a
    byte-identical snapshot, and the batch-wise merge must equal a
    single-shot merge of all rows (associativity)."""
    from pyspark.sql import functions as F

    from mapreducecore_spark.catalog import load_tables
    from mapreducecore_spark.streaming.sinks import (
        latest_merge_snapshot,
        merge_batch_into,
    )

    ordkey = F.format_string(
        "%019d|%019d",
        F.unix_timestamp(F.date_trunc("second", F.col("ts").cast("timestamp"))),
        F.col("event_id"),
    )
    ev = (
        load_tables(spark, sf_dir)["events"]
        .select("event_id", "user_id", "event_type", "value", ordkey.alias("ordkey"))
        .filter("user_id < 40")
    )
    b0 = ev.filter("event_id % 2 = 0")
    b1 = ev.filter("event_id % 2 = 1")

    d = str(tmp_path / "state")
    merge_batch_into(b0, 0, d)
    merge_batch_into(b1, 1, d)
    first = sorted(tuple(r) for r in latest_merge_snapshot(spark, d).collect())

    merge_batch_into(b1, 1, d)  # failure-retry replay of batch 1
    replay = sorted(tuple(r) for r in latest_merge_snapshot(spark, d).collect())
    assert replay == first

    d2 = str(tmp_path / "single")
    merge_batch_into(ev, 0, d2)
    single = sorted(tuple(r) for r in latest_merge_snapshot(spark, d2).collect())
    assert single == first


def test_drain_frees_its_checkpoint(spark, sf_dir, tmp_path, monkeypatch):
    """A live drain removes its checkpoint dir when it returns; the
    rows come from the memory sink, which outlives it."""
    from mapreducecore_spark.queries import REGISTRY, _load_all

    _load_all()
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path))
    rows = REGISTRY["stream_live_tumbling_counts"].fn(spark, sf_dir).collect()
    assert rows
    assert not list(tmp_path.glob("mrc_ckpt_*"))


@pytest.mark.parametrize(
    "name",
    ["stream_live_foreachbatch_sink", "stream_live_cdc_merge", "stream_live_incremental_dedup_wm"],
)
def test_relaid_stream_inputs_are_freed_on_return(name, spark, duck, sf_dir, tmp_path, monkeypatch):
    """A query that re-lays its stream input removes every scratch dir
    before it returns; its rows, read after that, still equal the
    DuckDB oracle's."""
    from mapreducecore_spark.queries import REGISTRY, _load_all

    _load_all()
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path))
    df = REGISTRY[name].fn(spark, sf_dir)
    assert not list(tmp_path.iterdir())
    rel = duck.sql(REGISTRY[name].oracle)
    assert sorted(df.columns) == sorted(rel.columns)
    order = [rel.columns.index(c) for c in df.columns]

    def canon(rows):
        return sorted(
            repr(tuple(round(v, 9) if isinstance(v, float) else v for v in row)) for row in rows
        )

    got = canon(df.collect())
    assert got, "empty output proves nothing"
    assert got == canon([row[i] for i in order] for row in rel.fetchall())


def test_stream_scratch_falls_back_to_disk_when_shm_is_short():
    """A re-laid input that does not fit the free space of /dev/shm gets
    its scratch dir on disk (the system tempdir) instead."""
    from mapreducecore_spark.queries.streaming_live import _stream_scratch

    need = shutil.disk_usage("/dev/shm").free + 1
    d = _stream_scratch("mrc_fit_test_", need)
    try:
        assert os.path.isdir(d)
        assert not os.path.realpath(d).startswith("/dev/shm" + os.sep)
    finally:
        shutil.rmtree(d, ignore_errors=True)
