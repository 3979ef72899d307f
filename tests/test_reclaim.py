"""reclaim()'s settle poll is headroom-conditional (round 11).

The poll exists to stop a tens-of-GB staged job racing pending
shuffle-file deletes to ENOSPC; when the block-manager scratch holds
less than the master's threshold (_reclaim_min_bytes) it must return
immediately after the gc enqueue instead of paying the ~1 s two-sample floor —
that floor was the dominant per-query cost of the staged dedup
queries at sf0.1 (VERDICT r10 #2).
"""

from __future__ import annotations

from mapreducecore_spark.queries import _util


def test_scratch_bytes_counts_blockmgr_files_only(tmp_path):
    bm = tmp_path / "blockmgr-0000-aaaa"
    (bm / "0c").mkdir(parents=True)
    (bm / "0c" / "shuffle_0_0_0.data").write_bytes(b"x" * 1234)
    # Live localCheckpoint blocks are NOT reclaimable by a settle wait
    # and must not count (round 12): a long session's accumulated
    # DISK_ONLY checkpoints otherwise re-activate the poll silently.
    (bm / "rdd_1_0").write_bytes(b"y" * 100)
    (bm / "0c" / "rdd_7_31").write_bytes(b"y" * 50_000)
    # Non-blockmgr siblings are not scratch and must not count.
    other = tmp_path / "spark-driver-tmp"
    other.mkdir()
    (other / "big.bin").write_bytes(b"z" * 10_000)
    assert _util._scratch_bytes(str(tmp_path)) == 1234


def test_scratch_bytes_counts_temp_and_broadcast(tmp_path):
    # temp_* and broadcast_* blocks stay countable — both are cleaner-
    # deletable, so excluding them would err AWAY from polling.
    bm = tmp_path / "blockmgr-0000-bbbb"
    bm.mkdir()
    (bm / "temp_shuffle_uuid0").write_bytes(b"x" * 300)
    (bm / "broadcast_3").write_bytes(b"x" * 200)
    (bm / "shuffle_1_0_0.index").write_bytes(b"x" * 16)
    assert _util._scratch_bytes(str(tmp_path)) == 516


def test_scratch_bytes_empty_spool(tmp_path):
    assert _util._scratch_bytes(str(tmp_path)) == 0


def _spy_sleep(monkeypatch):
    """Record poll sleeps without paying them. Wall-clock assertions are
    the wrong tool here: the unconditional System.gc() alone can take
    >1 s late in a long-lived test session (heap full of listener
    state), and a session that has run hundreds of materialize() calls
    can legitimately hold >1 GiB of live checkpoint blocks — both
    false-fail a timing bound. The contract under test is the sleep
    DECISION, so assert on that."""
    slept: list[float] = []

    def spy(secs):
        slept.append(secs)

    monkeypatch.setattr(_util, "_sleep", spy)
    return slept


def test_reclaim_skips_settle_poll_when_under_threshold(spark, monkeypatch):
    # Force the skip branch regardless of how much scratch this shared
    # test session has accumulated.
    monkeypatch.setattr(_util, "_RECLAIM_MIN_BYTES", 1 << 60)
    slept = _spy_sleep(monkeypatch)
    _util.reclaim(spark)
    assert slept == [], f"reclaim() polled despite scratch under threshold: {slept}"


def test_reclaim_polls_when_scratch_exceeds_threshold(spark, monkeypatch):
    monkeypatch.setattr(_util, "_RECLAIM_MIN_BYTES", 0)
    slept = _spy_sleep(monkeypatch)
    _util.reclaim(spark, settle_secs=2.0)
    assert slept, "reclaim() skipped the settle poll above threshold"


def test_reclaim_min_bytes_derived_from_master():
    # One JVM: the driver's spool is the whole block store, skip under
    # 1 GiB. Remote executors: the driver cannot see their scratch, so
    # always GC and poll.
    for master in ("local", "local[4]", "local[*]"):
        assert _util._reclaim_min_bytes(master) == 1 << 30, master
    for master in ("local-cluster[2,4,2048]", "spark://h:7077"):
        assert _util._reclaim_min_bytes(master) == 0, master


def test_scratch_bytes_scoped_to_own_dirs(tmp_path):
    # Round 12: a stale blockmgr-* leaked by a dead JVM (observed: 20 GB
    # from a killed 3000x run) must not re-activate the poll — when the
    # session's own dirs are known, only they are counted.
    stale = tmp_path / "blockmgr-dead-jvm"
    stale.mkdir()
    (stale / "shuffle_9_0_0.data").write_bytes(b"x" * 50_000)
    own = tmp_path / "blockmgr-this-session"
    own.mkdir()
    (own / "shuffle_0_0_0.data").write_bytes(b"x" * 77)
    assert _util._scratch_bytes(str(tmp_path), [str(own)]) == 77
    # Unknown ownership falls back to everything (errs toward polling).
    assert _util._scratch_bytes(str(tmp_path), None) == 50_077


def test_own_blockmgr_dirs_resolves_live_dir(spark):
    dirs = _util._own_blockmgr_dirs(spark)
    assert dirs, "accessor returned nothing on a live local session"
    assert all("blockmgr-" in d for d in dirs)
    import os

    assert all(os.path.isdir(d) for d in dirs)


def test_reclaim_full_gc_is_headroom_conditional(spark, monkeypatch):
    """Round 12: the driver System.gc() (150-300 ms each, 2-4 per staged
    query) fires only when TOTAL own scratch (rdd_* included, so dead
    dropped-checkpoint blocks still get their deletes enqueued once
    they accumulate) crosses the threshold; the poll additionally needs
    the non-rdd share over it."""

    class _FakeSystem:
        calls = 0

        def gc(self):
            _FakeSystem.calls += 1

    class _FakeJvm:
        System = _FakeSystem()

    monkeypatch.setattr(spark.sparkContext, "_jvm", _FakeJvm())
    monkeypatch.setattr(_util, "_RECLAIM_MIN_BYTES", 1000)
    slept = _spy_sleep(monkeypatch)

    # 1) everything small -> no full GC, no poll
    monkeypatch.setattr(
        _util, "_scratch_bytes", lambda spool, own=None, include_rdd=False: 10
    )
    _util.reclaim(spark)
    assert _FakeSystem.calls == 0 and slept == []

    # 2) big but rdd-dominated -> full GC fires, poll still skipped
    monkeypatch.setattr(
        _util,
        "_scratch_bytes",
        lambda spool, own=None, include_rdd=False: 5000 if include_rdd else 10,
    )
    _util.reclaim(spark)
    assert _FakeSystem.calls == 1 and slept == []

    # 3) big non-rdd scratch -> full GC and poll both fire
    monkeypatch.setattr(
        _util, "_scratch_bytes", lambda spool, own=None, include_rdd=False: 5000
    )
    _util.reclaim(spark, settle_secs=1.0)
    assert _FakeSystem.calls == 2 and slept
