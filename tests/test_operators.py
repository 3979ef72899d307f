"""Tests for skew operators (salting must not change semantics) and
the custom stateful streaming operator."""

from __future__ import annotations

import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from mapreducecore_spark.catalog import load_tables
from mapreducecore_spark.operators import salted_aggregate, salted_join, top_k_per_group


def test_salted_aggregate_equals_plain(spark, sf_dir):
    li = load_tables(spark, sf_dir)["lineitem"]
    plain = (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
    )
    salted = salted_aggregate(
        li,
        ["l_returnflag"],
        [
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        ],
        n_salts=8,
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_equals_plain(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select(F.col("l_orderkey").alias("okey"), "l_quantity")
    o = t["orders"].select(F.col("o_orderkey").alias("okey"), "o_orderstatus")
    plain = li.join(o, "okey").groupBy("o_orderstatus").count()
    salted = salted_join(li, o, ["okey"], n_salts=8).groupBy("o_orderstatus").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_top_k_per_group_operator(spark, sf_dir):
    o = load_tables(spark, sf_dir)["orders"]
    got = top_k_per_group(
        o, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 2
    )
    counts = got.groupBy("o_custkey").count().agg(F.max("count")).first()[0]
    assert counts <= 2
    # spot-check one customer against a driver-side sort
    cust = o.groupBy("o_custkey").count().filter("count >= 3").first()["o_custkey"]
    expect = [
        r["o_orderkey"]
        for r in sorted(
            o.filter(F.col("o_custkey") == cust).collect(),
            key=lambda r: (-r["o_totalprice"], r["o_orderkey"]),
        )[:2]
    ]
    have = [
        r["o_orderkey"]
        for r in got.filter(F.col("o_custkey") == cust)
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .collect()
    ]
    assert have == expect


def test_stateful_running_stats_across_batches(spark, tmp_path):
    from mapreducecore_spark.streaming.stateful import running_user_stats
    from mapreducecore_spark.streaming.windows import read_event_stream

    src = str(tmp_path / "src")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def wb(rows):
        spark.createDataFrame(rows, cols).coalesce(1).write.mode("append").parquet(src)

    wb([(1, datetime(2024, 6, 1, 10, 0), 7, "c", 2.0, "{}"),
        (2, datetime(2024, 6, 1, 10, 1), 7, "c", 3.0, "{}")])
    name = f"ss_{uuid.uuid4().hex[:8]}"
    q = (
        running_user_stats(read_event_stream(spark, src))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        wb([(3, datetime(2024, 6, 1, 10, 2), 7, "c", 5.0, "{}")])
        q.processAllAvailable()
        rows = spark.sql(
            f"SELECT * FROM {name} ORDER BY n_events DESC LIMIT 1"
        ).collect()
        # State carried across batches: 3 events, total 10.0, max 5.0.
        assert rows[0]["n_events"] == 3
        assert rows[0]["total_value"] == 10.0
        assert rows[0]["max_value"] == 5.0
    finally:
        q.stop()


def test_merge_asof_semantics(spark):
    """Left as-of: latest right row at-or-before each left time; equal
    timestamps match (inclusive); ties resolve to max tie_break;
    unmatched left rows keep NULLs."""
    from mapreducecore_spark.operators.asof import merge_asof

    left = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 5), (4, "b", 10), (5, "c", 10)],
        ["lid", "k", "t"],
    )
    right = spark.createDataFrame(
        # key a: rows at t=10 (tie: rid 100 vs 101) and t=15
        [("a", 10, 100), ("a", 10, 101), ("a", 15, 102), ("b", 11, 200)],
        ["rk", "rt", "rid"],
    )
    out = merge_asof(
        left, right, "k", "rk", "t", "rt", value_cols=["rt", "rid"], tie_break="rid"
    )
    got = {r["lid"]: (r["rt"], r["rid"]) for r in out.collect()}
    assert got[1] == (10, 101)       # inclusive <=, tie -> max rid
    assert got[2] == (15, 102)       # latest at-or-before 20
    assert got[3] == (None, None)    # before any right row
    assert got[4] == (None, None)    # right exists only after t
    assert got[5] == (None, None)    # key absent on right side


def test_connected_components_shapes(spark):
    """Chain, triangle, and disjoint pair all collapse to min-id labels."""
    from mapreducecore_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """With reliable_checkpoint_dir set, the loop runs through
    df.checkpoint() (fault-tolerant lineage cut): results identical and
    checkpoint files actually land in the directory. checkpoint_every=1
    forces the durable path every round; a long chain needs >1 round so
    both the checkpoint and the convergence logic are exercised."""
    import os

    from mapreducecore_spark.operators.components import connected_components

    chain = [(i, i + 1) for i in range(12)] + [(50, 51)]
    pairs = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    ckpt = str(tmp_path / "cc_ckpt")
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            pairs, reliable_checkpoint_dir=ckpt, checkpoint_every=1
        ).collect()
    }
    expect = {i: 0 for i in range(13)} | {50: 50, 51: 50}
    assert got == expect
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "reliable checkpoint wrote no files"


@pytest.mark.parametrize("seed", [7, 23, 99])
def test_merge_asof_matches_naive(spark, seed):
    """Randomized check: merge_asof == nested-loop reference (latest
    right at-or-before, max tie_break on time ties) on small graphs."""
    import random

    rng = random.Random(seed)
    left = [(i, rng.randrange(5), rng.randrange(30)) for i in range(40)]
    right = [(100 + j, rng.randrange(5), rng.randrange(30)) for j in range(25)]

    def naive(lk, lt):
        cands = [(rt, rid) for rid, rk, rt in right if rk == lk and rt <= lt]
        return max(cands) if cands else (None, None)

    ldf = spark.createDataFrame(left, ["lid", "k", "t"])
    rdf = spark.createDataFrame(
        [(rk, rt, rid) for rid, rk, rt in right], ["rk", "rt", "rid"]
    )
    from mapreducecore_spark.operators.asof import merge_asof

    out = merge_asof(ldf, rdf, "k", "rk", "t", "rt", ["rt", "rid"], tie_break="rid")
    got = {r["lid"]: (r["rt"], r["rid"]) for r in out.collect()}
    for lid, lk, lt in left:
        assert got[lid] == naive(lk, lt), (lid, lk, lt)


@pytest.mark.parametrize("seed", [3, 41])
def test_connected_components_matches_union_find(spark, seed):
    """Randomized graphs: label propagation == classic union-find."""
    import random

    rng = random.Random(seed)
    nodes = list(range(60))
    pairs = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(45)]
    pairs = [(a, b) for a, b in pairs if a != b]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    # canonical label = min node of each set
    members = {}
    for a, b in pairs:
        for x in (a, b):
            members.setdefault(find(x), set()).add(x)
    expect = {x: min(members[find(x)]) for ab in pairs for x in ab}

    from mapreducecore_spark.operators.components import connected_components

    pdf = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    got = {r["node"]: r["component"] for r in connected_components(pdf).collect()}
    assert got == expect


def test_hll_sketch_merge_accuracy(spark, sf_dir):
    from mapreducecore_spark.queries.quality import agg_hll_sketch_merge

    rows = {r["scope"]: r["approx_custkeys"]
            for r in agg_hll_sketch_merge(spark, sf_dir).collect()}
    exact_all = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_custkey").distinct().count()
    )
    # lgConfigK=14 -> relative error ~0.8%; allow 5%.
    assert abs(rows["ALL"] - exact_all) / exact_all < 0.05
    # merged estimate >= any single-status estimate
    assert rows["ALL"] >= max(v for k, v in rows.items() if k != "ALL")


def test_approx_count_distinct_accuracy(spark, sf_dir):
    """The rows-only sketch op must land within its configured 2% rsd
    (allow 5% absolute slack) of the exact distinct count per group."""
    from pyspark.sql import functions as F

    from mapreducecore_spark.queries.relational import agg_approx_count_distinct

    approx = {
        r["l_returnflag"]: r["approx_n_part"]
        for r in agg_approx_count_distinct(spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        assert abs(approx[k] - exact[k]) / exact[k] < 0.05, (k, approx[k], exact[k])


def test_approx_percentile_brackets_exact(spark, sf_dir):
    """Each sketch quantile must bracket the exact percentile within
    1% of the group's value range (accuracy 10000 -> much tighter)."""
    from pyspark.sql import functions as F

    from mapreducecore_spark.queries.advanced import agg_approx_percentile

    approx = {
        r["o_orderstatus"]: [r["p25"], r["p50"], r["p75"]]
        for r in agg_approx_percentile(spark, sf_dir).collect()
    }
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact = {
        r["o_orderstatus"]: (r["pcts"], r["lo"], r["hi"])
        for r in od.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").alias("pcts"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .collect()
    }
    for k, (ex, lo, hi) in exact.items():
        span = float(hi) - float(lo)
        for a, e in zip(approx[k], ex):
            assert abs(float(a) - float(e)) <= 0.01 * span, (k, a, e)
        assert list(approx[k]) == sorted(approx[k])  # monotone quantiles


def test_sample_stratified_fractions_and_determinism(spark, sf_dir):
    """Seeded sampleBy: per-stratum rates near their targets and the
    SAME rows on re-execution (deterministic seed)."""
    from mapreducecore_spark.queries.advanced import sample_stratified

    got1 = sample_stratified(spark, sf_dir).collect()
    got2 = sample_stratified(spark, sf_dir).collect()
    assert sorted(map(tuple, got1)) == sorted(map(tuple, got2))
    from pyspark.sql import functions as F

    totals = {
        r["o_orderstatus"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    targets = {"F": 0.1, "O": 0.05, "P": 0.5}
    from collections import Counter

    counts = Counter(r["o_orderstatus"] for r in got1)
    for k, frac in targets.items():
        if totals.get(k, 0) >= 200:  # enough mass for a rate check
            rate = counts[k] / totals[k]
            assert abs(rate - frac) < max(0.5 * frac, 0.03), (k, rate, frac)


def test_spread_guard_rejects_non_scan_frames(spark, sf_dir):
    """spread()'s retry-stability invariant (hash on
    monotonically_increasing_id is only deterministic over a
    deterministic parent row order) is now enforced mechanically on
    every call (VERDICT r8 #5 / ADVICE r7 #2): a shuffled, aggregated,
    or joined argument must raise, while the blessed
    scan/Project/Filter shapes pass."""
    from mapreducecore_spark.queries._util import spread

    docs = load_tables(spark, sf_dir)["documents"]
    # blessed shapes: bare scan, Project-over-scan, Filter-over-scan
    spread(docs)
    spread(docs.select("doc_id", "text"))
    spread(docs.filter(F.col("doc_id") > 10).selectExpr("doc_id"))

    for bad in (
        docs.repartition(4),  # Repartition: round-robin order
        docs.groupBy("source").count(),  # Aggregate
        docs.select("doc_id").join(
            docs.select(F.col("doc_id").alias("d2")),
            F.col("doc_id") == F.col("d2"),
        ),  # Join
        docs.orderBy("doc_id"),  # Sort (range-partitioned on action)
    ):
        with pytest.raises(AssertionError, match="spread\\(\\) must sit directly"):
            spread(bad)


def test_spread_width_wave_balanced():
    """Round 12 (guide §2.6 / VERDICT r11 #1): a size-derived width
    past one wave of cores rounds UP to a multiple of the core count —
    the 3000x corpus sized to 45 tasks on 32 cores and ran a 32+13
    two-wave split with the second wave 60% idle. Widths at or below
    one wave (every sf0.1 table) are untouched, so toy-scale plans are
    byte-identical."""
    from mapreducecore_spark.queries._util import _spread_width

    mb = 1 << 20
    # sf0.1 shape: tiny file -> floor, untouched by wave rounding
    assert _spread_width(300 * mb // 100, 16, 32) == 16
    # exactly one wave: untouched
    assert _spread_width(32 * 32 * mb, 16, 32) == 32
    # the measured 3000x case: 1.5 GB -> 45 raw -> 64 (two full waves)
    assert _spread_width(1_495_605_131, 16, 32) == 64
    # just past a wave boundary -> next multiple
    assert _spread_width(33 * 32 * mb, 16, 32) == 64
    # floor stays a floor when cores exceed it (cluster dp=128)
    assert _spread_width(1 * mb, 16, 128) == 16
    # cap wins over divisibility
    assert _spread_width(1 << 40, 16, 24) == 2048
    # degenerate parallelism: no rounding, no crash
    assert _spread_width(1_495_605_131, 16, 0) == 45


def test_expanding_session_contract(spark):
    """@expanding queries build on a clone with a 16 MB advisory, 32 MB
    splits and 512-row reader batches, created once per base session.
    A session that already carries an advisory (an operator pin, or the
    clone itself) comes back unchanged."""
    from mapreducecore_spark.queries._util import expanding_session

    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    base = spark.newSession()
    clone = expanding_session(base)
    assert clone is not base
    assert clone.conf.get(advisory) == str(16 << 20)
    assert clone.conf.get("spark.sql.files.maxPartitionBytes") == str(32 << 20)
    assert clone.conf.get("spark.sql.parquet.columnarReaderBatchSize") == "512"
    assert base.conf.get(advisory, None) is None, "clone conf leaked to the base"
    assert expanding_session(base) is clone
    assert expanding_session(clone) is clone

    pinned = spark.newSession()
    pinned.conf.set(advisory, "8MB")
    assert expanding_session(pinned) is pinned


def test_table_cache_does_not_pin_dropped_sessions(spark, sf_dir):
    """ADVICE r9 #1 (and the round-10 correction to its first fix):
    load_tables' plan cache must not keep a dropped session alive.
    Cached DataFrames strongly reference their session, so any
    global-rooted cache — weak-keyed or id-keyed-with-finalizer —
    pins the session through its own values. The cache therefore
    lives on the session object itself (a collectible pure cycle);
    this test is the regression guard: a newSession clone that loaded
    tables must be garbage-collectible once dropped."""
    import gc
    import weakref

    clone = spark.newSession()
    tables = load_tables(clone, sf_dir)
    assert clone.__dict__["_graft_table_cache"], "cache never populated"
    # second load on the same clone hits the cache (same object back)
    assert load_tables(clone, sf_dir)["documents"] is tables["documents"]
    ref = weakref.ref(clone)
    del clone, tables
    # Upstream caveat: pyspark's SparkSession constructor monkey-patches
    # RDD.toDF with a closure over the newest session (class-level), so
    # the MOST RECENT session is always pinned by pyspark itself —
    # bounded to one. Creating one more throwaway session moves that
    # pin off our clone; what remains reachable is then only what OUR
    # code holds.
    spark.newSession()
    gc.collect()
    assert ref() is None, (
        "dropped session still reachable — the table cache is pinning it"
    )


def test_stream_width_size_adaptive():
    """Round 12 (guide §2, scale-adaptive partitioning): _drain's state
    width maps ~1 MiB of stream input per partition within
    [4, defaultParallelism]. Calibrated by same-JVM A/Bs: sf0.1 events
    (2 MB) -> 4 (per-batch store provisioning dominates small state);
    sf1 interval join (2x10 MB) -> needs >= 16 (19.7 s at 4 vs 7.2 at
    16/32). Unknown sizes fall back to the floor."""
    from mapreducecore_spark.queries.streaming_live import _stream_width

    mb = 1 << 20
    assert _stream_width(None, 32) == 4          # unknown -> floor
    assert _stream_width(0, 32) == 4
    assert _stream_width(2 * mb, 32) == 4        # sf0.1 events
    assert _stream_width(20 * mb, 32) == 20      # sf1 interval join (2 sides)
    assert _stream_width(1 << 30, 32) == 32      # capped at parallelism
    assert _stream_width(20 * mb, 8) == 8        # low-core driver run
    assert _stream_width(20 * mb, 0) == 4        # degenerate parallelism


def test_src_bytes_sums_directory_parquet(spark, sf_dir, tmp_path):
    """A directory-shaped parquet source (what gen_scaledata writes at
    large copy counts) must size the stream by its part files, not by
    the directory inode — otherwise _stream_width collapses to its
    floor exactly where the input is largest."""
    import os

    from mapreducecore_spark.queries.streaming_live import _src_bytes

    load_tables(spark, sf_dir)["documents"].repartition(3).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    parts = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(tmp_path / "documents.parquet")
        for f in fs
        if f.startswith("part-")
    ]
    assert len(parts) >= 2
    want = sum(os.path.getsize(p) for p in parts)
    assert _src_bytes(str(tmp_path), "documents.parquet") == want
    assert _src_bytes(str(tmp_path), "documents.parquet", "documents.parquet") == 2 * want
