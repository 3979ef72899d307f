"""Round-5 operator tests: persisted band-index incremental dedup,
survivor-trained DSIR pipeline (v3), and watermark-bounded streaming
incremental dedup.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreducecore_spark.queries import REGISTRY, _load_all

_load_all()

SF_DIR_FALLBACK = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_persisted_incremental_equals_one_shot(spark, sf_dir):
    """The two-step path (write band index parquet, run the new batch
    against the index read from disk) must produce exactly the pairs
    the one-shot dedup_incremental_minhash computes — the claim that
    makes the persisted index a safe production substitute."""
    one_shot = REGISTRY["dedup_incremental_minhash"].fn(spark, sf_dir)
    persisted = REGISTRY["dedup_incremental_persisted"].fn(spark, sf_dir)
    assert _rows(persisted, ["new_id", "match_id"]) == _rows(
        one_shot, ["new_id", "match_id"]
    )


def test_band_index_build_stats_consistent(spark, sf_dir):
    """Summary invariants: index rows = 4 bands per indexed doc; the
    bucket count can't exceed the row count; the widest bucket is at
    least 1 and at most the row count."""
    row = REGISTRY["dedup_band_index_build"].fn(spark, sf_dir).collect()[0]
    assert row.n_index_rows == 4 * row.n_docs_indexed
    assert 1 <= row.n_buckets <= row.n_index_rows
    assert 1 <= row.max_bucket_width <= row.n_index_rows


def _check_v3_on_survivors(spark, sf_dir):
    """v3 = v2's gate/dedup/cap stages + DSIR models fit on the
    SURVIVOR set: survivor-trained scores must differ from
    full-corpus-trained scores for some survivor, and v3's output must
    be exactly the survivor rows whose survivor-trained weight selects
    them. Returns that expected doc_id list."""
    from mapreducecore_spark.catalog import load_tables
    from mapreducecore_spark.queries.curation import _dsir_scores
    from mapreducecore_spark.queries.pipeline import _gate_dedup_cap

    capped = _gate_dedup_cap(spark, sf_dir).cache()
    assert capped.count() > 0
    surv_scores = {
        r.doc_id: r.log_weight
        for r in _dsir_scores(capped.select("doc_id", "source", "text")).collect()
    }
    full_scores = {
        r.doc_id: r.log_weight
        for r in _dsir_scores(
            load_tables(spark, sf_dir)["documents"].select("doc_id", "source", "text")
        ).collect()
    }
    survivors = [r.doc_id for r in capped.select("doc_id").collect()]
    assert set(survivors) <= set(full_scores)
    assert any(
        surv_scores[d] != full_scores[d] for d in survivors
    ), "survivor-trained DSIR produced identical weights to full-corpus DSIR"
    # v3 output == survivors whose survivor-trained weight >= 0
    expect = sorted(d for d in survivors if surv_scores[d] >= 0)
    v3 = REGISTRY["corpus_curation_pipeline_v3"].fn(spark, sf_dir)
    got = sorted(r.doc_id for r in v3.select("doc_id").collect())
    assert got == expect
    capped.unpersist()
    return expect


def test_pipeline_v3_dsir_trained_on_survivors(spark, sf_dir):
    """Structural at the test scale, where the selected set is empty."""
    _check_v3_on_survivors(spark, sf_dir)


def test_pipeline_v3_dsir_trained_on_survivors_crafted(spark, curation_dir):
    """The same check on the crafted corpus, where v3 selects rows."""
    assert _check_v3_on_survivors(spark, curation_dir)


def test_write_exact_files_boundary_multipartition(spark, tmp_path):
    """ADVICE r4 (medium): rows ≈ n_files with a MULTI-partition input
    is exactly the regime where Catalyst's CollapseRepartition used to
    drop the coalesce(1) and round-robin offsets collided (70 rows / 8
    partitions yielded 49 of 64 files). The eager localCheckpoint in
    _write_exact_files must pin the file count to min(n_files, rows)."""
    from mapreducecore_spark.queries.maintenance import _write_exact_files

    src = str(tmp_path / "src")
    spark.range(70).selectExpr("id AS o_orderkey", "CAST(id AS DOUBLE) AS o_totalprice") \
        .repartition(8).write.parquet(src)
    df = spark.read.parquet(src)
    assert df.rdd.getNumPartitions() > 1, "precondition: multi-partition input"

    # (n_files <= rows is the helper's precondition; callers clamp)
    for n_files, rows in [(64, 70), (8, 70), (3, 3)]:
        out = str(tmp_path / f"out_{n_files}_{rows}")
        _write_exact_files(df.limit(rows), n_files, out)
        got = len(spark.read.parquet(out).inputFiles())
        assert got == n_files, (n_files, rows, got)
        assert spark.read.parquet(out).count() == rows


def test_maintenance_compact_boundary_rows(spark, tmp_path):
    """End-to-end operator at the boundary: restrict orders to ~70 rows
    via a scratch sf_dir and assert n_files_before == LEAST(64, rows)
    — the contract the oracle states."""
    import duckdb

    from mapreducecore_spark.catalog import load_tables

    base = load_tables(spark, SF_DIR_FALLBACK)["orders"]
    scratch_sf = str(tmp_path / "sf_tiny")
    os.makedirs(scratch_sf)
    # load_tables opens every table — symlink the rest, replace orders
    for f in os.listdir(SF_DIR_FALLBACK):
        if f.endswith(".parquet") and f != "orders.parquet":
            os.symlink(f"{SF_DIR_FALLBACK}/{f}", f"{scratch_sf}/{f}")
    base.limit(70).repartition(8).write.parquet(f"{scratch_sf}/orders.parquet")
    # the operator only reads orders; other tables need not exist
    spec = REGISTRY["maintenance_compact_small_files"]
    row = spec.fn(spark, scratch_sf).collect()[0]
    n_rows = row.n_rows
    assert row.n_files_before == min(64, n_rows)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{scratch_sf}/orders.parquet/*.parquet'"
    )
    oracle = con.sql(spec.oracle).fetchall()[0]
    assert (row.n_files_before, row.n_files_after, row.n_rows) == oracle[:3]
    con.close()


def test_stream_incremental_wm_bounded_state(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark must EVICT pair state as the
    watermark advances across the 4 hour-apart ingest files — the
    bounded-state property the unbounded dropDuplicates form lacks —
    while the drained output still equals the unbounded form's."""
    from mapreducecore_spark.queries.streaming_live import (
        _incremental_dedup_stream,
    )

    out = _incremental_dedup_stream(spark, sf_dir, str(tmp_path / "in"))
    q = (
        out.writeStream.format("memory")
        .queryName("wm_state_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    removed = 0
    max_rows_total = 0
    for p in q.recentProgress:
        for op in p.get("stateOperators", []):
            if op.get("operatorName") == "dedupeWithinWatermark":
                removed += op.get("numRowsRemoved", 0)
                max_rows_total = max(max_rows_total, op.get("numRowsTotal", 0))
    drained = spark.table("wm_state_probe")
    n_pairs = drained.count()
    assert n_pairs == drained.select("new_id", "match_id").distinct().count()
    assert removed > 0, "watermark never evicted pair state"
    assert max_rows_total < n_pairs, (
        f"state held {max_rows_total} rows >= total {n_pairs} pairs - unbounded"
    )
    # and the watermarked form loses no pairs vs the unbounded form
    unbounded = REGISTRY["stream_live_incremental_dedup"].fn(spark, sf_dir)
    assert _rows(drained, ["new_id", "match_id"]) == _rows(
        unbounded, ["new_id", "match_id"]
    )


def test_ingest_incremental_flags_consistent(spark, sf_dir):
    """corpus_ingest_incremental audit flags must agree with the
    operators they compose: one row per new doc; near_dup exactly
    matches dedup_incremental_minhash's eligible pair set; accepted is
    the stage conjunction."""
    out = {r.doc_id: r for r in REGISTRY["corpus_ingest_incremental"].fn(spark, sf_dir).collect()}
    from mapreducecore_spark.catalog import load_tables

    new_ids = {
        r.doc_id
        for r in load_tables(spark, sf_dir)["documents"]
        .filter("doc_id % 10 = 0")
        .select("doc_id")
        .collect()
    }
    assert set(out) == new_ids
    pairs = REGISTRY["dedup_incremental_minhash"].fn(spark, sf_dir).collect()
    near_expect = {
        p.new_id for p in pairs if p.match_id % 10 != 0 or p.match_id < p.new_id
    }
    near_got = {d for d, r in out.items() if r.near_dup}
    assert near_got == near_expect
    for r in out.values():
        assert r.accepted == (
            r.gate_pass and not r.exact_dup and not r.near_dup and r.selected
        )


def test_ann_pq_structure_and_recall(spark, sf_dir, duck):
    """ann_pq_topk: 5 neighbors per query, non-negative estimated
    distances, and recall@5 vs the exact L2 top-5 well above chance —
    the data is fixed, so the measured 0.225 at sf0.001 is
    deterministic; the floor leaves margin only for intentional
    parameter changes (chance level with 500 vectors is 0.01)."""
    rows = REGISTRY["ann_pq_topk"].fn(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        assert r.pq_dist2 >= 0
        per_q.setdefault(r.q_id, []).append(r.neighbor_id)
    assert set(per_q) == set(range(8))
    assert all(len(v) == 5 for v in per_q.values())
    exact = duck.sql(
        """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                   FROM embeddings),
        q AS (SELECT vec_id q_id, emb q FROM e WHERE vec_id < 8),
        d AS (SELECT q.q_id, e.vec_id n_id,
                     list_inner_product(q.q, q.q) - 2 * list_inner_product(q.q, e.emb)
                     + list_inner_product(e.emb, e.emb) AS d2
              FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id)
        SELECT q_id, n_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, n_id) rn FROM d
        ) WHERE rn <= 5
        """
    ).fetchall()
    truth = {}
    for qid, nid in exact:
        truth.setdefault(qid, set()).add(nid)
    hits = sum(len(truth[q] & set(per_q[q])) for q in truth)
    assert hits / 40 >= 0.15, f"PQ recall collapsed: {hits}/40"


def test_ann_pq_trained_reduces_quantization_error(spark, sf_dir):
    """The Lloyd guarantee: one mean-update round must not increase
    per-subvector quantization error (measured 28% reduction at
    sf0.01). Recall on the tiny 8-query probe is NOT asserted — 40
    samples is noise; MSE is the trained codebook's actual
    objective."""
    from mapreducecore_spark.queries.llm import _PQ_SUB_D2, _pq_codebook, _pq_subrows

    subrows = _pq_subrows(spark, sf_dir).cache()
    cb0 = _pq_codebook(subrows, 0)

    def mse(cb):
        scored = subrows.join(F.broadcast(cb), "s").selectExpr(
            "vec_id", "s", f"{_PQ_SUB_D2} AS d2"
        )
        best = scored.groupBy("vec_id", "s").agg(F.min("d2").alias("d2"))
        return best.agg(F.avg("d2")).collect()[0][0]

    m0 = mse(cb0)
    cb1 = _pq_codebook(subrows, 1)
    m1 = mse(cb1)
    subrows.unpersist()
    assert m1 <= m0, (m0, m1)


def test_classifier_lr_train_reduces_loss(spark, sf_dir, duck):
    """Two GD steps must reduce the full-batch logistic loss below the
    w=0 starting point (ln 2) — the training actually trains. Loss is
    recomputed independently in DuckDB from the returned weights."""
    import math

    from mapreducecore_spark.llm.minhash import TOKS_DUCK

    w = REGISTRY["classifier_lr_train"].fn(spark, sf_dir).collect()
    assert len(w) > 0
    vals = ", ".join(f"({r.bucket}, {r.w_step2})" for r in w)
    loss = duck.sql(
        f"""
        WITH w(bucket, wv) AS (VALUES {vals}),
        toks AS (SELECT doc_id, source, unnest({TOKS_DUCK}) AS token
                 FROM documents),
        feats AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) % 1024 AS bucket,
                 COUNT(*) AS x
          FROM toks GROUP BY doc_id, bucket
        ),
        z AS (SELECT f.doc_id, SUM(w.wv * f.x) AS z
              FROM feats f JOIN w USING (bucket) GROUP BY f.doc_id),
        scored AS (
          SELECT d.doc_id,
                 CASE WHEN d.source = 'src1' THEN 1.0 ELSE 0.0 END AS y,
                 1.0 / (1.0 + exp(-COALESCE(z.z, 0))) AS p
          FROM documents d LEFT JOIN z USING (doc_id)
        )
        SELECT AVG(-(y * ln(p) + (1 - y) * ln(1 - p))) FROM scored
        """
    ).fetchall()[0][0]
    assert loss < math.log(2), f"loss {loss} did not improve on ln(2)"
