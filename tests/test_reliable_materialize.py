"""Cluster-mode materialize(): SPARK_GRAFT_RELIABLE_CHECKPOINT swaps
localCheckpoint (executor-block storage, not executor-loss-safe) for
persist + reliable checkpoint() into a durable directory (VERDICT r6
#6). The whole MinHash-LSH dedup flagship — the heaviest materialize()
user (band index, bucket stats, pair branches) — must produce the
identical pair set in both modes, and the reliable run must actually
write checkpoint data to the directory. dedup_incremental_persisted
returns a checkpoint itself, so under the knob the frame it returns
must read a reliable checkpoint file, not executor blocks.
"""

from __future__ import annotations

import os

from mapreducecore_spark.queries import REGISTRY, _load_all

_load_all()

SF = "/root/testdata/sf0.001"


def _pairs(spark, sf):
    return sorted(
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["dedup_minhash_lsh"].fn(spark, sf).collect()
    )


def test_dedup_flagship_under_reliable_checkpoint(spark, tmp_path, monkeypatch):
    local_mode = _pairs(spark, SF)
    ckpt = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", ckpt)
    reliable_mode = _pairs(spark, SF)
    assert reliable_mode == local_mode and len(local_mode) > 0
    # The reliable path must have gone through checkpoint(), not
    # localCheckpoint: checkpoint() writes rdd-* dirs under the
    # configured directory.
    written = [
        os.path.join(dirpath, f)
        for dirpath, _, files in os.walk(ckpt)
        for f in files
    ]
    assert written, "reliable mode wrote no checkpoint data"


def _rdd_dirs(ckpt):
    return [
        d for _, dirs, _ in os.walk(ckpt) for d in dirs if d.startswith("rdd-")
    ]


def test_incremental_persisted_under_reliable_checkpoint(spark, tmp_path, monkeypatch):
    name = "dedup_incremental_persisted"
    local_mode = sorted(tuple(r) for r in REGISTRY[name].fn(spark, SF).collect())
    ckpt = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", ckpt)
    out = REGISTRY[name].fn(spark, SF)
    assert sorted(tuple(r) for r in out.collect()) == local_mode and local_mode
    assert _rdd_dirs(ckpt), "reliable mode wrote no rdd-* checkpoint dirs"
    # The returned frame is the query's final checkpoint: a LogicalRDD
    # whose RDD has a reliable checkpoint file (localCheckpoint has none).
    rdd = out._jdf.queryExecution().analyzed().rdd()
    assert rdd.getCheckpointFile().isDefined(), "the final checkpoint is local"
