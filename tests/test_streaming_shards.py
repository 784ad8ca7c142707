"""Streaming-maintained HRW shard map (`streaming/shard_migration.py`):
maintained ≡ one-shot at the final size, minimal movement (every
migration lands on the newly added shard), move accounting, and replay
idempotence of the COW versions.
"""

from __future__ import annotations

import os

import pytest


def _run_stream(spark, tmp_path, ids_batches, base_shards=6):
    from wde_spark.streaming.shard_migration import (
        read_routing, streaming_shard_maintain)

    feed = os.path.join(str(tmp_path), "feed")
    for i, ids in enumerate(ids_batches, start=1):
        spark.createDataFrame([(x,) for x in ids], "doc_id long") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(feed, f"b{i}.parquet"))
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(feed, "*.parquet"))
    )
    target = os.path.join(str(tmp_path), "route")
    streaming_shard_maintain(
        stream, target, os.path.join(str(tmp_path), "ckpt"),
        base_shards=base_shards)
    return read_routing(spark, target), target


def test_maintained_equals_one_shot_and_moves_minimal(spark, tmp_path):
    from wde_spark.operators.layout import rendezvous_shard

    b0 = list(range(1, 400, 2))
    b1 = list(range(0, 400, 2))
    routing, _ = _run_stream(spark, tmp_path, [b0, b1])
    rows = {r["doc_id"]: r for r in routing.collect()}
    assert len(rows) == 400
    # maintained final shard == one-shot HRW at the final size (8)
    oneshot = {r["doc_id"]: r["s"] for r in
               spark.range(400).withColumnRenamed("id", "doc_id")
               .select("doc_id",
                       rendezvous_shard("doc_id", 8).alias("s"))
               .collect()}
    for d, r in rows.items():
        assert r["shard"] == oneshot[d], d
    # batch-0 docs: n_moves = [argmax at 7 != argmax at 8]; and every
    # moved doc landed on the NEW shard (7)
    at7 = {r["doc_id"]: r["s"] for r in
           spark.createDataFrame([(x,) for x in b0], "doc_id long")
           .select("doc_id", rendezvous_shard("doc_id", 7).alias("s"))
           .collect()}
    moved = 0
    for d in b0:
        want = 1 if at7[d] != oneshot[d] else 0
        assert rows[d]["n_moves"] == want, d
        assert rows[d]["arrived_batch"] == 0
        if want:
            assert oneshot[d] == 7  # minimal movement: only to the new
            moved += 1
    assert 0 < moved < len(b0) / 3  # roughly 1/8 expected
    # batch-1 docs arrived at the final size: never moved
    for d in b1:
        assert rows[d]["n_moves"] == 0 and rows[d]["arrived_batch"] == 1


def test_replay_idempotent(spark, tmp_path):
    """Re-applying a batch id overwrites the same COW version with the
    same content — at-least-once replay cannot corrupt the ledger."""
    from wde_spark.streaming.shard_migration import read_routing

    routing, target = _run_stream(
        spark, tmp_path, [list(range(1, 60, 2)), list(range(0, 60, 2))])
    before = sorted(map(tuple, routing.collect()))
    # replay the LAST batch through the REAL step function — the
    # at-least-once case where v2 already exists when batch 1 re-runs.
    # A latest-version read would see v2 (which already contains batch
    # 1's rows) and double-count; the batch-aligned read must not.
    from wde_spark.streaming.shard_migration import apply_shard_batch

    fresh = spark.createDataFrame(
        [(x,) for x in range(0, 60, 2)], "doc_id long")
    apply_shard_batch(fresh, 1, target)
    after = sorted(map(tuple, read_routing(spark, target).collect()))
    assert after == before
    # and replaying twice more stays fixed
    apply_shard_batch(fresh, 1, target)
    assert sorted(map(tuple, read_routing(spark, target).collect())) \
        == before


def test_shard_cap_raises(spark, tmp_path):
    """Growth past the 64-shard HRW plan limit fails loudly with the
    documented message, not a bare AssertionError inside foreachBatch."""
    from wde_spark.streaming.shard_migration import apply_shard_batch

    batch = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="64 shards"):
        apply_shard_batch(batch, batch_id=58, target_dir=str(tmp_path))
