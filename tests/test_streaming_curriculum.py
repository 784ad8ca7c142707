"""Streaming-maintained curriculum (`streaming/curriculum.py`):
maintained schedule ≡ one-shot `curriculum_order` after every batch,
ledger replay idempotence, and the bucket-once property (the ledger
never stores text).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _run_stream(spark, tmp_path, batches):
    from wde_spark.streaming.curriculum import streaming_curriculum_maintain

    feed = os.path.join(str(tmp_path), "feed")
    for i, rows in enumerate(batches, start=1):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(feed, f"b{i}.parquet"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(feed, "*.parquet"))
        # bucketing happens ON the stream — the only pass over text
        .select("doc_id",
                F.coalesce(F.floor(F.octet_length("text") / 64),
                           F.lit(-1)).alias("bucket"))
    )
    target = os.path.join(str(tmp_path), "ledger")
    streaming_curriculum_maintain(
        stream, target, os.path.join(str(tmp_path), "ckpt"))
    return target


def _mkrows(ids):
    return [(i, "x" * (i * 13 % 500)) for i in ids]


def test_maintained_equals_one_shot_after_each_batch(spark, tmp_path):
    from wde_spark.operators.sampling import curriculum_order
    from wde_spark.streaming.curriculum import read_curriculum

    b0, b1 = _mkrows(range(1, 120, 2)), _mkrows(range(0, 120, 2))
    target = _run_stream(spark, tmp_path, [b0, b1])

    def one_shot(rows):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            (r["doc_id"], r["stage"], r["sched_pos"])
            for r in curriculum_order(
                docs,
                F.coalesce(F.floor(F.octet_length("text") / 64),
                           F.lit(-1))).collect()}

    # after the final batch: identical to a full one-shot rebuild
    final = {(r["doc_id"], r["stage"], r["sched_pos"])
             for r in read_curriculum(spark, target).collect()}
    assert final == one_shot(b0 + b1)
    # the ledger as of sequence 1 (only batch 0 arrived): identical to
    # the one-shot over batch 0 — the schedule was always rebuild-exact
    from wde_spark.operators.sampling import curriculum_order as co
    from wde_spark.streaming.compaction import read_merged
    v1 = read_merged(spark, target, ["doc_id", "arrived_batch"], as_of=1)
    mid = {(r["doc_id"], r["stage"], r["sched_pos"])
           for r in co(v1, F.col("bucket")).collect()}
    assert mid == one_shot(b0)
    # ledger provenance survives staging
    ab = {r["doc_id"]: r["arrived_batch"]
          for r in read_curriculum(spark, target).collect()}
    assert all(ab[i] == 0 for i, _t in b0)
    assert all(ab[i] == 1 for i, _t in b1)


def test_replay_idempotent(spark, tmp_path):
    """Re-applying the last batch through the real step function leaves
    the ledger fixed — at-least-once replay cannot duplicate rows."""
    from wde_spark.streaming.curriculum import (apply_curriculum_batch,
                                                read_curriculum)

    b0, b1 = _mkrows(range(1, 40, 2)), _mkrows(range(0, 40, 2))
    target = _run_stream(spark, tmp_path, [b0, b1])
    before = sorted(map(tuple, read_curriculum(spark, target).collect()))
    fresh = spark.createDataFrame(b1, "doc_id long, text string").select(
        "doc_id",
        F.coalesce(F.floor(F.octet_length("text") / 64),
                   F.lit(-1)).alias("bucket"))
    apply_curriculum_batch(fresh, 1, target)
    after = sorted(map(tuple, read_curriculum(spark, target).collect()))
    assert after == before


def test_ledger_is_text_free(spark, tmp_path):
    """The state never stores document bytes — the 100 TB property."""
    from wde_spark.streaming.compaction import read_merged

    target = _run_stream(spark, tmp_path, [_mkrows(range(10))])
    v1 = read_merged(spark, target, ["doc_id", "arrived_batch"])
    assert set(v1.columns) == {"doc_id", "bucket", "arrived_batch"}


def test_read_paced_equals_one_shot_pacing(spark, tmp_path):
    """Maintained pacing over the ledger's arrival-time (bucket, n_tok)
    is row-identical to one-shot curriculum_pacing over the corpus."""
    import os

    from wde_spark.operators.sampling import curriculum_pacing
    from wde_spark.streaming.curriculum import (
        read_paced, streaming_curriculum_maintain)

    rows = [(i, "w " * (i * 7 % 90 + 1)) for i in range(120)]
    feed = os.path.join(str(tmp_path), "feed")
    schema = "doc_id long, text string"
    for j, half in enumerate((rows[0::2], rows[1::2]), start=1):
        spark.createDataFrame(half, schema).coalesce(1) \
            .write.mode("overwrite") \
            .parquet(os.path.join(feed, f"b{j}.parquet"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(feed, "*.parquet"))
        .select("doc_id",
                F.coalesce(F.floor(F.octet_length("text") / 8),
                           F.lit(-1)).alias("bucket"),
                F.size(F.split(F.trim(F.col("text")), r"\s+"))
                .cast("long").alias("n_tok")))
    target = os.path.join(str(tmp_path), "ledger")
    streaming_curriculum_maintain(
        stream, target, os.path.join(str(tmp_path), "ckpt"),
        extra_cols=("n_tok",))
    quotas = [[300, 200, 150], [250, 300, 200], [200, 250, 300]]
    got = {(r["doc_id"], r["stage"], r["n_tok"], r["cum_tok"],
            r["phase"])
           for r in read_paced(spark, target, quotas).collect()}
    docs = spark.createDataFrame(rows, schema)
    want = {(r["doc_id"], r["stage"], r["n_tok"], r["cum_tok"],
             r["phase"])
            for r in curriculum_pacing(
                docs, F.coalesce(F.floor(F.octet_length("text") / 8),
                                 F.lit(-1)),
                F.size(F.split(F.trim(F.col("text")), r"\s+")),
                quotas).collect()}
    assert got == want and got
