"""Streaming maintained FFD manifests (`streaming/pack_admission.py`).

Pinned contracts:
- COMPOSITION: the maintained manifest over batches B1..Bn equals running
  the bucket-local FFD fold over docs ordered by (batch, weight desc, id)
  with earlier batches' bins sealed — i.e. per-batch `ffd_pack` with bin
  ids offset by the per-bucket running bin count.
- SEALING: rows of batch k are byte-identical whether or not batch k+1
  ever arrives (bins already shipped are never rewritten), and no later
  doc lands in an earlier batch's bin.
- REPLAY: re-applying a committed batch rewrites the same manifest bytes
  (deterministic fold + offsets from the PREVIOUS metadata version).
- VALIDITY: every bin respects seq_len unless it holds a single oversized
  doc (classic FFD's overfull-singleton case).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SEQ_LEN = 128
N_BUCKETS = 8


def _weights(spark):
    from wde_spark.functions.strings import tokens

    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id",
                F.size(tokens(F.col("text"))).cast("long").alias("n_tok"))
    )


def _run_stream(spark, t, tmp_path, n_batches: int, tag: str):
    from wde_spark.streaming.pack_admission import streaming_ffd_manifest

    feed = str(tmp_path / f"feed_{tag}")
    now = time.time()
    for i in range(n_batches):
        fdir = os.path.join(feed, f"b{i}.parquet")
        t.filter(F.col("doc_id") % n_batches == i).coalesce(1) \
            .write.mode("overwrite").parquet(fdir)
        for name in os.listdir(fdir):
            os.utime(os.path.join(fdir, name),
                     (now - 600 + i * 60, now - 600 + i * 60))
    stream = (
        spark.readStream.schema(t.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(feed, "*.parquet"))
    )
    target = str(tmp_path / f"pack_{tag}")
    streaming_ffd_manifest(stream, target, str(tmp_path / f"ckpt_{tag}"),
                           seq_len=SEQ_LEN, n_buckets=N_BUCKETS)
    return target


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_composition_equals_sequential_increments(spark, tmp_path):
    """Maintained manifest == driving ffd_pack_increment by hand batch
    by batch with a running per-bucket offset table."""
    from wde_spark.operators.layout import ffd_pack
    from wde_spark.streaming.pack_admission import read_pack_manifest

    t = _weights(spark)
    target = _run_stream(spark, t, tmp_path, 3, "comp")
    got = _rows(read_pack_manifest(spark, target))

    offs = {b: 0 for b in range(N_BUCKETS)}
    want = []
    for i in range(3):
        batch = t.filter(F.col("doc_id") % 3 == i)
        local = ffd_pack(batch, SEQ_LEN, n_buckets=N_BUCKETS).collect()
        for r in local:
            want.append((r["doc_id"], r["bucket"], r["n_tok"],
                         r["bin_id"] + offs[r["bucket"]], i))
        tops: dict[int, int] = {}
        for r in local:
            tops[r["bucket"]] = max(tops.get(r["bucket"], 0), r["bin_id"])
        for b, k in tops.items():
            offs[b] += k
    assert got == sorted(want)


def test_sealing_prefix_stable_and_no_backfill(spark, tmp_path):
    """Batch 0's rows are identical in a 1-batch-only run and in the full
    3-batch run; later batches never reuse an earlier batch's bin."""
    from wde_spark.streaming.pack_admission import read_pack_manifest

    t = _weights(spark)
    full = read_pack_manifest(
        spark, _run_stream(spark, t, tmp_path, 3, "full"))

    t0 = t.filter(F.col("doc_id") % 3 == 0)
    solo_target = _run_stream(spark, t0, tmp_path, 1, "solo")
    solo = _rows(read_pack_manifest(spark, solo_target))
    # the solo run's single batch packs doc_id%3==0 exactly like the full
    # run's batch 0 (same fold, offset 0)
    full_b0 = _rows(full.filter(F.col("batch_no") == 0))
    assert [r[:4] for r in solo] == [r[:4] for r in full_b0]

    # no later doc lands in a bin an earlier batch created
    first_batch = full.groupBy("bucket", "bin_id").agg(
        F.min("batch_no").alias("opened"),
        F.max("batch_no").alias("last_used"))
    bad = first_batch.filter(F.col("last_used") != F.col("opened")).count()
    assert bad == 0


def test_replay_idempotent(spark, tmp_path):
    """Re-applying batch 0 against metadata base 0 rewrites identical
    rows."""
    from wde_spark.streaming.compaction import read_merged
    from wde_spark.streaming.pack_admission import ffd_pack_increment

    t = _weights(spark)
    target = _run_stream(spark, t, tmp_path, 2, "replay")
    b0 = _rows(spark.read.parquet(
        os.path.join(target, "manifest", "b0")).drop("batch_no"))
    off0 = read_merged(spark, os.path.join(target, "meta"), ["bucket"],
                       as_of=0)
    redo = _rows(ffd_pack_increment(
        off0, t.filter(F.col("doc_id") % 2 == 0), SEQ_LEN,
        n_buckets=N_BUCKETS))
    assert redo == b0


def test_bins_respect_seq_len(spark, tmp_path):
    from wde_spark.streaming.compaction import read_merged
    from wde_spark.streaming.pack_admission import read_pack_manifest

    t = _weights(spark)
    target = _run_stream(spark, t, tmp_path, 3, "valid")
    m = read_pack_manifest(spark, target)
    fills = m.groupBy("bucket", "bin_id").agg(
        F.sum("n_tok").alias("fill"), F.count("*").alias("n"))
    over = fills.filter((F.col("fill") > SEQ_LEN) & (F.col("n") > 1))
    assert over.count() == 0
    # metadata ledger agrees with the manifest's bin counts
    last = read_merged(spark, os.path.join(target, "meta"), ["bucket"])
    led = {r["bucket"]: r["bins_so_far"] for r in last.collect()}
    tops = {r["bucket"]: r["top"]
            for r in m.groupBy("bucket")
            .agg(F.max("bin_id").alias("top")).collect()}
    for b, top in tops.items():
        assert led[b] == top
