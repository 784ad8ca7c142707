"""Streaming maintained FFD packing manifests — arrival-order bins over
a metadata ledger, the `shard_manifest_increment` discipline applied to
whole-document bin packing.

The batch operator (`operators/layout.ffd_pack`) may re-sort the whole
corpus (first-fit-DECREASING needs the global weight order inside each
bucket). An ingest stream cannot: bins already handed to trainers are
immutable, exactly like shipped shards. So the maintained form SEALS every
bin when its batch commits — each micro-batch runs bucket-local FFD over
its OWN documents only, and its bin ids continue after the bins earlier
batches created in that bucket. The carried state is one `bins_so_far`
count per bucket (n_buckets rows of ledger metadata), never a scan of
prior manifests and never a mutable fill table.

Semantics contract (pinned in `tests/test_streaming_pack.py`): composing
increments over batches B1..Bn equals running the per-bucket FFD fold over
the docs ordered by (batch_no, weight desc, id) — because sealed bins mean
batch k+1's first-fit scan starts past batch k's bins, which is exactly
where the concatenated fold's scan would place it ONLY if earlier bins are
never revisited; sealing makes that true by construction. This is
deliberately NOT `ffd_pack` over the union (which would interleave late
small docs into early bins): re-packing the world is the batch operator's
job. The price is bounded waste per batch boundary — each seal forfeits at
most the open capacity of the batch's bins — and the gain is that the
fold stays bit-replayable in SQL: the driver oracle runs the recursive-CTE
FFD replay per (bucket, batch) and offsets bin ids by a window sum.

Like `streaming/export_admission.py`, the offset comes from the PREVIOUS
metadata base and the in-batch fold is deterministic (salted-md5
buckets, weight-desc/id-asc order); the metadata is model-sized, so it
is base per batch on its ledger (`compaction.py`, under `meta/`), and
each batch is a `compaction.ledger_step` that writes manifest
`manifest/b{b}` before base `meta/b{b+1}` commits. The manifest is read
only for the batches the metadata ledger has committed.

At 100 TB: per batch this is ONE shuffle of the batch on the bucket key
into the grouped Arrow fold, plus an n_buckets-row broadcast join and an
n_buckets-row metadata write. Prior corpus text, prior manifests, and
prior bins are never touched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.layout import ffd_pack
from .compaction import ledger_head, ledger_step, read_merged, write_base
from .versions import read_batch_ledger, run_foreach_batch


def _manifest_dir(target_dir: str, n: int) -> str:
    return os.path.join(target_dir, "manifest", f"b{n}")


def ffd_pack_increment(offsets: DataFrame, batch: DataFrame, seq_len: int,
                       n_buckets: int = 8) -> DataFrame:
    """One batch's sealed-bin FFD manifest: bucket-local FFD over the
    batch's docs (`layout.ffd_pack` — the same grouped Arrow fold), bin
    ids shifted past the `bins_so_far` ledger (`offsets`: one row per
    bucket). Buckets with no prior bins may be absent from `offsets`
    (offset 0)."""
    local = ffd_pack(batch, seq_len, n_buckets=n_buckets)
    return (
        local.join(F.broadcast(offsets), "bucket", "left")
        .select(
            "doc_id", "bucket", "n_tok",
            (F.col("bin_id") + F.coalesce("bins_so_far", F.lit(0)))
            .cast("long").alias("bin_id"),
        )
    )


def bootstrap_pack_meta_v0(spark, target_dir: str,
                           n_buckets: int = 8) -> None:
    """Write metadata base 0: zero bins in every bucket."""
    meta = os.path.join(target_dir, "meta")
    ledger_step([meta], -1, lambda: write_base(spark.createDataFrame(
        [(b, 0) for b in range(n_buckets)],
        "bucket long, bins_so_far long").coalesce(1), meta, 0))


def streaming_ffd_manifest(docs_stream: DataFrame, target_dir: str,
                           checkpoint_dir: str, seq_len: int,
                           n_buckets: int = 8) -> None:
    """Run the document stream to completion (availableNow — static test
    input), maintaining per-batch sealed-bin manifests `manifest/b{n}`
    and per-bucket bin-count metadata bases `meta/b{n}` under
    `target_dir`. Each manifest row carries `batch_no` (the arrival
    batch), so the ledger records exactly which bins each batch sealed."""
    spark = docs_stream.sparkSession
    bootstrap_pack_meta_v0(spark, target_dir, n_buckets)
    meta = os.path.join(target_dir, "meta")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession

        def step() -> None:
            off = read_merged(sp, meta, ["bucket"], as_of=batch_id)
            inc = ffd_pack_increment(off, batch, seq_len, n_buckets) \
                .withColumn("batch_no", F.lit(batch_id).cast("long"))
            inc.write.mode("overwrite").parquet(
                _manifest_dir(target_dir, batch_id))
            written = sp.read.parquet(_manifest_dir(target_dir, batch_id))
            new_tops = written.groupBy("bucket").agg(
                F.max("bin_id").alias("_top"))
            nxt = (
                off.join(new_tops, "bucket", "left")
                .select(
                    "bucket",
                    F.greatest(F.col("bins_so_far"),
                               F.coalesce("_top", F.lit(0)))
                    .cast("long").alias("bins_so_far"),
                )
            )
            write_base(nxt.coalesce(1), meta, batch_id + 1)

        ledger_step([meta], batch_id, step)

    run_foreach_batch(docs_stream, _apply, checkpoint_dir)


def read_pack_manifest(spark, target_dir: str) -> DataFrame:
    """The sealed-bin manifest of every committed batch (batch b is
    committed once the metadata ledger holds sequence b+1): (id, bucket,
    weight, bin_id, batch_no) — bin_id is absolute within its bucket and
    never rewritten once its batch commits."""
    return read_batch_ledger(
        spark, os.path.join(target_dir, "manifest"),
        "doc_id long, bucket long, n_tok long, bin_id long, batch_no long",
        ledger_head(os.path.join(target_dir, "meta")) - 1)
