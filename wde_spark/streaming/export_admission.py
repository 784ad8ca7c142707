"""Streaming export-shard manifest — training-data export as an ingest
path: every admitted micro-batch is assigned APPEND-ONLY shard
coordinates (`layout.shard_manifest_increment`: deterministic in-batch
hash ranking, global ranks continuing after the rows already exported),
written as an immutable per-batch manifest directory plus a metadata row
carrying the running total. Shards already handed to trainers are never
rewritten — the last partial shard fills, then new shards open; the
manifest ledger is the reproducible record of exactly which document
landed at which (shard, position).

Ranking is salted-hash deterministic and the offset comes from the
PREVIOUS metadata base: the metadata is one row, so it is base per batch
on its ledger (`compaction.py`, under `meta/`). Batch b writes manifest
`manifest/b{b+1}` and then base `meta/b{b+1}` through
`compaction.ledger_step`; the manifest is read only for the batches the
metadata ledger has committed.

At 100 TB: per batch this is the two-phase ranking of the BATCH only
(one bucket-count collect of 256 rows + one bucket-partitioned window)
plus one metadata row — prior corpus text and prior manifests are never
touched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.layout import export_shards, shard_manifest_increment
from .compaction import ledger_head, ledger_step, read_merged, write_base
from .versions import read_batch_ledger, run_foreach_batch


def _manifest_dir(target_dir: str, n: int) -> str:
    return os.path.join(target_dir, "manifest", f"b{n}")


def bootstrap_manifest_v0(init_docs: DataFrame, target_dir: str,
                          docs_per_shard: int) -> None:
    """Rank the initial corpus (batch 0 of the arrival order) and write
    manifest b0 + metadata base 0 (the running total)."""
    spark = init_docs.sparkSession
    meta = os.path.join(target_dir, "meta")

    def write_v0() -> None:
        m0 = export_shards(init_docs.select("doc_id"), docs_per_shard)
        m0.write.mode("overwrite").parquet(_manifest_dir(target_dir, 0))
        n0 = spark.read.parquet(_manifest_dir(target_dir, 0)).count()
        write_base(spark.createDataFrame([(n0,)], "n_total long"), meta, 0)

    ledger_step([meta], -1, write_v0)


def streaming_shard_manifest(docs_stream: DataFrame,
                             init_docs: DataFrame, target_dir: str,
                             checkpoint_dir: str,
                             docs_per_shard: int) -> None:
    """Run the document stream to completion (availableNow — static test
    input), maintaining per-batch manifests and one metadata base per
    batch under `target_dir`."""
    bootstrap_manifest_v0(init_docs, target_dir, docs_per_shard)
    meta = os.path.join(target_dir, "meta")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession

        def step() -> None:
            n_so_far = read_merged(spark, meta, ["n_total"],
                                   as_of=batch_id).collect()[0]["n_total"]
            inc = shard_manifest_increment(
                int(n_so_far), batch.select("doc_id"), docs_per_shard)
            inc.write.mode("overwrite").parquet(
                _manifest_dir(target_dir, batch_id + 1))
            n_new = spark.read.parquet(
                _manifest_dir(target_dir, batch_id + 1)).count()
            write_base(spark.createDataFrame(
                [(int(n_so_far) + n_new,)], "n_total long"),
                meta, batch_id + 1)

        ledger_step([meta], batch_id, step)

    run_foreach_batch(docs_stream, _apply, checkpoint_dir)


def read_manifest(spark, target_dir: str) -> DataFrame:
    """The manifest of every committed batch (manifest b{n} is committed
    once the metadata ledger holds sequence n): (id, global_rank,
    shard_id, seq_in_shard) — globally unique, contiguous ranks in
    arrival order."""
    return read_batch_ledger(
        spark, os.path.join(target_dir, "manifest"),
        "doc_id long, global_rank long, shard_id long, seq_in_shard long",
        ledger_head(os.path.join(target_dir, "meta")))
