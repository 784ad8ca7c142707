"""Streaming export-shard manifest — training-data export as an ingest
path: every admitted micro-batch is assigned APPEND-ONLY shard
coordinates (`layout.shard_manifest_increment`: deterministic in-batch
hash ranking, global ranks continuing after the rows already exported),
written as an immutable per-batch manifest directory plus a COW metadata
version carrying the running total. Shards already handed to trainers
are never rewritten — the last partial shard fills, then new shards
open; the manifest ledger is the reproducible record of exactly which
document landed at which (shard, position).

Ranking is salted-hash deterministic and the offset comes from the
PREVIOUS metadata version; each batch is a `versions.versioned_step`
over `meta/`, with the manifest written inside the step.

At 100 TB: per batch this is the two-phase ranking of the BATCH only
(one bucket-count collect of 256 rows + one bucket-partitioned window)
plus one metadata row — prior corpus text and prior manifests are never
touched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.layout import export_shards, shard_manifest_increment
from .versions import (bootstrap, read_batch_ledger, run_foreach_batch,
                       versioned_step)


def _manifest_dir(target_dir: str, n: int) -> str:
    return os.path.join(target_dir, "manifest", f"b{n}")


def bootstrap_manifest_v0(init_docs: DataFrame, target_dir: str,
                          docs_per_shard: int) -> None:
    """Rank the initial corpus (batch 0 of the arrival order) and write
    manifest b0 + metadata v0 (the running total)."""
    spark = init_docs.sparkSession

    def write_v0(out: str) -> None:
        m0 = export_shards(init_docs.select("doc_id"), docs_per_shard)
        m0.write.mode("overwrite").parquet(_manifest_dir(target_dir, 0))
        n0 = spark.read.parquet(_manifest_dir(target_dir, 0)).count()
        spark.createDataFrame([(n0,)], "n_total long") \
            .write.mode("overwrite").parquet(out)

    bootstrap(os.path.join(target_dir, "meta"), write_v0)


def streaming_shard_manifest(docs_stream: DataFrame,
                             init_docs: DataFrame, target_dir: str,
                             checkpoint_dir: str,
                             docs_per_shard: int) -> None:
    """Run the document stream to completion (availableNow — static test
    input), maintaining per-batch manifests and COW metadata versions
    under `target_dir`."""
    bootstrap_manifest_v0(init_docs, target_dir, docs_per_shard)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession

        def step(prev: str, out: str) -> None:
            n_so_far = spark.read.parquet(prev).collect()[0]["n_total"]
            inc = shard_manifest_increment(
                int(n_so_far), batch.select("doc_id"), docs_per_shard)
            inc.write.mode("overwrite").parquet(
                _manifest_dir(target_dir, batch_id + 1))
            n_new = spark.read.parquet(
                _manifest_dir(target_dir, batch_id + 1)).count()
            spark.createDataFrame([(int(n_so_far) + n_new,)],
                                  "n_total long") \
                .write.mode("overwrite").parquet(out)

        versioned_step(os.path.join(target_dir, "meta"), batch_id, step)

    run_foreach_batch(docs_stream, _apply, checkpoint_dir)


def read_manifest(spark, target_dir: str) -> DataFrame:
    """The whole manifest (all batches): (id, global_rank, shard_id,
    seq_in_shard) — globally unique, contiguous ranks in arrival order."""
    return read_batch_ledger(
        spark, os.path.join(target_dir, "manifest"),
        "doc_id long, global_rank long, shard_id long, seq_in_shard long")
