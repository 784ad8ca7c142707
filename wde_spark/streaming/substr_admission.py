"""Streaming exact-substring dedup maintainer — ExactSubstr
(`operators/dedup.substr_increment`) run as the ingest path: each
micro-batch of new documents gets its duplicated spans computed against
corpus-so-far ∪ batch using only the window-count STATE (never prior
corpus text), the merged state rolls forward as copy-on-write versions,
and the batch's spans land in an append-only per-batch ledger — the live
"what boilerplate did today's crawl re-import?" feed a training-data
pipeline tails, instead of re-running the corpus-wide job.

Batch b is a `versions.versioned_step`: it reads state version v{b} and
writes v{b+1} plus spans ledger `b{b}`. Spans of
PRIOR documents are immutable by `substr_increment`'s declared
asymmetry — history is never edited, which is exactly what makes the
ledger append-only.

At 100 TB: per-batch work is one batch-text window explode + one state
join restricted to the batch's hash set + the state merge (state is
corpus-STATE-sized — distinct windows — and partitioned by hash); the
full-snapshot state rewrite here is the test-scale COW simplification,
production writes count deltas and compacts, as `dedup_admission`
documents for its tables."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..operators.dedup import substr_increment, substr_state
from .versions import (bootstrap, read_batch_ledger, read_version,
                       run_foreach_batch, versioned_step)


def bootstrap_substr_v0(init_corpus: DataFrame, target_dir: str,
                        k: int = 16) -> None:
    """One full scan of the initial corpus → v0 window-count state."""

    def write_v0(out: str) -> None:
        substr_state(init_corpus, k) \
            .write.mode("overwrite").parquet(os.path.join(out, "state"))

    bootstrap(target_dir, write_v0)


def streaming_substr_maintain(docs_stream: DataFrame,
                              init_corpus: DataFrame, target_dir: str,
                              checkpoint_dir: str, k: int = 16) -> None:
    """Run the document stream to completion (availableNow — static test
    input), maintaining state versions and the per-batch spans ledger
    under `target_dir`."""
    bootstrap_substr_v0(init_corpus, target_dir, k)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        def step(prev: str, out: str) -> None:
            state = batch.sparkSession.read.parquet(
                os.path.join(prev, "state"))
            spans, new_state = substr_increment(state, batch, k)
            new_state.write.mode("overwrite").parquet(
                os.path.join(out, "state"))
            spans.select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "doc_id", "span_start", "span_end", "n_windows",
            ).write.mode("overwrite").parquet(
                os.path.join(target_dir, "spans", f"b{batch_id}"))

        versioned_step(target_dir, batch_id, step)

    run_foreach_batch(docs_stream, _apply, checkpoint_dir)


def read_spans(spark, target_dir: str) -> DataFrame:
    """The whole spans ledger (all batches)."""
    return read_batch_ledger(
        spark, os.path.join(target_dir, "spans"),
        "batch_id long, doc_id long, span_start long, span_end long, "
        "n_windows long")


def read_state(spark, target_dir: str, version: int) -> DataFrame:
    """Time-travel read of a state version."""
    return read_version(spark, target_dir, version, "state")
