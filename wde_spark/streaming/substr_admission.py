"""Streaming exact-substring dedup maintainer — ExactSubstr
(`operators/dedup.substr_increment`) run as the ingest path: each
micro-batch of new documents gets its duplicated spans computed against
corpus-so-far ∪ batch using only the window-count STATE (never prior
corpus text), the merged state rolls forward on its ledger, and the
batch's spans land in an append-only per-batch ledger — the live
"what boilerplate did today's crawl re-import?" feed a training-data
pipeline tails, instead of re-running the corpus-wide job.

The state is model-sized (distinct windows), so it is base per batch on
its ledger (`compaction.py`, under `state/`): batch b reads base `b{b}`
and writes base `b{b+1}`, plus spans ledger `spans/b{b}`, written before
the base commits and read only for committed batches. Spans of PRIOR
documents are immutable by `substr_increment`'s declared asymmetry —
history is never edited, which is exactly what makes the ledger
append-only.

At 100 TB: per-batch work is one batch-text window explode + one state
join restricted to the batch's hash set + the state merge (state is
corpus-STATE-sized — distinct windows — and partitioned by hash); the
full-state base per batch is the test-scale simplification, production
writes count deltas and compacts, as `dedup_admission` does for its
tables."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..operators.dedup import substr_increment, substr_state
from .compaction import ledger_head, ledger_step, read_merged, write_base
from .versions import read_batch_ledger, run_foreach_batch


def bootstrap_substr_v0(init_corpus: DataFrame, target_dir: str,
                        k: int = 16) -> None:
    """One full scan of the initial corpus → base-0 window-count state."""
    state_dir = os.path.join(target_dir, "state")
    ledger_step([state_dir], -1, lambda: write_base(
        substr_state(init_corpus, k), state_dir, 0))


def streaming_substr_maintain(docs_stream: DataFrame,
                              init_corpus: DataFrame, target_dir: str,
                              checkpoint_dir: str, k: int = 16) -> None:
    """Run the document stream to completion (availableNow — static test
    input), maintaining the state ledger and the per-batch spans ledger
    under `target_dir`."""
    bootstrap_substr_v0(init_corpus, target_dir, k)
    state_dir = os.path.join(target_dir, "state")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        def step() -> None:
            state = read_state(batch.sparkSession, target_dir, batch_id)
            spans, new_state = substr_increment(state, batch, k)
            spans.select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "doc_id", "span_start", "span_end", "n_windows",
            ).write.mode("overwrite").parquet(
                os.path.join(target_dir, "spans", f"b{batch_id}"))
            write_base(new_state, state_dir, batch_id + 1)

        ledger_step([state_dir], batch_id, step)

    run_foreach_batch(docs_stream, _apply, checkpoint_dir)


def read_spans(spark, target_dir: str) -> DataFrame:
    """The spans ledger of every committed batch (batch b is committed
    once the state ledger holds sequence b+1)."""
    return read_batch_ledger(
        spark, os.path.join(target_dir, "spans"),
        "batch_id long, doc_id long, span_start long, span_end long, "
        "n_windows long",
        ledger_head(os.path.join(target_dir, "state")) - 1)


def read_state(spark, target_dir: str, version: int) -> DataFrame:
    """Time-travel read of the state as of ledger sequence `version`."""
    return read_merged(spark, os.path.join(target_dir, "state"), ["wh"],
                       as_of=version)
