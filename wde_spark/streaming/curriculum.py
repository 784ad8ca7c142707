"""Streaming-maintained curriculum schedule.

The one-shot form (`operators/sampling.curriculum_order`) stages a FIXED
corpus. At 100 TB the corpus is a feed: documents keep arriving, and the
schedule must refresh per ingest batch WITHOUT rescanning text. The
maintained state is an append-only delta ledger (`compaction.py`) of
(doc_id, bucket, arrived_batch) keyed (doc_id, arrived_batch), so a
re-arriving id stays once per arrival: the difficulty bucket is computed ONCE, at arrival, on
the stream (the only pass that ever touches the document bytes); every
schedule refresh afterwards is arithmetic on the tiny ledger — the
two-phase prefix-sum staging of `curriculum_order`, whose driver-side
footprint is the bucket DOMAIN (bounded by construction), never the
corpus.

Equivalence contract (pinned in `tests/test_streaming_curriculum.py`
and under the driver hash by `streaming_curriculum_documents`): because
the ledger after batch b holds exactly the docs that have arrived, with
the same buckets the one-shot form would compute, `read_curriculum`
after ANY batch is row-identical to one-shot `curriculum_order` over
the union of those batches — the schedule is always the one a full
rebuild would produce, at ledger-append cost.

Each step appends the arriving rows as delta `d{batch_id+1}` — an O(batch)
write that never reads the ledger — through `compaction.ledger_step`, so
a replayed batch whose delta landed runs nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .compaction import ledger_step, read_merged, write_delta
from .versions import run_foreach_batch

_KEYS = ["doc_id", "arrived_batch"]


def apply_curriculum_batch(batch: DataFrame, batch_id: int,
                           target_dir: str, extra_cols: tuple = ()) -> None:
    """One maintenance step: append the arriving (id, bucket[, extra])
    rows to the ledger as delta d{batch_id + 1}. `extra_cols` carries
    additional arrival-time columns (e.g. n_tok for maintained pacing)
    — still metadata-sized, never text."""
    fresh = batch.select(
        F.col("doc_id"),
        F.col("bucket").cast("long").alias("bucket"),
        *[F.col(c) for c in extra_cols],
        F.lit(batch_id).cast("int").alias("arrived_batch"),
    )

    ledger_step([target_dir], batch_id, lambda: write_delta(
        fresh, target_dir, batch_id + 1, key_cols=_KEYS))


def streaming_curriculum_maintain(
    doc_stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    extra_cols: tuple = (),
) -> None:
    """Run the (id, bucket[, extra]) stream to completion (availableNow
    — static test input), maintaining the schedule ledger under
    `target_dir` as one delta per batch. The caller computes the bucket (and
    any extra arrival-time columns, e.g. n_tok) ON the stream so
    document bytes are read exactly once, at arrival."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_curriculum_batch(batch, batch_id, target_dir, extra_cols)

    run_foreach_batch(doc_stream, _apply, checkpoint_dir)


def read_curriculum(spark, target_dir: str) -> DataFrame:
    """Materialize the CURRENT schedule from the merged ledger:
    the exact `curriculum_order` staging (NTILE terciles over (bucket,
    id), salted in-stage shuffle, round-robin interleave) over the
    stored buckets — no document bytes touched. Columns: id, bucket,
    arrived_batch, stage, sched_pos."""
    from ..operators.sampling import curriculum_order

    ledger = read_merged(spark, target_dir, _KEYS)
    return curriculum_order(ledger, F.col("bucket"))


def read_paced(spark, target_dir: str, quotas) -> DataFrame:
    """Maintained PACING: the per-stage token-quota phase admission
    (`sampling.curriculum_pacing`) materialized from the ledger's
    arrival-time buckets and token counts — no document bytes touched,
    so a pacing refresh after every ingest batch is pure ledger
    arithmetic. Provenance (arrived_batch) rejoins by id so the output
    carries it alongside the schedule columns."""
    from ..operators.sampling import curriculum_pacing

    ledger = read_merged(spark, target_dir, _KEYS)
    # provenance rides through the pacing pipeline as a passthrough
    # column (r12) — the old per-id rejoin shuffled the paced output and
    # the ledger a second time for a column every row already carried
    return curriculum_pacing(ledger, F.col("bucket"), F.col("n_tok"),
                             quotas, extra_cols=("arrived_batch",))
