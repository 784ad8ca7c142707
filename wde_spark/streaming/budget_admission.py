"""Streaming token-budget admission — per-source token budgets spent
as the corpus ARRIVES.

The one-shot form (`token_budget_mixture_documents`) admits each
source's docs in global salted-hash order until the budget is spent. At
100 TB the corpus is a feed and the budget question is operational:
"does THIS batch's doc still fit its source's remaining budget?" —
answered at ingest, first-come by batch, hash-ordered within a batch
(so admission inside a batch stays independent of partitioning).

Maintained state: the admitted rows (id, source, n_tok, cum_tokens,
arrived_batch), where cum_tokens is the source's inclusive running total
at admission. They are a delta ledger (`compaction.py`) keyed
(doc_id, arrived_batch): batch b appends only its admitted rows as delta
`d{b+1}`, so a re-arriving id stays twice, once per arrival. A batch
needs nothing else but the per-source spent totals (sources x 1 rows,
`max(cum_tokens)` over the merged ledger `as_of=b`): arriving docs are
hash-ordered within (source, batch), offset by the stored spent, and kept
while spent + running sum <= budget.

Equivalence contract (pinned in `tests/test_streaming_budget.py` and
under the driver hash by `streaming_token_budget_documents`): within a
batch, n_tok >= 0 makes the offset running sum monotone, so admission
is a PREFIX of the batch's hash order under the remaining budget; the
carried spent is the sum of previously ADMITTED tokens only (a rejected
doc never consumes budget — this is where the feed semantics differ
from the one-shot mixture's single global prefix, and why both forms
ship). The oracle replays the recursion unrolled per batch: batch 0's
prefix, its per-source spent, then batch 1's prefix offset by it.

Each step is a `compaction.ledger_step`: a replayed batch whose delta
landed runs nothing.

At 100 TB: per batch, one window partitioned by source over the BATCH
(batch-sized partitions; split by hash sub-bucket first if a single
batch outgrows an executor), a broadcast join against the sources x 1
spent table, and one O(batch) delta append. The corpus is never
rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .compaction import ledger_step, read_merged, write_delta
from .versions import run_foreach_batch

_KEYS = ["doc_id", "arrived_batch"]


def _budget_col(budgets: dict, default: int):
    b = F.lit(default)
    for s, v in budgets.items():
        b = F.when(F.col("source") == s, F.lit(v)).otherwise(b)
    return b


def apply_budget_batch(batch: DataFrame, batch_id: int, target_dir: str,
                       budgets: dict, default_budget: int) -> None:
    """One admission step: hash-order the batch within each source,
    offset by the stored per-source spent totals, keep rows while the
    inclusive running total fits the budget, append as d{batch_id+1}."""
    hx = F.md5(F.concat(F.lit("wde@"), F.col("doc_id").cast("string")))
    w = (Window.partitionBy("source").orderBy("_hx", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    def step() -> None:
        cand = batch.withColumn("_hx", hx)
        if batch_id:
            ledger = read_merged(batch.sparkSession, target_dir, _KEYS,
                                 as_of=batch_id)
            spent = ledger.groupBy("source").agg(
                F.max("cum_tokens").alias("_spent"))
            cand = cand.join(F.broadcast(spent), "source", "left") \
                .withColumn("_spent", F.coalesce(F.col("_spent"), F.lit(0)))
        else:
            cand = cand.withColumn("_spent", F.lit(0))
        admitted = (
            cand.withColumn("cum_tokens",
                            (F.col("_spent") + F.sum("n_tok").over(w))
                            .cast("long"))
            .filter(F.col("cum_tokens")
                    <= _budget_col(budgets, default_budget))
            .select("doc_id", "source", F.col("n_tok").cast("long"),
                    "cum_tokens",
                    F.lit(batch_id).cast("int").alias("arrived_batch"))
        )
        write_delta(admitted, target_dir, batch_id + 1, key_cols=_KEYS)

    ledger_step([target_dir], batch_id, step)


def streaming_budget_maintain(
    doc_stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    budgets: dict,
    default_budget: int,
) -> None:
    """Run the (id, source, n_tok) stream to completion (availableNow —
    static test input), maintaining the admission ledger under
    `target_dir` as one delta per batch."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_budget_batch(batch, batch_id, target_dir, budgets,
                           default_budget)

    run_foreach_batch(doc_stream, _apply, checkpoint_dir)


def read_admitted(spark, target_dir: str) -> DataFrame:
    """The maintained admission ledger (merge-on-read)."""
    return read_merged(spark, target_dir, _KEYS)
