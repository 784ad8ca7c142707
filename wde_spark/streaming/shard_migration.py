"""Streaming-maintained HRW shard map with migration ledger.

The one-shot form (`operators/layout.rendezvous_shard`) assigns docs
under a FIXED shard map. At 100 TB the map itself is a feed: shards are
added as volume grows, and the question that matters operationally is
"which docs must move, and where" — answered incrementally, never by a
corpus reshuffle.

Maintained formulation: the routing table (doc_id, shard, arrived_batch,
n_moves) is a delta ledger (`compaction.py`) keyed (doc_id,
arrived_batch); the map grows by ONE shard per
micro-batch (size = base + batch_id + 1 when batch b lands). Each batch:

  1. MIGRATE the existing table to the new map size — re-evaluate the
     HRW argmax; changed rows bump n_moves. By the HRW minimal-movement
     guarantee every changed row moves TO the new shard, and an expected
     1/new_size fraction moves at all;
  2. ASSIGN the arriving docs under the new size.

The batch writes only the moved rows and the arrivals, as delta
`d{batch_id+1}`.

Equivalence contract (pinned in `tests/test_streaming_shards.py` and
under the driver hash by `streaming_shard_migration_documents`): because
migration re-evaluates the same pure argmax the one-shot form computes,
the maintained table after the final batch is row-identical on `shard`
to one-shot `rendezvous_shard` at the final size — and `n_moves` counts
exactly the growth steps (after the doc's arrival) where consecutive
map sizes disagree, which a SQL oracle replays per doc.

Each step is a `compaction.ledger_step`: a replayed batch whose delta
landed runs nothing.

At 100 TB: the state is one row per doc (the routing table IS the
product), each growth step is one scan with a per-row argmax — no data
shuffle, no all-pairs anything — and writes only the moved set
(n ~ corpus/new_size), exactly the minimal data movement a migration
executor must perform, plus the arrivals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.layout import rendezvous_shard
from .compaction import ledger_step, read_merged, write_delta
from .versions import run_foreach_batch

BASE_SHARDS_DEFAULT = 6
MAX_SHARDS = 64  # HRW plan-size limit: rendezvous_shard unrolls one
# hash expression per candidate shard, so the map is capped at 64.
_KEYS = ["doc_id", "arrived_batch"]


def apply_shard_batch(
    batch: DataFrame,
    batch_id: int,
    target_dir: str,
    base_shards: int = BASE_SHARDS_DEFAULT,
) -> None:
    """One maintenance step: migrate the table to the grown map and
    append the moved rows and the arriving docs as d{batch_id + 1}."""
    n_new = base_shards + batch_id + 1
    if n_new > MAX_SHARDS:
        raise ValueError(
            f"shard map would grow to {n_new} > {MAX_SHARDS} shards "
            f"(base {base_shards} + batch {batch_id}); the HRW argmax "
            f"is plan-unrolled and capped at {MAX_SHARDS} — restart "
            f"the maintainer with a larger batch granularity"
        )
    fresh = batch.select(
        F.col("doc_id"),
        rendezvous_shard("doc_id", n_new).alias("shard"),
        F.lit(batch_id).cast("int").alias("arrived_batch"),
        F.lit(0).cast("int").alias("n_moves"),
    )

    def step() -> None:
        delta = fresh
        if batch_id:
            cur = read_merged(batch.sparkSession, target_dir, _KEYS,
                              as_of=batch_id)
            resh = rendezvous_shard("doc_id", n_new)
            moved = cur.filter(resh != F.col("shard")).select(
                "doc_id",
                resh.alias("shard"),
                "arrived_batch",
                (F.col("n_moves") + 1).cast("int").alias("n_moves"),
            )
            delta = moved.unionByName(fresh)
        write_delta(delta, target_dir, batch_id + 1, key_cols=_KEYS)

    ledger_step([target_dir], batch_id, step)


def streaming_shard_maintain(
    doc_stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    base_shards: int = BASE_SHARDS_DEFAULT,
) -> None:
    """Run the doc stream to completion (availableNow — static test
    input), maintaining the routing table under `target_dir` as one
    delta per batch; the map size when batch b lands is base_shards + b + 1."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_shard_batch(batch, batch_id, target_dir, base_shards)

    run_foreach_batch(doc_stream, _apply, checkpoint_dir)


def read_routing(spark, target_dir: str) -> DataFrame:
    """The maintained routing table (merge-on-read)."""
    return read_merged(spark, target_dir, _KEYS)
