"""Streaming CDC apply — maintain a table snapshot from a change stream.

The reference keeps its stores current by re-reading and re-writing whole
JSON files per run (script/itemtoid.py:138-159, script/utils/classes.py:39-55).
The streaming-native form: an I/U/D change stream applied per micro-batch
with the broadcast MERGE (`operators/relational.py::merge_changeset`)
through `foreachBatch` — Spark's idiom for sinks with merge semantics the
built-in sinks don't cover.

The snapshot is a delta ledger (`compaction.py`): the initial snapshot is
base `b0`, and batch b writes delta `d{b+1}` — `merge_changeset` over the
previous rows of the batch's keys only, plus a `'D'` tombstone per deleted
key — so a batch writes what it changed, never the table. A replayed batch
whose delta landed runs nothing (`compaction.ledger_step`).

At 100 TB the merge inside each batch is a semi-join of the snapshot
against the batch keys plus the broadcast left join — the snapshot is
never shuffled and never rewritten; `compaction.compact` folds the
deltas back into one base.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import merge_changeset
from .compaction import ledger_step, read_merged, write_base, write_delta
from .versions import run_foreach_batch

_KEY_FILE = "_cdc_key"


def read_snapshot(spark, target_dir: str) -> DataFrame:
    with open(os.path.join(target_dir, _KEY_FILE)) as fh:
        key = fh.read()
    return read_merged(spark, target_dir, [key])


def streaming_cdc_apply(
    changes_stream: DataFrame,
    init_snapshot: DataFrame,
    key: str,
    target_dir: str,
    checkpoint_dir: str,
) -> None:
    """Run the change stream to completion (static test input), applying
    each micro-batch onto the snapshot as of the previous batch.
    `changes_stream` carries `key`, `op` ('I'|'U'|'D') and the snapshot's
    non-key columns."""

    def bootstrap() -> None:
        os.makedirs(target_dir, exist_ok=True)
        with open(os.path.join(target_dir, _KEY_FILE), "w") as fh:
            fh.write(key)
        write_base(init_snapshot, target_dir, 0)

    ledger_step([target_dir], -1, bootstrap)
    cols = init_snapshot.columns

    def _apply(batch: DataFrame, batch_id: int) -> None:
        def step() -> None:
            cur = read_merged(batch.sparkSession, target_dir, [key],
                              as_of=batch_id)
            touched = cur.join(batch.select(key), key, "left_semi")
            tombs = batch.filter(F.col("op") == "D").select(
                key, *[F.lit(None).cast(cur.schema[c].dataType).alias(c)
                       for c in cols if c != key],
                F.lit("D").alias("_op"))
            delta = merge_changeset(touched, batch, key).select(*cols) \
                .withColumn("_op", F.lit("U")).unionByName(tombs)
            write_delta(delta, target_dir, batch_id + 1, key_cols=[key])

        ledger_step([target_dir], batch_id, step)

    run_foreach_batch(changes_stream, _apply, checkpoint_dir)
