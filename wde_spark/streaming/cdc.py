"""Streaming CDC apply — maintain a table snapshot from a change stream.

The reference keeps its stores current by re-reading and re-writing whole
JSON files per run (script/itemtoid.py:138-159, script/utils/classes.py:39-55).
The streaming-native form: an I/U/D change stream applied per micro-batch
with the broadcast MERGE (`operators/relational.py::merge_changeset`)
through `foreachBatch` — Spark's idiom for sinks with merge semantics the
built-in sinks don't cover.

Snapshot layout is copy-on-write: batch b merges onto version `v{b}` and
commits `v{b+1}` through `versions.versioned_step`, never mutating a
version in place; a replayed batch whose version already landed is a
no-op (see there for the commit rule).

At 100 TB the merge inside each batch is the broadcast left join + union —
the snapshot is scanned once per batch and never shuffled; compaction of
old versions is a directory delete.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.relational import merge_changeset
from .versions import (bootstrap, latest_version_dir, run_foreach_batch,
                       versioned_step)


def read_snapshot(spark, target_dir: str) -> DataFrame:
    return spark.read.parquet(latest_version_dir(target_dir))


def streaming_cdc_apply(
    changes_stream: DataFrame,
    init_snapshot: DataFrame,
    key: str,
    target_dir: str,
    checkpoint_dir: str,
) -> None:
    """Run the change stream to completion (static test input), applying
    each micro-batch onto the previous snapshot version. `changes_stream`
    carries `key`, `op` ('I'|'U'|'D') and the snapshot's non-key columns."""
    bootstrap(target_dir, init_snapshot.write.mode("overwrite").parquet)
    cols = init_snapshot.columns

    def _apply(batch: DataFrame, batch_id: int) -> None:
        def step(prev: str, out: str) -> None:
            cur = batch.sparkSession.read.parquet(prev)
            merge_changeset(cur, batch, key).select(*cols) \
                .write.mode("overwrite").parquet(out)

        versioned_step(target_dir, batch_id, step)

    run_foreach_batch(changes_stream, _apply, checkpoint_dir)
