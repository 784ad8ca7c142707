"""The foreachBatch driver and the per-batch side-ledger reader every
streaming sink shares.

Every maintained table commits through the manifest of its delta ledger
(`compaction.py`): base per batch vs delta per batch on one ledger, one
atomic commit-file rename, one replay rule (`compaction.ledger_step`).
What stays here is the plumbing around it:

  * `run_foreach_batch` runs a stream to completion with a foreachBatch
    sink;
  * `read_batch_ledger` reads an append-only per-batch ledger (`b{n}`
    directories: spans, export/pack manifests, quarantine, predictions,
    drift, quality metrics). It lists the directories and hands Spark
    that explicit path list: a `b*` glob would do the same work, but
    Spark probes a single glob path for a streaming sink's
    `_spark_metadata` directory and logs a `FileNotFoundException`
    stack trace on every read. A side ledger written inside a ledger
    step is read only up to the batches its owning ledger has committed,
    so a batch that crashed at its commit leaves nothing visible.

All paths are local: the manifest commit is a local file rename.
"""

from __future__ import annotations

import os


def run_foreach_batch(stream, apply, checkpoint_dir: str) -> None:
    """Run `stream` to completion (availableNow) with `apply(batch,
    batch_id)` as its foreachBatch sink."""
    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


def read_batch_ledger(spark, ledger_dir: str, empty_schema: str,
                      last: int | None):
    """The `b{n}` directories of an append-only per-batch ledger, listed
    and read as an explicit path list: every one, or only n <= `last`
    (the newest batch the owning ledger has committed). A ledger with no
    batch yet, or no directory yet, is a valid state and reads as an
    empty frame of `empty_schema`."""
    try:
        names = os.listdir(ledger_dir)
    except FileNotFoundError:
        names = []
    batches = sorted(int(n[1:]) for n in names
                     if n.startswith("b") and n[1:].isdigit())
    if last is not None:
        batches = [n for n in batches if n <= last]
    if not batches:
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(
        *[os.path.join(ledger_dir, f"b{n}") for n in batches])
