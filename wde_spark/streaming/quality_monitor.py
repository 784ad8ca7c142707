"""Streaming data-quality monitor — per-micro-batch expectation metrics
from a document/record stream.

The streaming face of `operators/quality.py`: every micro-batch is scored
against the declared checks (one conditional aggregation + bounded joins,
see there) and the per-batch result rows are appended to a metrics ledger
— the table an ingest dashboard reads and an alerting rule queries
("violations > 0 in the last batch"). Unlike the snapshot sinks (CDC,
corpus admission), the ledger is APPEND-ONLY: each batch writes its own
immutable `b{batch_id}` directory, so replay after a crash rewrites the
same directory with the same deterministic content — idempotent without
any read-modify-write.

At 100 TB/day the monitor adds one aggregation pass per batch over data
the ingest is already reading — the checks ride the ingest scan's cache,
and the ledger grows by n_checks rows per batch, not per record.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.quality import Check, run_expectations
from .versions import read_batch_ledger, run_foreach_batch


def read_metrics(spark, target_dir: str) -> DataFrame:
    """The full metrics ledger: (batch_id, check, violations, total, ok).
    A ledger with zero completed batches (empty stream, or a monitor that
    has not run yet) reads as an empty table."""
    return read_batch_ledger(
        spark, target_dir,
        "batch_id long, check string, violations long, total long, "
        "ok boolean", None)


def streaming_quality_monitor(
    stream: DataFrame,
    checks: list[Check],
    target_dir: str,
    checkpoint_dir: str,
) -> None:
    """Run the stream to completion (availableNow — static test input),
    appending one metrics row per check per micro-batch under
    `target_dir`."""
    os.makedirs(target_dir, exist_ok=True)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        out = os.path.join(target_dir, f"b{batch_id}")
        run_expectations(batch, checks) \
            .withColumn("batch_id", F.lit(batch_id).cast("long")) \
            .select("batch_id", "check", "violations", "total", "ok") \
            .write.mode("overwrite").parquet(out)

    run_foreach_batch(stream, _apply, checkpoint_dir)
