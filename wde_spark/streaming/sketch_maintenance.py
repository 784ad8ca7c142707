"""Streaming sketch maintenance — a continuously-updated distinct-sketch
table from an event stream.

The batch form (`operators/sketches.py`) pre-aggregates per shard and
merges later. The streaming form closes the loop: each micro-batch's rows
become a batch-local sketch, MERGED into the stored sketch table via
`hll_union_agg` — so the table always answers "distinct users per group so
far" in milliseconds, while only ever holding a few KB per group.

Because the HLL merge algebra is exact (union of partial sketches == the
sketch of the union — pinned in `tests/test_sketches.py`), the maintained
table is NOT an approximation of the batch pipeline: it is bit-for-bit the
same sketch state the one-shot batch aggregation would produce, proven in
`tests/test_streaming_sketches.py`.

The sketch table is model-sized, so it is base per batch on its ledger
(`compaction.py`): batch b merges its sketches onto base `b{b}` and
writes base `b{b+1}`; a replayed batch whose base landed runs nothing
(`compaction.ledger_step`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .compaction import ledger_step, read_merged, write_base
from .versions import run_foreach_batch


def _maintain(stream: DataFrame, group_cols: list[str], sketch: Column,
              merge, target_dir: str, checkpoint_dir: str) -> None:
    """Fold each batch's per-group `sketch` into the stored table with the
    `merge` aggregate (sketch column -> merged sketch column)."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        def step() -> None:
            fresh = batch.groupBy(*group_cols).agg(sketch)
            if batch_id:
                fresh = (read_merged(batch.sparkSession, target_dir,
                                     group_cols, as_of=batch_id)
                         .unionByName(fresh).groupBy(*group_cols)
                         .agg(merge))
            write_base(fresh, target_dir, batch_id + 1)

        ledger_step([target_dir], batch_id, step)

    run_foreach_batch(stream, _apply, checkpoint_dir)


def streaming_sketch_maintain(
    events_stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    target_dir: str,
    checkpoint_dir: str,
) -> None:
    """Run the stream to completion (availableNow — static test input),
    maintaining one HLL sketch row (lg_k 12) per group under
    `target_dir`."""
    _maintain(events_stream, group_cols,
              F.hll_sketch_agg(F.col(value_col), F.lit(12))
              .alias("distinct_sketch"),
              F.hll_union_agg("distinct_sketch").alias("distinct_sketch"),
              target_dir, checkpoint_dir)


def read_estimates(spark, target_dir: str, group_cols: list[str]) -> DataFrame:
    """Current distinct estimates from the maintained sketch table."""
    return read_merged(spark, target_dir, group_cols).select(
        *group_cols,
        F.hll_sketch_estimate("distinct_sketch").alias("distinct_estimate"))


def streaming_quantile_maintain(
    events_stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    target_dir: str,
    checkpoint_dir: str,
) -> None:
    """KLL twin of `streaming_sketch_maintain`: a continuously-maintained
    quantile-sketch table (k 200; any percentile later, a few KB per
    group).

    One honesty caveat the HLL form does not have: KLL merge is exact in
    RANK GUARANTEE but not idempotent — re-merging the same batch inserts
    its items twice, (slightly) re-weighting the compactors. The ledger
    step (`compaction.ledger_step`: a replayed batch whose base landed
    runs nothing) is what makes replay safe here, not the algebra; `tests/test_streaming_sketches.py` covers the replay path."""
    _maintain(events_stream, group_cols,
              F.kll_sketch_agg_double(F.col(value_col).cast("double"),
                                      F.lit(200)).alias("quantile_sketch"),
              F.kll_merge_agg_double("quantile_sketch")
              .alias("quantile_sketch"),
              target_dir, checkpoint_dir)


def read_quantiles(spark, target_dir: str, group_cols: list[str],
                   quantiles: list[float]) -> DataFrame:
    """Current quantile estimates from the maintained KLL table."""
    return read_merged(spark, target_dir, group_cols).select(
        *group_cols,
        *[F.kll_sketch_get_quantile_double("quantile_sketch", F.lit(q))
          .alias(f"q{int(q * 100)}") for q in quantiles])
