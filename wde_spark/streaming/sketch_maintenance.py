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

Copy-on-write versions through `versions.versioned_step`: batch b merges
onto `v{b}` and commits `v{b+1}`; a replayed batch is a no-op.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .versions import latest_version_dir, run_foreach_batch, versioned_step


def _maintain(stream: DataFrame, group_cols: list[str], sketch: Column,
              merge, target_dir: str, checkpoint_dir: str) -> None:
    """Fold each batch's per-group `sketch` into the stored table with the
    `merge` aggregate (sketch column -> merged sketch column)."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        def step(prev, out: str) -> None:
            fresh = batch.groupBy(*group_cols).agg(sketch)
            if prev is not None:
                fresh = (batch.sparkSession.read.parquet(prev)
                         .unionByName(fresh).groupBy(*group_cols)
                         .agg(merge))
            fresh.write.mode("overwrite").parquet(out)

        versioned_step(target_dir, batch_id, step)

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
    return spark.read.parquet(latest_version_dir(target_dir)).select(
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
    its items twice, (slightly) re-weighting the compactors. The
    copy-on-write step (`versions.versioned_step`: a replayed batch whose
    version landed is a no-op) is what makes replay safe here, not the
    algebra; `tests/test_streaming_sketches.py` covers the replay path."""
    _maintain(events_stream, group_cols,
              F.kll_sketch_agg_double(F.col(value_col).cast("double"),
                                      F.lit(200)).alias("quantile_sketch"),
              F.kll_merge_agg_double("quantile_sketch")
              .alias("quantile_sketch"),
              target_dir, checkpoint_dir)


def read_quantiles(spark, target_dir: str, group_cols: list[str],
                   quantiles: list[float]) -> DataFrame:
    """Current quantile estimates from the maintained KLL table."""
    return spark.read.parquet(latest_version_dir(target_dir)).select(
        *group_cols,
        *[F.kll_sketch_get_quantile_double("quantile_sketch", F.lit(q))
          .alias(f"q{int(q * 100)}") for q in quantiles])
