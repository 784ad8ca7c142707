"""Mergeable sketch columns — the pre-aggregate/merge-later pattern that
makes incremental statistics possible at 100 TB.

A full-corpus `COUNT(DISTINCT x)` re-reads everything on every refresh. The
scale pattern is instead:

  1. per shard/partition/day, aggregate a SKETCH column once
     (`distinct_sketches`) and store it — a few KB per group;
  2. any later question (new day arrives, groups recombine, a global
     number is wanted) is answered by MERGING stored sketches
     (`merge_sketches`, `rollup_sketches`) — no base-data rescan, ever.

Spark's `hll_sketch_agg` / `hll_union_agg` (Apache DataSketches HLL under
the hood) provide the algebra: sketch(A ∪ B) == union(sketch(A),
sketch(B)) — `tests/test_sketches.py` pins exactly that equality, plus the
estimate-accuracy band.

The one-shot gates (`hll_distinct_gate`, `quantile_sketch_gate` in the
registry) prove the ESTIMATORS against exact answers; this module is the
storage/merge layer that makes them incremental. Sketch columns are opaque
binary — engine-specific by design, so nothing here carries a DuckDB
oracle (the registry gates carry the cross-engine evidence).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_sketches(df: DataFrame, group_cols: list[str],
                      value_col: str) -> DataFrame:
    """One HLL sketch per group over `value_col` — the shard-level
    pre-aggregate to persist. lg_k=12 ≈ 1.6% relative standard error at
    ~2 KB per sketch; raise it for tighter bands."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(12)).alias("distinct_sketch"))


def merge_sketches(sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge stored sketches down to `group_cols` (e.g. day-level shards →
    one sketch per tenant) and estimate. Input rows are a few KB each, so
    this runs in seconds over arbitrarily large base data."""
    merged = sketches.groupBy(*group_cols).agg(
        F.hll_union_agg(F.col("distinct_sketch")).alias("merged_sketch"))
    return merged.select(
        *group_cols,
        F.hll_sketch_estimate("merged_sketch").alias("distinct_estimate"))


def global_estimate(sketches: DataFrame) -> Column:
    """Single global distinct estimate from a sketch table (scalar
    DataFrame: one row, one BIGINT column)."""
    return (
        sketches.agg(F.hll_union_agg(F.col("distinct_sketch")).alias("s"))
        .select(F.hll_sketch_estimate("s").alias("distinct_estimate"))
    )


def quantile_sketches(df: DataFrame, group_cols: list[str],
                      value_col: str) -> DataFrame:
    """One KLL quantile sketch per group over a DOUBLE `value_col` — the
    mergeable counterpart of approx_percentile: store per shard, answer
    any-quantile questions later without rescanning. k=200 ≈ 1.65% rank
    error (DataSketches KLL default)."""
    return df.groupBy(*group_cols).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(200))
        .alias("quantile_sketch"))


def merge_quantiles(sketches: DataFrame, group_cols: list[str],
                    quantiles: list[float]) -> DataFrame:
    """Merge stored KLL sketches down to `group_cols` and read the
    requested quantiles out of the merged sketch — one qN column per
    requested fraction."""
    merged = sketches.groupBy(*group_cols).agg(
        F.kll_merge_agg_double(F.col("quantile_sketch")).alias("s"))
    return merged.select(
        *group_cols,
        *[F.kll_sketch_get_quantile_double("s", F.lit(q))
          .alias(f"q{int(q * 100)}") for q in quantiles])


def audience_sketches(df: DataFrame, group_cols: list[str],
                      value_col: str) -> DataFrame:
    """One THETA sketch per group — like HLL it estimates distincts, but
    theta sketches additionally support SET ALGEBRA on the stored state:
    intersection and difference, which HLL cannot express. Use for
    overlap questions (retained users, cross-segment audiences) answered
    entirely from per-segment sketches."""
    return df.groupBy(*group_cols).agg(
        F.theta_sketch_agg(F.col(value_col)).alias("theta_sketch"))


def audience_overlap(sketches: DataFrame, group_col: str, group_a: str,
                     group_b: str) -> DataFrame:
    """|A|, |B|, |A ∪ B|, |A ∩ B| estimated purely from the two groups'
    stored sketches (one row out). The base table is never touched."""
    a = sketches.filter(F.col(group_col) == group_a) \
        .select(F.col("theta_sketch").alias("sa"))
    b = sketches.filter(F.col(group_col) == group_b) \
        .select(F.col("theta_sketch").alias("sb"))
    return a.crossJoin(b).select(
        F.theta_sketch_estimate("sa").alias("n_a"),
        F.theta_sketch_estimate("sb").alias("n_b"),
        F.theta_sketch_estimate(F.theta_union("sa", "sb")).alias("n_union"),
        F.theta_sketch_estimate(
            F.theta_intersection("sa", "sb")).alias("n_intersection"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch — the frequency-estimation member of the mergeable-sketch
# family. Unlike the HLL/KLL/theta columns above (engine-opaque binary),
# this sketch is RELATIONAL state: a (seed, bucket, count) table whose merge
# is plain addition, so a SQL oracle can replay it bit-for-bit, including
# its overestimates (CMS never underestimates — the hash check certifies
# the invariant, not just the numbers).
# ---------------------------------------------------------------------------

def _cms_bucket(value: Column, seed: int) -> Column:
    """md5-salted bucket index — the engine's parity hash kernel (first 8
    hex chars → BIGINT), replayable in DuckDB via the '0x' cast idiom."""
    h = F.md5(F.concat(F.lit(f"cms{seed}|"), value))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 16


def cms_counters(values: DataFrame, value_col: str) -> DataFrame:
    """(seed, bucket, c): the count-min counter table of a value stream —
    depth×width rows TOTAL whatever the stream size (each partition's
    partial aggregate is already ≤ depth·width rows, so the shuffle moves
    sketch-sized state, never the stream). Merging two streams' counter
    tables is groupBy(seed, bucket).sum(c) — the mergeable-sketch
    property in relational form."""
    v = F.col(value_col)
    return (
        values.select(F.posexplode(F.array(
            *[_cms_bucket(v, i) for i in range(4)]
        )).alias("seed", "bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count("*").alias("c"))
    )


def cms_estimate(candidates: DataFrame, counters: DataFrame,
                 value_col: str) -> DataFrame:
    """candidates + `n_cms`: each candidate value's count-min estimate —
    the MINIMUM of its depth counter cells. The counter table is
    sketch-sized (depth×width rows) and broadcasts; candidates never
    shuffle.

    Candidates must be DISTINCT on their projected columns (the groupBy
    that re-folds the depth cells collapses duplicate candidate rows).
    Empty counter cells count as 0 — a value absent from the counted
    stream estimates 0 unless every one of its cells collides (the
    one-sided CMS guarantee), and candidate rows are never dropped."""
    v = F.col(value_col)
    exploded = candidates.select(
        "*", F.posexplode(F.array(
            *[_cms_bucket(v, i) for i in range(4)]
        )).alias("_cms_seed", "_cms_bucket"))
    ctr = counters.select(
        F.col("seed").alias("_cms_seed"),
        F.col("bucket").alias("_cms_bucket"),
        F.col("c").alias("_cms_c"))
    return (
        exploded.join(F.broadcast(ctr), ["_cms_seed", "_cms_bucket"], "left")
        .groupBy(*candidates.columns)
        .agg(F.min(F.coalesce(F.col("_cms_c"), F.lit(0)))
             .cast("long").alias("n_cms"))
    )
