"""Bloom-filter semi-join pre-filter — the classic 100-TB join
optimization: when the probe side is huge and the build side's KEY SET is
too large to broadcast raw but its bit-set is not, reduce the probe side
BEFORE any shuffle by testing each row against a compact membership
filter, then run the exact join over the (much smaller) survivor set.
Spark's AQE injects this automatically in some shapes
(`spark.sql.optimizer.runtime.bloomFilter.enabled`); this operator is the
explicit, engine-replayable form for when the planner doesn't — e.g. the
filter is reused across queries, or the build side comes from outside the
current plan (yesterday's key snapshot).

Partitioned-Bloom variant (one disjoint position set per hash function —
the standard cache-friendly layout): h probe tables of ≤ m positions
each, each the DISTINCT xxhash64-mod-m image of the build keys.
Membership testing is h consecutive LEFT SEMI joins against BROADCAST
position tables — every probe is a broadcast hash lookup, the big side
never shuffles, and whole-stage codegen fuses the probes into the scan.
No false negatives by construction (a present key's probe positions are
all set); false positives are removed by the final exact semi-join, which
only the candidates reach.

Determinism: xxhash64 with integer seeds — identical across executors,
runs, and engines (DuckDB replays the exact join; the oracle checks the
END result, whose equality with a plain semi-join IS the no-false-
negative guarantee)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _probe(key: Column, seed: int, m: int) -> Column:
    """Position of `key` under hash function `seed`, in [0, m)."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m))


def bloom_build(keys: DataFrame, key_col: str,
                m: int = 1 << 20) -> list[DataFrame]:
    """The filter: 3 position tables (column `pos`), each ≤ m rows —
    corpus-size-free once the key set saturates m. Persist them as the
    reusable snapshot form; at 1<<20 positions a table is ≤ 8 MB."""
    k = F.col(key_col)
    return [
        keys.select(_probe(k, i, m).alias("pos")).distinct()
        for i in range(3)
    ]


def bloom_prefilter(big: DataFrame, bits: list[DataFrame], key_col: str,
                    m: int = 1 << 20) -> DataFrame:
    """Rows of `big` whose key passes every probe — a superset of the
    true matches (no false negatives), shrunk before any shuffle. Each
    probe is one broadcast semi-join; `m` must match `bloom_build`."""
    out = big
    for i, b in enumerate(bits):
        out = (
            out.withColumn("_bp", _probe(F.col(key_col), i, m))
            .join(F.broadcast(b), F.col("_bp") == F.col("pos"), "left_semi")
            .drop("_bp")
        )
    return out


def bloom_semi_join(big: DataFrame, small: DataFrame, big_key: str,
                    small_key: str | None = None,
                    m: int = 1 << 20) -> DataFrame:
    """Exact semi-join of `big` against `small`'s keys, with the bloom
    pre-filter in front: big → 3 broadcast probes → exact semi-join over
    candidates only. Result is IDENTICAL to a plain left-semi join (the
    registry oracle states exactly that); the pre-filter only changes
    how many rows reach the shuffle."""
    small_key = small_key or big_key
    keys = small.select(F.col(small_key).alias(big_key)).distinct()
    cand = bloom_prefilter(big, bloom_build(keys, big_key, m), big_key, m)
    return cand.join(keys, big_key, "left_semi")
