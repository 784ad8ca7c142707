"""Query-relaxation resolution — the reference's "query planner"
(SURVEY.md §2.8; script/itemtoid.py:187-304).

The reference retries each lookup serially: full query, then an ordered
ladder of relaxed queries, stopping at the first hit. That is a per-row
control loop — the single worst fit for a distributed engine.

The Spark-native formulation (SURVEY §2.8's "single biggest architectural
win"): the ladder is a *bounded, data-independent list of candidate strings
per row*, so

    1. generate all candidates as an array column (rank = ladder position),
    2. posexplode,
    3. ONE equi-join of all candidates against the lookup table,
    4. keep the best-ranked hit per row with a row_number window.

Two shuffles total for the whole corpus, instead of |corpus| × |ladder|
sequential probes. Live-API mode keeps the reference's early-exit economy
instead (no row fetches a candidate later than its first hit); its wave
loop is sources/http.resolve_live.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def resolve_ladder(
    rows: DataFrame,
    candidates_col: Column,
    lookup: DataFrame,
    row_key: str,
) -> DataFrame:
    """Resolve each row to the first candidate (by ladder rank) that has a
    match in `lookup`. Returns one row per input row that matched:
    (row_key, rank, candidate, + lookup columns)."""
    cand = rows.select(
        F.col(row_key),
        F.posexplode(candidates_col).alias("rank", "candidate"),
    ).filter(F.col("candidate").isNotNull() & (F.col("candidate") != ""))
    hits = cand.join(
        lookup.withColumnRenamed("qstr", "candidate"), "candidate"
    )
    w = Window.partitionBy(row_key).orderBy("rank")
    return (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
