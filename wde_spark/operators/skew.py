"""Skew-aware join utilities.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
default in core/session.py) handles most skew at runtime by splitting
oversized partitions. Salting is the *plan-level* fallback for the cases
AQE cannot fix — a skewed key on the build side of a shuffle join whose
rows must still meet every matching probe row (AQE splits map output, but a
single hot key hashed to one reducer stays one reducer).

`salted_join`: explode the small side R times (one copy per salt), scatter
the big side's hot keys uniformly over R salts, join on (key, salt). The
big side is touched once; the small side is duplicated R× — the classic
trade. Equality with the plain join is asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(big: DataFrame, small: DataFrame, on: str) -> DataFrame:
    """Equi-join `big ⋈ small` on column `on`, de-skewed by salting.

    big:   arbitrarily skewed on `on` (e.g. 90% of rows share one key);
    small: duplicated n_salts× (must be the small side).
    """
    n_salts = 8
    salted_big = big.withColumn(
        "__salt", (F.xxhash64(F.monotonically_increasing_id()) % n_salts
                   + n_salts) % n_salts)
    salted_small = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<bigint>")),
    )
    return (
        salted_big.join(salted_small, [on, "__salt"], "inner")
        .drop("__salt")
    )
