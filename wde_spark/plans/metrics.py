"""Resolution quality metrics — stage `-t`'s statistics (SURVEY.md §2.4
A7/A8; script/itemtoid_test.py:179-295).

Every counter/ratio is one aggregation pass over the (predicted, truth)
pairs — `sum(when(...))` expressions on a single hash agg, no loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quality_metrics(scored: DataFrame) -> DataFrame:
    """scored: one row per test item with predicted id (`wd_id`),
    ground-truth id (`truth_id`), and certitude flag (`wd_certitude`).
    Returns the reference's test_final record (itemtoid_test.py:271-290)
    as a single-row DataFrame."""
    p, t, c = F.col("wd_id"), F.col("truth_id"), F.col("wd_certitude")
    one = lambda cond: F.sum(F.when(cond, 1).otherwise(0))

    agg = scored.agg(
        F.count("*").alias("total"),
        one(t != "").alias("total_ids"),
        one(t == "").alias("total_silence"),
        one(p != "").alias("found_ids"),
        one(p == "").alias("no_id_found"),
        one((p == t) & (p != "")).alias("true_result"),
        one((p == t) & (p == "")).alias("true_silence"),
        one(p == t).alias("success_n"),
        one((p != "") & c).alias("cert_positive"),
        one((p != "") & c & (p != t)).alias("cert_false_positive"),
    )

    # try_divide: a zero denominator (e.g. a golden set with no silences)
    # yields NULL instead of an ANSI error; f1 coalesces below.
    pr = F.try_divide(F.col("true_result"), F.col("found_ids"))
    rr = F.try_divide(F.col("true_result"), F.col("total_ids"))
    ps = F.try_divide(F.col("true_silence"), F.col("no_id_found"))
    rs = F.try_divide(F.col("true_silence"), F.col("total_silence"))
    f1 = lambda a, b: F.round(F.try_divide(2 * (a * b), a + b), 3)

    return agg.select(
        F.round(F.col("success_n") / F.col("total"), 3).alias("success"),
        f1(pr, rr).alias("f1_result"),
        F.coalesce(f1(ps, rs), F.lit(0.0)).alias("f1_silence"),
        F.round(pr, 3).alias("precision_result"),
        F.round(rr, 3).alias("recall_result"),
        F.round(ps, 3).alias("precision_silence"),
        F.round(rs, 3).alias("recall_silence"),
        F.round(F.col("cert_positive") / F.col("total"), 3).alias("certitude"),
        F.round(F.col("cert_false_positive") / F.col("total"), 3).alias("certitude_false"),
        "total", "found_ids", "no_id_found",
    )
