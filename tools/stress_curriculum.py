"""Curriculum-ordering domain-boundedness stress.

The scale property for `sampling.curriculum_order` at 100 TB is that the
ONLY thing crossing the driver is the per-difficulty-value offset table,
whose size is the difficulty DOMAIN, not the corpus. Raw byte lengths
have ~corpus-many distinct values (the r9 scale-killer); 64-byte buckets
keep the domain at max_doc_len/64 regardless of corpus size.

This driver grows a synthetic corpus with an ever-wider length domain
and records, per size: the distinct raw-length domain (what the old
query collected), the distinct bucketed domain (what the fixed query
collects), the wall time of the bucketed schedule, and a checksum that
stage sizes stay exact terciles. It also proves the guard: the raw
(uncoarsened) form at the largest size must raise the max_domain
ValueError rather than flood the driver.

Usage: python tools/stress_curriculum.py [n1] [n2] [n3]
Prints one JSON line (pipe to measurements/).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from wde_spark.core.session import get_session
from wde_spark.operators.sampling import curriculum_order


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [200_000, 1_000_000,
                                               4_000_000]
    spark = get_session("stress-curriculum")
    runs = []
    for n in sizes:
        # length domain grows with n: lengths spread over [0, n/50)
        docs = (spark.range(n).withColumnRenamed("id", "doc_id")
                .withColumn("_len", (F.col("doc_id") * 7919) % (n // 50))
                .repartition(32).cache())
        docs.count()
        raw_domain = docs.select("_len").distinct().count()
        bucket = F.floor(F.col("_len") / 64)
        bucket_domain = docs.select(bucket.alias("b")).distinct().count()
        t0 = time.time()
        out = curriculum_order(docs, bucket)
        stage_sizes = sorted(
            r["c"] for r in
            out.groupBy("stage").agg(F.count("*").alias("c")).collect())
        sec = time.time() - t0
        exact_terciles = (max(stage_sizes) - min(stage_sizes) <= 1
                          and sum(stage_sizes) == n)
        # the guard: the UNcoarsened form must refuse once the raw
        # domain exceeds the cap, instead of collecting it
        guard_raised = None
        if raw_domain > 10_000:
            try:
                curriculum_order(docs, F.col("_len"), max_domain=10_000)
                guard_raised = False
            except ValueError:
                guard_raised = True
        docs.unpersist()
        runs.append({
            "n": n,
            "raw_len_domain": raw_domain,
            "bucketed_domain": bucket_domain,
            "driver_rows_collected": bucket_domain,
            "sec_bucketed": round(sec, 2),
            "exact_terciles": exact_terciles,
            "uncoarsened_guard_raised": guard_raised,
        })
        print(json.dumps(runs[-1]), file=sys.stderr)
    print(json.dumps({"runs": runs}))


if __name__ == "__main__":
    main()
