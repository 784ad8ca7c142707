"""Streaming sketch maintenance ≡ batch: the maintained HLL table's
estimates must EXACTLY equal the one-shot batch aggregation's (the merge
algebra is exact, so incremental maintenance costs zero accuracy), and
re-merging a batch must be a no-op (HLL register-max union makes replay
idempotent by algebra, not just by version naming).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_streaming_equals_batch(spark, tmp_path):
    from wde_spark.streaming import sketch_maintenance as SM
    from wde_spark.streaming.compaction import ledger_entries

    src = str(tmp_path / "src")
    os.makedirs(src)
    orders = spark.read.parquet(f"{SF}/orders.parquet") \
        .select("o_orderstatus", "o_custkey")
    # several files → several micro-batches with maxFilesPerTrigger=1
    orders.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.format("parquet")
        .schema("o_orderstatus string, o_custkey long")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    SM.streaming_sketch_maintain(
        stream, ["o_orderstatus"], "o_custkey",
        str(tmp_path / "sketches"), str(tmp_path / "ckpt"))

    got = {r["o_orderstatus"]: r["distinct_estimate"]
           for r in SM.read_estimates(
               spark, str(tmp_path / "sketches"), ["o_orderstatus"]).collect()}

    batch = {
        r["o_orderstatus"]: r["est"]
        for r in orders.groupBy("o_orderstatus")
        .agg(F.hll_sketch_estimate(
            F.hll_sketch_agg("o_custkey", F.lit(12))).alias("est"))
        .collect()
    }
    assert got == batch

    # more than one base must exist (the stream really ran incrementally)
    entries = ledger_entries(str(tmp_path / "sketches"))
    assert len(entries) >= 2, entries


def test_replay_merge_is_noop(spark):
    """Union-merging the same sketch twice == once (register-max algebra),
    the property that makes foreachBatch replay safe."""
    df = spark.range(1000).select((F.col("id") % 3).alias("g"), "id")
    sk = df.groupBy("g").agg(
        F.hll_sketch_agg("id", F.lit(12)).alias("s"))
    once = sk.groupBy("g").agg(
        F.hll_sketch_estimate(F.hll_union_agg("s")).alias("e"))
    twice = sk.unionByName(sk).groupBy("g").agg(
        F.hll_sketch_estimate(F.hll_union_agg("s")).alias("e"))
    assert sorted(map(tuple, once.collect())) == \
        sorted(map(tuple, twice.collect()))


def test_streaming_quantiles_equal_batch(spark, tmp_path):
    """The maintained KLL table must produce the same quantiles as the
    one-shot batch sketch built with the same merge tree order... KLL
    merge is rank-exact but compaction is order-sensitive, so the honest
    assertion is the rank guarantee vs the exact distribution, not
    bit-equality with a differently-ordered batch merge."""
    import bisect

    from wde_spark.streaming import sketch_maintenance as SM

    src = str(tmp_path / "src")
    orders = spark.read.parquet(f"{SF}/orders.parquet") \
        .select("o_orderstatus", "o_totalprice")
    orders.repartition(3).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.format("parquet")
        .schema("o_orderstatus string, o_totalprice double")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    SM.streaming_quantile_maintain(
        stream, ["o_orderstatus"], "o_totalprice",
        str(tmp_path / "q"), str(tmp_path / "ckpt_q"))

    got = {r["o_orderstatus"]: (r["q50"], r["q99"]) for r in
           SM.read_quantiles(spark, str(tmp_path / "q"),
                             ["o_orderstatus"], [0.5, 0.99]).collect()}

    by_status = {}
    for r in orders.collect():
        by_status.setdefault(r["o_orderstatus"], []).append(r["o_totalprice"])
    for status, vals in by_status.items():
        vals.sort()
        for q, v in zip((0.5, 0.99), got[status]):
            rank = bisect.bisect_left(vals, v) / len(vals)
            assert abs(rank - q) < 0.05, (status, q, v, rank)
