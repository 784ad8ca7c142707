"""Simhash hamming pairing (dedup tier 2) + bucketed co-located joins."""

from __future__ import annotations


from conftest import SF_SMOKE


def test_simhash_pairs_complete_vs_bruteforce(spark):
    """The banded plan must find EXACTLY the pairs a brute-force hamming
    scan finds (pigeonhole guarantees completeness for d < n_bands)."""
    from wde_spark.core.catalog import load_table
    from wde_spark.operators.dedup import simhash, simhash_pairs

    docs = load_table(spark, SF_SMOKE, "documents").limit(120).cache()
    got = {(r.id_a, r.id_b, r.hamming)
           for r in simhash_pairs(docs).collect()}

    sigs = [(r.doc_id, r.simhash) for r in simhash(docs).collect()]
    brute = set()
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            (ia, sa), (ib, sb) = sigs[i], sigs[j]
            d = bin((sa ^ sb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= 3:
                lo, hi = min(ia, ib), max(ia, ib)
                brute.add((lo, hi, d))
    assert got == brute


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """bucketBy co-location: a join of two tables bucketed on the same key
    must plan with NO exchange on either side (the 100 TB co-located-join
    pattern; at scale this is how repeated fact-fact joins stay cheap)."""
    from wde_spark.core.catalog import load_table

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS wde_bucket_test LOCATION '{tmp_path / 'wh'}'")
    try:
        orders = load_table(spark, SF_SMOKE, "orders").select(
            "o_orderkey", "o_totalprice", "o_custkey")
        li = load_table(spark, SF_SMOKE, "lineitem").select(
            "l_orderkey", "l_quantity")
        (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
         .sortBy("o_orderkey")
         .saveAsTable("wde_bucket_test.orders_b"))
        (li.withColumnRenamed("l_orderkey", "o_orderkey")
         .write.mode("overwrite").bucketBy(8, "o_orderkey")
         .sortBy("o_orderkey")
         .saveAsTable("wde_bucket_test.lineitem_b"))

        # force the shuffle-join path (a broadcast would bypass bucketing —
        # at 100 TB neither side broadcasts, which is the point)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("wde_bucket_test.orders_b").join(
                spark.table("wde_bucket_test.lineitem_b"), "o_orderkey")
            joined.collect()
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan, plan[:2000]
            assert "Bucketed: true" in plan

            n = joined.count()
            expected = li.join(
                orders, li.l_orderkey == orders.o_orderkey).count()
            assert n == expected
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP DATABASE IF EXISTS wde_bucket_test CASCADE")
