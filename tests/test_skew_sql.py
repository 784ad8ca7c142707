"""Salted-join equivalence + the spark.sql surface over registered views."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMOKE


def test_salted_join_equals_plain_join(spark):
    from wde_spark.core.catalog import load_table
    from wde_spark.operators.skew import salted_join

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity")
    # manufacture heavy skew: collapse most keys onto one hot key
    skewed = li.withColumn(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 10 != 0, F.lit(1)).otherwise(
            F.col("l_orderkey")))
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice").withColumnRenamed(
        "o_orderkey", "l_orderkey")

    plain = (
        skewed.join(orders, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
    )
    salted = (
        salted_join(skewed, orders, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
    )
    a = {r.l_orderkey: (r.n, r.q) for r in plain.collect()}
    b = {r.l_orderkey: (r.n, r.q) for r in salted.collect()}
    assert a == b and len(a) > 0


def test_sql_surface_over_registered_views(spark):
    """Every operator family is reachable from spark.sql over the catalog's
    temp views (the engine's second query surface)."""
    from wde_spark.core.catalog import register_views

    register_views(spark, SF_SMOKE, ["orders", "customer", "lineitem"])
    got = spark.sql("""
        WITH seg AS (
          SELECT c_mktsegment, count(*) AS n_cust
          FROM customer GROUP BY c_mktsegment
        ),
        top_orders AS (
          SELECT c_mktsegment, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                    ORDER BY o_totalprice DESC) AS rnk
          FROM orders JOIN customer ON o_custkey = c_custkey
        )
        SELECT s.c_mktsegment, s.n_cust, t.o_totalprice AS top_price
        FROM seg s JOIN top_orders t
          ON s.c_mktsegment = t.c_mktsegment AND t.rnk = 1
        ORDER BY s.c_mktsegment
    """).collect()
    assert len(got) == 5
    assert all(r.top_price is not None and r.n_cust > 0 for r in got)

    from wde_spark.functions.strings import SPARK_SQL_EXPRS

    expr = SPARK_SQL_EXPRS["norm_compare"].format("'  Hé! lLo,  World  '")
    r = spark.sql(f"SELECT {expr} AS v").collect()[0].v
    assert r == "hé llo world"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plain_topk_gets_partial_window_group_limit(spark):
    """The structural reason the PLAIN top-k/lww forms survive hot keys on
    Spark >= 3.5 (measured in tools/stress_skew.py): Catalyst inserts a
    partial WindowGroupLimit BEFORE the exchange, so each map task forwards
    at most k rows per key. If an engine/version change drops this rule,
    the skew guidance in relational.py flips — fail here to force a
    re-measure."""
    from wde_spark.operators import relational as R

    ev = spark.range(100).select(
        (F.col("id") % 5).alias("user_id"),
        F.col("id").alias("row_id"),
        (F.col("id") % 97).alias("score"))
    plan = _executed_plan(
        R.top_k_per_group(ev, ["user_id"],
                          [F.desc("score"), F.asc("row_id")], 5))
    assert "WindowGroupLimit" in plan and "Partial" in plan
    plan = _executed_plan(
        R.last_write_wins(ev, ["user_id"], F.col("row_id")))
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_sessionize_bucketed_partition_bound(spark):
    """Sessionization has NO WindowGroupLimit rescue (every row is output,
    cumulative over the partition) — the bucketed twin is the scale path.
    Deterministic bound: with one user holding 50% of events spread over
    ~30 days, the plain form's widest window partition is the whole hot
    key, while the bucketed form's widest (user, day-bucket) group is
    ~1/30 of it. This is the invariant that keeps task memory flat at
    100 TB, asserted on data, not wall-clock."""
    from wde_spark.operators import relational as R

    n = 60_000
    span = 30 * 86_400
    ev = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 1000).alias("user_id"),
        F.timestamp_seconds((F.col("id") * 37) % span).alias("ts"),
    )
    plain_max = (ev.groupBy("user_id").count()
                 .agg(F.max("count")).first()[0])
    bucketed_max = (
        ev.select("user_id",
                  F.floor(F.unix_timestamp("ts") / 86_400).alias("b"))
        .groupBy("user_id", "b").count()
        .agg(F.max("count")).first()[0])
    assert plain_max >= n // 2                  # hot key concentrated
    assert bucketed_max <= (n // 2) // 30 + n // 100   # bounded by bucket
    # and the bucketed operator's heavy window really partitions by the
    # bucket column (the plan-level guarantee behind the bound)
    plan = _executed_plan(
        R.sessionize_bucketed(ev, "user_id", "ts", 1800, 86_400))
    assert "__b" in plan
