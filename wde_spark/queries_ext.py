"""Extension queries: the rest of the generic relational surface.

Registered into the same `QUERIES`/`ORACLE` registry as queries.py (which
imports this module at its bottom). Three families:

1. TPC-H-shaped queries q2/q4/q6/q10/q11/q12/q14/q18/q19/q22 adapted to the
   driver's star schema (no partsupp table; q2/q11/q16 shapes re-targeted at
   part/lineitem) — they widen the proven join/subquery/predicate surface:
   correlated EXISTS / NOT EXISTS, scalar subqueries, min-per-group join-
   back, disjunctive multi-column predicates, HAVING.
2. Temporal/event analytics: as-of join, bounded range join, sequential
   funnel — the operators a training-data/event pipeline needs that the
   TPC-H shapes don't cover. The Spark forms are the scalable ones
   (union+carry-forward as-of, bucketed range join); the oracles state the
   same semantics naively.
3. Training-data utilities: deterministic stratified sampling,
   context-window token packing, exact percentiles, histograms, CUBE.

Determinism conventions follow queries.py (decimal sums, rounded doubles,
string-formatted timestamps, total-order tiebreaks).
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core.catalog import load_table
from .operators import relational as R
from .operators import skew as SK
from .queries import DEC, _dec, query

TS_FMT = "%Y-%m-%d %H:%M:%S"
_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"
)


def _rev():
    one = F.lit(1).cast(DEC)
    return _dec(F.col("l_extendedprice")) * (one - _dec(F.col("l_discount")))


# ---------------------------------------------------------------------------
# TPC-H shapes
# ---------------------------------------------------------------------------

@query(
    "q2_cheapest_part_per_brand",
    """
    SELECT p.p_brand, p.p_partkey, p.p_name,
           CAST(CAST(p.p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS retailprice
    FROM part p JOIN (
      SELECT p_brand, MIN(CAST(p_retailprice AS DECIMAL(12,2))) AS mn
      FROM part GROUP BY p_brand
    ) m ON p.p_brand = m.p_brand
     AND CAST(p.p_retailprice AS DECIMAL(12,2)) = m.mn
    """,
)
def q2_cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost-per-group correlated subquery, re-targeted
    at part since the schema has no partsupp): min per group + join back,
    keeping every tie. The min side is tiny after aggregation → broadcast."""
    p = load_table(spark, sf_dir, "part")
    mins = (
        p.groupBy(F.col("p_brand").alias("mb"))
        .agg(F.min(_dec(F.col("p_retailprice"))).alias("mn"))
    )
    return (
        p.join(
            F.broadcast(mins),
            (p.p_brand == mins.mb) & (_dec(p.p_retailprice) == mins.mn),
        )
        .select(
            "p_brand",
            "p_partkey",
            "p_name",
            _dec(F.col("p_retailprice")).cast("double").alias("retailprice"),
        )
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 — correlated EXISTS as a left-semi join whose condition
    mixes an equi key with a cross-side inequality (shipped after ordered)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "q6_forecast_revenue",
    f"""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — the pushdown showcase: every predicate reaches the parquet
    scan (date/discount/quantity are all plain column comparisons), then a
    single global aggregate. No shuffle beyond the final 1-row reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec(F.col("l_extendedprice")) * _dec(F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY SUM({_REV_SQL}) DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 — returned-item revenue per customer, top 20. Exact decimal
    revenue gives a total order; custkey breaks ties deterministically."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev()).alias("rev_dec"))
        .orderBy(F.desc("rev_dec"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", "n_name",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
    )


@query(
    "q11_supplier_share",
    f"""
    WITH sv AS (
      SELECT l_suppkey, SUM({_REV_SQL}) AS val
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey, CAST(val AS DOUBLE) AS value
    FROM sv
    WHERE CAST(val AS DOUBLE) > (SELECT CAST(SUM(val) AS DOUBLE) * 0.0105 FROM sv)
    """,
)
def q11_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — per-key value filtered against a scalar subquery
    over the SAME aggregate (suppliers holding > 1.05% of total revenue).
    The per-supplier aggregate is computed once and reused for both the
    total and the filter; the 1-row total is a broadcast cross join."""
    li = load_table(spark, sf_dir, "lineitem")
    sv = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("val"))
    total = sv.agg((F.sum("val").cast("double") * F.lit(0.0105)).alias("__thr"))
    return (
        sv.join(F.broadcast(total))
        .filter(F.col("val").cast("double") > F.col("__thr"))
        .select("l_suppkey", F.col("val").cast("double").alias("value"))
    )


@query(
    "q12_priority_by_status",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — conditional CASE counting over a fact-fact join."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_count"),
        )
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 — two-level aggregation: orders per customer (left join so
    zero-order customers keep a 0 bucket), then customers per order-count."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey, SUM({_REV_SQL}) AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
    WHERE r.total = (SELECT MAX(total) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — aggregate reused twice: per-supplier revenue filtered by
    its own MAX (scalar subquery), ties kept. Exact decimal totals make the
    MAX-equality deterministic; the 1-row max broadcasts."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("total"))
    mx = revenue.agg(F.max("total").alias("mx"))
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total") == F.col("mx"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.col("total").cast("double").alias("total_revenue"),
        )
    )


@query(
    "q16_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — NOT IN subquery (anti join on a non-null key) +
    IN-list and inequality dimension filters + count distinct per group."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    return (
        li.join(bad, "l_suppkey", "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_rows
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 — correlated scalar AVG subquery, decorrelated into a
    per-part aggregate joined back to the fact. The part dim (filtered,
    bounded) broadcasts; the per-partkey threshold scales WITH the data,
    so it gets no broadcast hint — AQE picks broadcast only when it
    actually fits."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    thr = (
        li.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_thr"))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(thr, li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / 7.0)
            .alias("avg_yearly"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "q14_promo_revenue",
    f"""
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                   THEN {_REV_SQL}
                                   ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                   / CAST(SUM({_REV_SQL}) AS DOUBLE), 6) AS promo_pct,
           COUNT(*) AS n_rows
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 — promo revenue share: conditional ratio of two exact
    decimal sums over a lineitem↔part join (part side broadcastable)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0).cast(DEC))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(_rev()).cast("double"),
                6,
            ).alias("promo_pct"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "q18_large_volume_orders",
    """
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 185
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS totalprice,
           CAST(b.total_qty AS DOUBLE) AS total_qty
    FROM big b JOIN orders o ON b.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 — HAVING over a fact aggregate, joined back to its
    dimensions. The aggregate output (~2% of orders) is the build side."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("total_qty"))
        .filter(F.col("total_qty") > 185)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            _dec(F.col("o_totalprice")).cast("double").alias("totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


@query(
    "q19_disjunctive_revenue",
    f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue, COUNT(*) AS n_rows
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 — OR-of-ANDs predicates spanning both join sides; Catalyst
    extracts the common `p_brand IN (...)` conjunct for pushdown."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey)
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & sz.between(1, 35) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        F.sum(_rev()).cast("double").alias("revenue"),
        F.count("*").alias("n_rows"),
    )


@query(
    "q22_idle_rich_customers",
    """
    SELECT c.c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) AS DOUBLE) >
          (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
           FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_nationkey
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — scalar-subquery threshold (above-average balance)
    + NOT EXISTS anti join (no recent order), grouped by nation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(_dec(F.col("c_acctbal"))).cast("double") / F.count("*"))
            .alias("__avg")
        )
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(_dec(F.col("c_acctbal")).cast("double") > F.col("__avg"))
        .join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("totacctbal"),
        )
    )


@query(
    "q7_nation_volume",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate) AS l_year,
           CAST(SUM({_REV_SQL.replace('l_extendedprice', 'l.l_extendedprice')
                     .replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue
    FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 — bidirectional nation-pair trade volume per ship year:
    a disjunctive predicate over TWO different broadcast copies of the same
    dimension, plus date-part extraction as a grouping key."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@query(
    "q8_market_share",
    f"""
    WITH volume AS (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             {_REV_SQL.replace('l_extendedprice', 'l.l_extendedprice')
                      .replace('l_discount', 'l.l_discount')} AS rev,
             n1.n_name AS supp_nation
      FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        JOIN region r   ON n2.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 6) AS mkt_share
    FROM volume GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 — one nation's share of a region's order volume per year:
    conditional-ratio aggregate over a 6-way join with region filtering on
    the customer side and share attribution on the supplier side."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    nat_rev = F.when(F.col("supp_nation") == "NATION_3", _rev()).otherwise(
        F.lit(0).cast(DEC))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == r.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(nat_rev).cast("double") / F.sum(_rev()).cast("double"), 6
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    f"""
    SELECT n.n_name AS nation, EXTRACT(year FROM o.o_orderdate) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))
                    - CAST(p.p_retailprice AS DECIMAL(12,2))
                      * CAST(l.l_quantity AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(12,2)))
             AS DOUBLE) AS profit
    FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 — profit (revenue minus modeled supply cost) for parts whose
    name matches a substring, by supplier nation and order year. The LIKE
    prunes the part dimension before the fact join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    one = F.lit(1).cast(DEC)
    profit = (
        _dec(F.col("l_extendedprice")) * (one - _dec(F.col("l_discount")))
        - _dec(F.col("p_retailprice")) * _dec(F.col("l_quantity"))
        * F.lit(0.6).cast(DEC)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


# ---------------------------------------------------------------------------
# grouping sets / percentiles / histograms
# ---------------------------------------------------------------------------

@query(
    "cube_orders",
    """
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) — all 4 grouping sets in one pass."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders", "sum_price",
        )
    )


@query(
    "percentile_prices",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           ROUND(quantile_cont(o_totalprice, 0.90), 4) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` and
    DuckDB `quantile_cont` both use the p·(n−1) linear-interpolation
    definition). The production path for heavy keys is approx_percentile
    (t-digest, mergeable map-side) — exercised in tests; exact is the
    oracle anchor."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        *[
            F.round(F.expr(f"percentile(o_totalprice, {p})"), 4).alias(name)
            for p, name in [(0.25, "p25"), (0.50, "p50"), (0.75, "p75"), (0.90, "p90")]
        ]
    )


@query(
    "histogram_order_prices",
    """
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
    FROM orders GROUP BY 1
    """,
)
def histogram_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as pure column arithmetic + hash agg."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0).cast("long").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.min(_dec(F.col("o_totalprice"))).cast("double").alias("min_price"),
            F.max(_dec(F.col("o_totalprice"))).cast("double").alias("max_price"),
        )
    )


@query(
    "grouping_sets_orders",
    """
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube): per-priority and
    per-status marginals in ONE pass over the fact table."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(o_orderstatus, 'ALL') AS status,
               COUNT(*) AS n_orders
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        """
    )


@query(
    "set_ops_all_forms",
    """
    SELECT 'except_all' AS op, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'intersect_all' AS op, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def set_ops_all_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations — EXCEPT ALL / INTERSECT ALL keep
    per-row multiplicity (the distinct forms are in set_ops_segments)."""
    o = load_table(spark, sf_dir, "orders")
    open_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        open_keys.exceptAll(done_keys)
        .select(F.lit("except_all").alias("op"), "o_custkey")
        .unionByName(
            open_keys.intersectAll(done_keys)
            .select(F.lit("intersect_all").alias("op"), "o_custkey")
        )
    )


@query(
    "window_range_frame_orders",
    """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS spend_30d
    FROM orders
    """,
)
def window_range_frame_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-RANGE window frame (vs the ROWS frames in
    window_frames_running): each order sums the customer's spend in the 30
    days up to and including it — frame bounds are VALUES of the ordering
    key, so same-timestamp peers aggregate together regardless of row
    order, which is what makes the result deterministic without a tie
    column."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2592000, 0)
    )
    return o.select(
        "o_orderkey", "o_custkey",
        F.sum(_dec(F.col("o_totalprice"))).over(w).cast("double")
        .alias("spend_30d"),
    )


# ---------------------------------------------------------------------------
# temporal / event analytics
# ---------------------------------------------------------------------------

@query(
    "asof_join_purchase_view",
    f"""
    WITH v AS (SELECT user_id, ts, event_id, value FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
    pairs AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS pts,
             v.ts AS vts, v.value AS vval,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts DESC, v.event_id DESC) AS rn
      FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
    )
    SELECT purchase_id, user_id,
           strftime(pts, '{TS_FMT}') AS purchase_ts,
           strftime(vts, '{TS_FMT}') AS view_ts,
           ROUND(vval, 4) AS view_value
    FROM pairs WHERE rn = 1
    """,
)
def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase sees the user's most recent view at or
    before it (ties → greatest event_id). The engine form is union-tag +
    carry-forward (operators/relational.py::asof_join): O(L+R) per key and
    one shuffle, vs the oracle's naive O(L·R) range join."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = R.asof_join(
        purchases, views, on="user_id", ts_col="ts",
        payload_cols=["value"], tie_col="event_id",
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("asof.ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.round("asof.value", 4).alias("view_value"),
    )


def _nearest_purchase_view_oracle() -> str:
    return f"""
    WITH v AS (SELECT user_id, ts, event_id, value FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'purchase'),
    pairs AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS pts,
             v.ts AS vts, v.value AS vval,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
               ORDER BY abs(epoch(v.ts) - epoch(p.ts)),
                        CASE WHEN v.ts <= p.ts THEN 0 ELSE 1 END,
                        v.event_id DESC) AS rn
      FROM p LEFT JOIN v ON p.user_id = v.user_id
    )
    SELECT purchase_id, user_id,
           strftime(pts, '{TS_FMT}') AS purchase_ts,
           strftime(vts, '{TS_FMT}') AS view_ts,
           ROUND(vval, 4) AS view_value
    FROM pairs WHERE rn = 1
    """


@query("nearest_join_purchase_view", _nearest_purchase_view_oracle())
def nearest_join_purchase_view(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """NEAREST-event join — the bidirectional sibling of the as-of join:
    each purchase sees the user's closest view in EITHER direction
    (distance ties -> the earlier view; equal-timestamp ties -> greatest
    event_id). The engine form
    (`operators/relational.py::nearest_join`) is union-tag + two carry
    windows over one shuffle — O(L+R) per key — while the oracle ranks
    the naive O(L*R) pair join by (|distance|, direction, id), so the
    linear-scan formulation is hash-checked against the quadratic
    textbook one."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = R.nearest_join(
        purchases, views, on="user_id", ts_col="ts",
        payload_cols=["value"], tie_col="event_id",
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("nearest.ts", "yyyy-MM-dd HH:mm:ss")
        .alias("view_ts"),
        F.round("nearest.value", 4).alias("view_value"),
    )



@query(
    "range_join_error_clicks",
    """
    WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
    c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click')
    SELECT e.event_id, COUNT(c.cts) AS n_recent_clicks
    FROM e LEFT JOIN c ON c.user_id = e.user_id
      AND c.cts >= e.ts - INTERVAL 5 MINUTE AND c.cts < e.ts
    GROUP BY e.event_id
    """,
)
def range_join_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: clicks in the 5 minutes before each error.
    Engine form buckets both sides to the window width and probes two
    buckets (operators/relational.py::range_join) — an equi shuffle join,
    never a per-key cross product."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    pairs = R.range_join(errors, clicks, "user_id", "ts", "cts", 300)
    counts = pairs.groupBy("event_id").agg(F.count("*").alias("n"))
    return errors.join(counts, "event_id", "left").select(
        "event_id", F.coalesce("n", F.lit(0)).alias("n_recent_clicks")
    )


@query(
    "funnel_signup_view_purchase",
    f"""
    WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
    t2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
           JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t1
           WHERE e.event_type = 'view' GROUP BY e.user_id),
    t3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
           JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t2
           WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT t1.user_id,
           strftime(t1.t1, '{TS_FMT}') AS signup_ts,
           strftime(t2.t2, '{TS_FMT}') AS first_view_ts,
           strftime(t3.t3, '{TS_FMT}') AS first_purchase_ts,
           CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
                     WHEN t2.t2 IS NOT NULL THEN 2 ELSE 1 END AS INT) AS stage_reached
    FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
            LEFT JOIN t3 ON t1.user_id = t3.user_id
    """,
)
def funnel_signup_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel (signup → first view after it → first purchase
    after that). Stage frontiers are one-row-per-user aggregates: each step
    joins the frontier back to events + a min-aggregate, so the fact table
    is scanned once per stage and never self-joined at row grain. The
    frontier scales with |users| — no broadcast hint; AQE broadcasts it
    exactly when it fits."""
    ev = load_table(spark, sf_dir, "events")
    t1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "view")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .otherwise(1)
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            F.date_format("t1", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
            F.date_format("t2", "yyyy-MM-dd HH:mm:ss").alias("first_view_ts"),
            F.date_format("t3", "yyyy-MM-dd HH:mm:ss").alias("first_purchase_ts"),
            stage.cast("int").alias("stage_reached"),
        )
    )


@query(
    "json_props_stats_events",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_props_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns: the event payload is a JSON string; parse it
    with a declared schema (`from_json` — typed struct, vectorized, no
    Python) and aggregate a field. At scale this beats schema-on-read
    string functions: the parse happens once per row inside codegen and
    Catalyst prunes unaccessed fields."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k long")["k"]
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "multimodal_audio_chunks",
    """
    WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS L
               FROM documents WHERE doc_id % 3 = 1),
    st AS (SELECT media_id, L,
                  CAST(unnest(range(0, CAST(greatest(L, 1) AS BIGINT), 1024)) AS INT) AS s
           FROM m)
    SELECT media_id,
           CAST(s / 1024 AS INT) AS chunk_idx,
           s AS start_byte,
           CAST(least(2048, L - s) AS INT) AS chunk_size
    FROM st WHERE s = 0 OR s + 1024 < L
    """,
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping audio segmentation (2048-byte window, 1024-byte hop) via
    the mapInPandas chunk kernel; non-audio rows never cross the Arrow
    boundary. The oracle re-derives the emitted chunk geometry
    arithmetically."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    ch = MM.audio_chunks(MM.attach_media(docs))
    return ch.select("media_id", "chunk_idx", "start_byte", "chunk_size")


@query(
    "skew_salted_event_types",
    """
    WITH dim AS (SELECT event_type, COUNT(*) AS type_total FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type, d.type_total
    FROM events e JOIN dim d USING (event_type)
    """,
)
def skew_salted_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on a pathologically skewed key (5 distinct event_type
    values over the whole fact table): the dim side is exploded across 8
    salts so no single reducer owns a hot key
    (operators/skew.py::salted_join). Oracle = the plain equi join."""
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.count("*").alias("type_total"))
    return SK.salted_join(
        ev.select("event_id", "event_type"), dim, "event_type"
    ).select("event_id", "event_type", "type_total")


# ---------------------------------------------------------------------------
# training-data utilities
# ---------------------------------------------------------------------------

def _hybrid_neardup_oracle() -> str:
    from .queries import ORACLE

    text_pairs = ORACLE["ngram_jaccard_pairs"]
    emb_pairs = ORACLE["embedding_neardup_exact"]
    return f"""
    SELECT id_a, id_b, 'text' AS signal, jaccard AS score
    FROM ({text_pairs})
    UNION ALL
    SELECT id_a, id_b, 'embedding' AS signal, cos_sim AS score
    FROM ({emb_pairs})
    """


@query("hybrid_neardup_pairs", _hybrid_neardup_oracle())
def hybrid_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal near-dup: the union of text-shingle Jaccard pairs and
    embedding-cosine pairs, each tagged with its signal — the composition a
    real dedup pipeline runs (lexical overlap catches verbatim reuse,
    embeddings catch paraphrase). Pairs flagged by both signals appear
    twice, once per signal, so downstream policy can weight agreement.
    Both legs are the independently-oracled operators composed by
    unionByName — no new shuffle shape."""
    from .operators import dedup as D
    from .queries import QUERIES

    docs = load_table(spark, sf_dir, "documents", spread=True)
    text_pairs = D.ngram_jaccard_pairs(docs, shingle_k=2, threshold=0.2).select(
        "id_a", "id_b", F.lit("text").alias("signal"),
        F.col("jaccard").alias("score"),
    )
    emb_pairs = QUERIES["embedding_neardup_exact"](spark, sf_dir).select(
        "id_a", "id_b", F.lit("embedding").alias("signal"),
        F.col("cos_sim").alias("score"),
    )
    return text_pairs.unionByName(emb_pairs)


def _components_oracle() -> str:
    from .queries import _lsh_verified_oracle

    return f"""
    WITH RECURSIVE pairs AS ({_lsh_verified_oracle()}),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.src, t.r FROM sym s JOIN reach t ON t.node = s.dst
    )
    SELECT node, MIN(r) AS component FROM reach GROUP BY node
    """


@query("neardup_components_documents", _components_oracle())
def neardup_components_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the LSH-verified near-dup
    pair graph — each document labeled with its class representative (min
    member id), so keep-one-per-class is a groupBy. Iterative min-label
    propagation (operators/graph.py), O(diameter) shuffle rounds; the
    oracle states the same fixpoint as a recursive CTE."""
    from .operators import graph as G
    from .operators import dedup as D

    docs = load_table(spark, sf_dir, "documents", spread=True)
    edges = D.neardup_lsh_verified(docs).select("id_a", "id_b")
    return G.connected_components(edges)

@query(
    "bloom_semi_join_lineitem",
    """
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_totalprice > 150000)
    GROUP BY l_returnflag
    """,
)
def bloom_semi_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-filtered semi-join (`operators/bloom.py`): lineitem
    reduced against high-value orders by h=3 broadcast probe joins over
    ≤m-row position tables BEFORE the exact semi-join — the explicit form
    of runtime bloom pruning, for when the key snapshot outlives one
    plan. The oracle is the PLAIN semi-join: equality of results is the
    no-false-negative guarantee, hash-checked per group."""
    from .operators import bloom as B

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders") \
        .filter(F.col("o_totalprice") > 150000)
    hits = B.bloom_semi_join(li, orders, "l_orderkey", "o_orderkey", m=1 << 17)
    return hits.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "dedup_weights_documents",
    f"""
    WITH comps AS (SELECT * FROM ({_components_oracle()})),
    sizes AS (SELECT component, COUNT(*) AS cs FROM comps GROUP BY component)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           CAST(COALESCE(s.cs, 1) AS BIGINT) AS cluster_size,
           ROUND(1.0 / COALESCE(s.cs, 1), 6) AS weight
    FROM documents d
    LEFT JOIN comps c ON c.node = d.doc_id
    LEFT JOIN sizes s ON s.component = c.component
    """,
)
def dedup_weights_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (`dedup.dedup_weights`): every document weighted
    1/near-dup-cluster-size instead of dropped — the mixture-preserving
    alternative to hard dedup. Composes the LSH-verified pair graph with
    connected components; singletons weight 1. The oracle replays pairs,
    the component fixpoint (recursive CTE), sizes, and the weights."""
    from .operators import dedup as D

    docs = load_table(spark, sf_dir, "documents", spread=True)
    edges = D.neardup_lsh_verified(docs).select("id_a", "id_b")
    return D.dedup_weights(docs, edges)


@query(
    "stratified_sample_documents",
    """
    SELECT doc_id, lang, source FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 1)
          IN ('0', '1', '2')
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: a salted md5 of (doc_id, stratum)
    keeps 3/16 of each language — reproducible across engines, runs, and
    cluster sizes (unlike rand()-based sampling), row-local, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("lang"))),
        1, 1,
    )
    return d.filter(bucket.isin("0", "1", "2")).select("doc_id", "lang", "source")


# target mixture: fraction per source in 1/256 units, expressed as the
# 2-hex-digit threshold the doc's hash bucket must stay below (md5 hex is
# uniform, so substr(md5,1,2) < 'c0' keeps exactly the 192/256 = 75% band).
_MIXTURE = {"src0": "c0", "src1": "80", "src2": "40"}  # 75% / 50% / 25%
_MIXTURE_DEFAULT = "20"  # 12.5% for every other source


@query(
    "mixture_sample_documents",
    f"""
    SELECT doc_id, source, lang FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || '@' || source), 1, 2) <
          CASE source
            {' '.join(f"WHEN '{s}' THEN '{t}'" for s, t in _MIXTURE.items())}
            ELSE '{_MIXTURE_DEFAULT}' END
    """,
)
def mixture_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/mixture sampling — each source is down-sampled to its own
    target fraction (the training-data op that rebalances a corpus toward a
    prescribed source mixture). Deterministic: a salted md5 bucket per doc
    compared against a per-source 2-hex-digit threshold, so the sample is
    reproducible across engines, runs, and cluster sizes, and a doc's fate
    never depends on which executor saw it. Row-local — no shuffle, no
    per-stratum pass; scales as one scan at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("@"),
                       F.col("source"))), 1, 2)
    thr = F.lit(_MIXTURE_DEFAULT)
    for s, t in reversed(list(_MIXTURE.items())):
        thr = F.when(F.col("source") == s, F.lit(t)).otherwise(thr)
    return d.filter(bucket < thr).select("doc_id", "source", "lang")


@query(
    "tfidf_top_terms_documents",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND(tf.tf * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1)) + 1), 6)
               AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, score, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def tfidf_top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by smoothed tf-idf
    (operators/textstats.py::tfidf_topk): one tokenize feeds both the tf and
    df aggregates; ranking is on the rounded score so the order is
    libm-independent."""
    from .operators import textstats as TS

    return TS.tfidf_topk(load_table(spark, sf_dir, "documents", spread=True))


@query(
    "zscore_outliers_documents",
    """
    WITH m AS (
      SELECT lang, COUNT(*) AS n,
             SUM(CAST(n_chars AS BIGINT)) AS s,
             SUM(CAST(n_chars AS DECIMAL(15,0)) * CAST(n_chars AS DECIMAL(15,0))) AS sq
      FROM documents GROUP BY lang
    ),
    stats AS (
      SELECT lang, n,
             CAST(s AS DOUBLE) / n AS mean,
             sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) AS sd
      FROM m WHERE n > 1
    )
    SELECT d.doc_id, d.lang,
           ROUND((d.n_chars - st.mean) / st.sd, 4) AS z
    FROM documents d JOIN stats st ON d.lang = st.lang
    WHERE abs((d.n_chars - st.mean) / st.sd) > 1.5
    """,
)
def zscore_outliers_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum outlier detection for quality filtering: documents whose
    length z-score within their language exceeds 1.5. Moments come from
    EXACT integer sums (sum, sum-of-squares are exact in int64/double for
    any realistic corpus), not stddev_samp — the streaming variance
    algorithms of different engines differ in final bits, exact sums never
    do. One aggregate pass + a broadcast join back: the single-pass shape
    that works at any scale."""
    d = load_table(spark, sf_dir, "documents")
    nc = F.col("n_chars").cast("long")
    # squares accumulate in decimal: int64 would wrap silently on Spark at
    # corpus scale while the oracle's engine errors — decimal is exact and
    # overflow-safe on both
    ncd = F.col("n_chars").cast("decimal(15,0)")
    m = d.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(nc).alias("s"),
        F.sum(ncd * ncd).alias("sq"),
    ).filter(F.col("n") > 1)
    stats = m.select(
        "lang",
        (F.col("s").cast("double") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("sq").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    # try_divide: an all-same-length stratum has sd=0 → NULL z (dropped by
    # the threshold on both engines) instead of an ANSI error
    z = F.try_divide(F.col("n_chars") - F.col("mean"), F.col("sd"))
    return (
        d.join(F.broadcast(stats), "lang")
        .filter(F.abs(z) > 1.5)
        .select("doc_id", "lang", F.round(z, 4).alias("z"))
    )


@query(
    "pack_token_budget_documents",
    """
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS pack_id
    FROM c
    """,
)
def pack_token_budget_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: documents are assigned to 2048-token packs by
    a running token cumsum per language shard (a doc starting inside pack k
    belongs to pack k — the standard streaming-greedy approximation). One
    shuffle on the shard key; pack ids are deterministic because the order
    (doc_id) is explicit. A window partition holds one whole shard — at
    real scale the shard key must be finer than `lang` (any deterministic
    doc_id bucket composes with it) so no partition outgrows a task."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = d.select("doc_id", "lang", n_tok.alias("n_tok"))
    return t.select(
        "doc_id", "lang",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 2048.0)
        .cast("long")
        .alias("pack_id"),
    )


# ---------------------------------------------------------------------------
# entity-resolution fuzzy matching / time-series analytics
# ---------------------------------------------------------------------------

@query(
    "fuzzy_name_pairs",
    """
    WITH names AS (
      SELECT p_name, COUNT(*) AS n_parts,
             list_extract(string_split(p_name, ' '), -1) AS block
      FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b, a.block AS block,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
     AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein fuzzy-match join — the generic form of the
    reference's name-resolution problem (`script/itemtoid.py` resolves
    free-text names against an index; here near-identical names resolve
    against each other). Scale design is tiered like the dedup pipeline:
    exact-collapse to DISTINCT names first (the part table is ~99.7%
    exact-duplicate names), THEN the quadratic edit-distance only runs
    inside blocking buckets (last name token) over the tiny survivor set.
    The edit-distance join never touches the fact-table cardinality; the
    n_parts multiplicities let a consumer re-expand pair weights."""
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count("*").alias("n_parts")).select(
        "p_name", "n_parts",
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(dist.between(1, 3))
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("a.block").alias("block"),
            dist.cast("int").alias("dist"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
    )


@query(
    "cohort_retention_events",
    """
    WITH f AS (
      SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS act_day
      FROM events
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(a.act_day - f.cohort_day AS INT) AS day_offset,
           COUNT(DISTINCT f.user_id) AS n_users
    FROM f JOIN a USING (user_id)
    GROUP BY f.cohort_day, a.act_day - f.cohort_day
    """,
)
def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen day, counted on each
    later active day (offset in days). ONE shuffle on user_id computes
    both the cohort anchor and the distinct activity set
    (`min` + `collect_set` in the same hash agg), then explode + re-agg on
    the tiny (cohort, offset) key — vs the naive two-agg + join-back. The
    per-user state is bounded by the number of distinct active days, so
    the agg cannot blow up on heavy users."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("cohort_day"),
        F.collect_set(F.to_date(F.date_trunc("day", F.col("ts")))).alias("act_days"),
    )
    return (
        per_user.select(
            "user_id", "cohort_day",
            F.explode("act_days").alias("act_day"),
        )
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("act_day", "cohort_day").cast("int").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(
    "ntile_customer_spend",
    """
    SELECT o_custkey,
           CAST(spend AS DOUBLE) AS spend,
           CAST(NTILE(10) OVER (ORDER BY spend, o_custkey) AS INT) AS decile
    FROM (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
      FROM orders GROUP BY o_custkey
    )
    """,
)
def ntile_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile bucketing over per-customer spend (deterministic via
    the custkey tiebreak; Spark and DuckDB share the front-loaded-remainder
    NTILE definition). A global NTILE is inherently a global sort — fine
    here because the input is already one-row-per-customer; for bucketing
    at fact-table cardinality use percentile cutpoints instead
    (`percentile_prices`) so the data never single-partitions."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(_dec(F.col("o_totalprice"))).alias("spend")
    )
    w = Window.orderBy("spend", "o_custkey")
    return spend.select(
        "o_custkey",
        F.col("spend").cast("double").alias("spend"),
        F.ntile(10).over(w).cast("int").alias("decile"),
    )


@query(
    "gapfill_daily_orders",
    """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
      FROM orders GROUP BY 1
    ),
    b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM d),
    cal AS (
      SELECT UNNEST(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS day FROM b
    )
    SELECT strftime(cal.day, '%Y-%m-%d') AS day, COALESCE(d.n, 0) AS n_orders
    FROM cal LEFT JOIN d USING (day)
    """,
)
def gapfill_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: daily order counts with every
    missing calendar day materialized as an explicit zero row. The fact
    table collapses to per-day counts first (one hash agg); the calendar
    spine is `sequence()` over the aggregated min/max — generated, never
    scanned — and the final join is tiny-vs-tiny."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").alias("n")
    )
    cal = (
        d.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(F.explode(F.sequence("mn", "mx")).alias("day"))
    )
    return (
        cal.join(d, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
    )


@query(
    "scd2_order_status_history",
    """
    SELECT o_custkey, o_orderkey, o_orderstatus,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           COALESCE(
             strftime(
               LEAD(o_orderdate) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               '%Y-%m-%d'),
             '9999-12-31') AS valid_to
    FROM orders
    """,
)
def scd2_order_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: each order's status becomes
    a validity interval [its date, next order's date) per customer, open
    intervals closed with a sentinel. One shuffle (the per-customer
    window); deterministic via the orderkey tiebreak."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey", "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(
            F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd"),
            F.lit("9999-12-31"),
        ).alias("valid_to"),
    )


@query(
    "q20_potential_promotion",
    """
    SELECT s_name, n_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT ps.l_suppkey
        FROM (SELECT l_partkey, l_suppkey, SUM(l_quantity) AS avail
              FROM lineitem WHERE l_shipdate >= DATE '1999-01-01'
              GROUP BY 1, 2) ps
        WHERE ps.l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE 'small%')
          AND ps.avail > (
            SELECT 0.5 * SUM(l.l_quantity)
            FROM lineitem l
            WHERE l.l_partkey = ps.l_partkey
              AND l.l_suppkey = ps.l_suppkey
              AND l.l_shipdate >= DATE '1996-01-01'
              AND l.l_shipdate <  DATE '1997-01-01'))
    ORDER BY s_name
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 re-targeted (this schema has no partsupp: "availability"
    of a (part, supplier) pair is its total quantity shipped from
    1999 on — late-period stock on hand; the correlated demand window is
    calendar 1996; geography widens from one nation to one region so the
    threshold's survivors aren't masked by a 4-supplier nation) —
    suppliers of a 'small%' part whose availability exceeds half that
    pair's 1996 demand. The oracle keeps q20's signature double-nested
    IN with the correlated 0.5·SUM scalar subquery; the Spark form
    DECORRELATES it into a single conditional aggregate: one lineitem
    scan (part semi-join pushed below the shuffle, both date windows as
    `SUM(CASE)` over the same (partkey, suppkey) groupBy), the threshold
    as a plain column filter — NULL demand excludes the pair exactly
    like the correlated NULL comparison — then a distinct-supplier
    left-semi join and broadcast nation/region dims. Two shuffles total
    (pair aggregate, supplier distinct) at any scale; the correlated
    subquery never re-scans lineitem. Reference parity: the engine's
    candidate-threshold prefilters (itemtoid.py's ratio gates) are this
    same decorrelated-aggregate shape."""
    part_small = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
    pairs = (
        li.filter(
            (F.col("l_shipdate") >= "1999-01-01")
            | ((F.col("l_shipdate") >= "1996-01-01")
               & (F.col("l_shipdate") < "1997-01-01")))
        .join(F.broadcast(part_small),
              F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(F.col("l_shipdate") >= "1999-01-01",
                         F.col("l_quantity"))).alias("avail"),
            F.sum(F.when(F.col("l_shipdate") < "1997-01-01",
                         F.col("l_quantity"))).alias("demand"),
        )
        .filter(F.col("avail") > 0.5 * F.col("demand"))
    )
    nat = (
        load_table(spark, sf_dir, "nation")
        .join(F.broadcast(load_table(spark, sf_dir, "region")
                          .filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(pairs.select("l_suppkey").distinct(),
              F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nat),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name", "s_acctbal")
        .orderBy("s_name")
    )


@query(
    "q21_single_late_supplier",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND n.n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_single_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 re-targeted (no l_receiptdate/l_commitdate in this schema:
    "late" = shipped >60 days after the order date) — suppliers who were the
    ONLY late shipper on a multi-supplier 'F' order. The oracle keeps q21's
    double-correlated EXISTS / NOT EXISTS; the Spark form de-correlates into
    one per-order aggregate (distinct suppliers, distinct LATE suppliers) —
    the subqueries become two counters on a groupBy the plan already needs,
    and the join-back to the late rows reuses the orderkey partitioning, so
    the whole query is two shuffles + broadcast dims at any scale."""
    from pyspark import StorageLevel

    o = load_table(spark, sf_dir, "orders") \
        .filter(F.col("o_orderstatus") == "F") \
        .select("o_orderkey", "o_orderdate")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "late",
            F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAYS"),
        )
    )
    # r12 (guide §2.3 "aggregate before you shuffle", §1.2): fold the raw
    # line items to (order, supplier) granularity ONCE — the per-order
    # counters become plain aggregates over pair rows (no
    # countDistinct-Expand doubling the agg input) and the blame rollup
    # reads pair rows instead of re-scanning lineitem a second time.
    # per_pair is persisted: the per_order side broadcasts, which would
    # otherwise force the scan+join+agg pipeline to run once per side.
    per_pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("late_rows"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum((F.col("late_rows") > 0).cast("int")).alias("n_late_supp"),
    ).filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    blamed = (
        per_pair.filter(F.col("late_rows") > 0)
        .join(per_order, "l_orderkey")
        .groupBy("l_suppkey").agg(F.sum("late_rows").alias("numwait"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        blamed.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "merge_changeset_orders",
    """
    WITH snap AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice, o_orderdate
      FROM orders
    ),
    upd AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * CAST(1.1 AS DECIMAL(3,2)), 2)
                  AS DECIMAL(12,2)) AS new_price
      FROM snap WHERE o_orderkey % 17 IN (1, 5)
    ),
    merged AS (
      SELECT s.o_orderkey, s.o_custkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN 'M'
                  ELSE s.o_orderstatus END AS o_orderstatus,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.new_price
                  ELSE s.o_totalprice END AS o_totalprice,
             s.o_orderdate
      FROM snap s LEFT JOIN upd u ON s.o_orderkey = u.o_orderkey
      WHERE s.o_orderkey % 17 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice, o_orderdate
      FROM snap WHERE o_orderkey % 17 = 3
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           ROUND(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
    FROM merged
    """,
)
def merge_changeset_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (upsert/delete) — a deterministic I/U/D changeset applied to the
    orders snapshot through the generic `merge_changeset` operator (one
    full-outer join, changeset side broadcast by AQE). The oracle states the
    same semantics as LEFT JOIN + anti-filter + UNION ALL. Deletes keys
    ≡0 (mod 17), reprices+flags keys ≡1,5, inserts shifted copies of keys
    ≡3 — every verb exercised, including U cells left NULL to prove
    column-preserving updates."""
    o = load_table(spark, sf_dir, "orders")
    snap = o.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        _dec(F.col("o_totalprice")).alias("o_totalprice"), "o_orderdate",
    )
    m = F.col("o_orderkey") % 17
    nulls = {c: F.lit(None).cast(t).alias(c)
             for c, t in snap.dtypes if c != "o_orderkey"}
    upd = snap.filter(m.isin(1, 5)).select(
        "o_orderkey", F.lit("U").alias("op"), nulls["o_custkey"],
        F.lit("M").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * F.lit("1.1").cast("decimal(3,2)"), 2)
        .cast(DEC).alias("o_totalprice"),
        nulls["o_orderdate"],
    )
    dels = snap.filter(m == 0).select(
        "o_orderkey", F.lit("D").alias("op"), nulls["o_custkey"],
        nulls["o_orderstatus"], nulls["o_totalprice"], nulls["o_orderdate"],
    )
    ins = snap.filter(m == 3).select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        F.lit("I").alias("op"), "o_custkey",
        F.lit("N").alias("o_orderstatus"), "o_totalprice", "o_orderdate",
    )
    # The changeset here is SYNTHESIZED from the snapshot (test harness —
    # in production it arrives from an external CDC feed); materialize it
    # once so its three I/U/D branches don't each rescan orders. The
    # operator under test still sees exactly one snapshot scan + a
    # broadcast changeset.
    ch = upd.unionByName(dels).unionByName(ins).localCheckpoint(eager=True)
    merged = R.merge_changeset(snap, ch, "o_orderkey")
    # Hash-stable output surface: DECIMAL and TIMESTAMP_NTZ render
    # differently across engines in the driver's canonicalizer, so the
    # hashed columns are cast to DOUBLE / formatted string on BOTH sides
    # (same recipe as the r1 q12 HUGEINT fix).
    return merged.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round(F.col("o_totalprice").cast("double"), 2).alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
    )


@query(
    "window_rank_variants_orders",
    """
    SELECT o_orderkey, o_orderpriority,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           CAST(nth_value(o_orderkey, 2) OVER
                (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS BIGINT) AS second_cheapest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_rank_variants_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window surface: percent_rank, cume_dist, nth_value over
    an explicit full frame. The (o_totalprice, o_orderkey) ordering is total,
    so every rank is deterministic under any parallelism; one shuffle on the
    partition key serves all three functions."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority") \
        .orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 2).over(wfull).cast("bigint")
        .alias("second_cheapest_key"),
    )


@query(
    "embedding_vector_stats",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val
    FROM embeddings
    """,
)
def embedding_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as declared query surface: transform /
    aggregate (fold) / filter / array_max over the embedding column. All
    row-local — zero shuffles, one scan — and the fold order is the array
    order in both engines, so the double sums are bit-identical (hash-
    matched, not just approximately equal)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)), 6)
        .alias("l2_norm"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
    )


@query(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric,
           CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS value
    FROM part
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — wide numeric columns to long (metric, value) form,
    the inverse of pivot_order_status. Spark's native `unpivot` emits the
    long form in one scan (the oracle states the same semantics as a
    UNION ALL of per-column scans, which would read the table per metric)."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            _dec(F.col("p_retailprice")).cast("double").alias("p_retailprice"),
        )
        .unpivot(["p_partkey"], ["p_size", "p_retailprice"], "metric", "value")
    )


# ---------------------------------------------------------------------------
# training-data curation (operators/curation.py) — repetition, PII,
# decontamination, chunking
# ---------------------------------------------------------------------------

_SHINGLE2_SQL = """list_transform(generate_series(1, len({t}) - 1),
                                  i -> {t}[i] || ' ' || {t}[i+1])"""
_SHINGLE3_SQL = """list_transform(generate_series(1, len({t}) - 2),
                                  i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])"""


def _shingle_sql(k: int, t: str) -> str:
    """DuckDB twin of operators.dedup.shingles: n-k+1 k-grams when the
    token list is long enough, else the single joined-token fallback."""
    body = {2: _SHINGLE2_SQL, 3: _SHINGLE3_SQL}[k].format(t=t)
    return (f"CASE WHEN len({t}) >= {k} THEN {body} "
            f"ELSE [array_to_string({t}, ' ')] END")


def _dupfrac_sql(arr: str) -> str:
    return (f"ROUND(CASE WHEN len({arr}) = 0 THEN NULL ELSE "
            f"CAST(len({arr}) - len(list_distinct({arr})) AS DOUBLE)"
            f" / len({arr}) END, 4)")


@query(
    "repetition_stats_documents",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             {_dupfrac_sql('lines')} AS dup_line_frac,
             {_dupfrac_sql(_shingle_sql(2, 'toks'))} AS dup_2gram_frac,
             {_dupfrac_sql(_shingle_sql(3, 'toks'))} AS dup_3gram_frac
      FROM t
    )
    SELECT doc_id, dup_line_frac, dup_2gram_frac, dup_3gram_frac,
           (COALESCE(dup_line_frac, 0) <= 0.30
            AND COALESCE(dup_2gram_frac, 0) <= 0.20
            AND COALESCE(dup_3gram_frac, 0) <= 0.18) AS passes_repetition
    FROM s
    """,
)
def repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: duplicate-line / duplicate-n-gram
    fractions as row-local array expressions — single scan, zero shuffle."""
    from .operators import curation as CU

    return CU.repetition_stats(load_table(spark, sf_dir, "documents",
                                          spread=True))


def _pii_oracle() -> str:
    from .operators.curation import PII_PATTERNS

    counts = ",\n           ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    red = "text"
    for name, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '[{name.upper()}]', 'g')"
    return f"""
    SELECT doc_id,
           {counts},
           {red} AS redacted
    FROM documents
    """


@query("pii_redact_documents", _pii_oracle())
def pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + per-class counts; patterns restricted to the regex
    subset Spark's Java engine and DuckDB's RE2 share, so the oracle
    replays the exact spans."""
    from .operators import curation as CU

    return CU.pii_redact(load_table(spark, sf_dir, "documents", spread=True))


@query(
    "decontaminate_documents",
    f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({_shingle_sql(3, 'toks')})) AS sh
      FROM tok
    ),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 17 = 0),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS n_shared_shingles
      FROM sh s JOIN bench b ON s.sh = b.sh
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_shared_shingles, 0) AS n_shared_shingles,
           COALESCE(h.n_shared_shingles, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 3-token-shingle overlap against a
    deterministic benchmark stand-in (doc_id % 17 = 0). The benchmark
    shingle set broadcasts; the corpus never shuffles payloads."""
    from .operators import curation as CU

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return CU.decontaminate(docs, docs.filter(F.col("doc_id") % 17 == 0))


@query(
    "contamination_source_rollup_documents",
    f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({_shingle_sql(3, 'toks')})) AS sh
      FROM tok
    ),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 17 = 0),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS n_shared
      FROM sh s JOIN bench b ON s.sh = b.sh
      GROUP BY s.doc_id
    ),
    base AS (
      SELECT d.source, COALESCE(h.n_shared, 0) AS n_shared,
             CASE WHEN d.doc_id % 17 = 0 THEN 1 ELSE 0 END AS is_bench
      FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_bench) AS BIGINT) AS n_bench_docs,
           CAST(SUM(CASE WHEN n_shared > 0 AND is_bench = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           ROUND(AVG(CASE WHEN is_bench = 0
                          THEN CASE WHEN n_shared > 0 THEN 1.0 ELSE 0.0 END
                     END), 6) AS contamination_rate,
           ROUND(AVG(CASE WHEN is_bench = 0 AND n_shared > 0
                          THEN CAST(n_shared AS DOUBLE) END), 4)
             AS avg_shared_when_hit
    FROM base GROUP BY source
    """,
)
def contamination_source_rollup_documents(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    """Per-source CONTAMINATION-RATE rollup (the r8 §7.3 candidate):
    which feeds leak benchmark text, at what rate, and how hard — the
    triage table a decontamination run ends with. Benchmark stand-in
    docs (doc_id%17==0) are counted but excluded from the rate (a
    benchmark doc trivially 'shares' its own shingles). Reuses
    `curation.decontaminate`'s engine path; the rollup is one hash
    aggregate keyed by source — model-sized output."""
    from .operators import curation as CU

    docs = load_table(spark, sf_dir, "documents", spread=True)
    dec = CU.decontaminate(docs, docs.filter(F.col("doc_id") % 17 == 0))
    base = (
        docs.select("doc_id", "source")
        .join(dec.select("doc_id", "n_shared_shingles"), "doc_id")
        .withColumn("is_bench",
                    F.when(F.col("doc_id") % 17 == 0, 1).otherwise(0))
    )
    corpus = F.col("is_bench") == 0
    hit = F.col("n_shared_shingles") > 0
    return base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_bench").alias("n_bench_docs"),
        F.sum(F.when(corpus & hit, 1).otherwise(0)).alias("n_contaminated"),
        F.round(F.avg(F.when(corpus, F.when(hit, 1.0).otherwise(0.0))), 6)
        .alias("contamination_rate"),
        F.round(F.avg(F.when(corpus & hit,
                             F.col("n_shared_shingles").cast("double"))), 4)
        .alias("avg_shared_when_hit"),
    )


@query(
    "bloom_decontaminate_documents",
    f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({_shingle_sql(3, 'toks')})) AS sh
      FROM tok
    ),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 17 = 0),
    seeds AS (SELECT CAST(i AS INT) AS i FROM unnest(range(0, 4)) t(i)),
    bbits AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5('bf' || i || '|' || sh), 1, 8)
                  AS BIGINT) % 1048576 AS bit
      FROM bench, seeds),
    sbits AS (
      SELECT doc_id, sh, i,
             CAST('0x' || substr(md5('bf' || i || '|' || sh), 1, 8)
                  AS BIGINT) % 1048576 AS bit
      FROM sh, seeds),
    cand AS (
      SELECT doc_id, sh FROM sbits JOIN bbits USING (bit)
      GROUP BY doc_id, sh HAVING COUNT(DISTINCT i) = 4),
    bl AS (SELECT doc_id, COUNT(*) AS n_bloom FROM cand GROUP BY doc_id),
    ex AS (SELECT c.doc_id, COUNT(*) AS n_ex
           FROM cand c JOIN bench b ON b.sh = c.sh GROUP BY c.doc_id)
    SELECT d.doc_id,
           COALESCE(bl.n_bloom, 0) AS n_bloom_candidates,
           COALESCE(ex.n_ex, 0) AS n_shared_shingles,
           COALESCE(bl.n_bloom, 0) - COALESCE(ex.n_ex, 0) AS n_bloom_fp,
           COALESCE(ex.n_ex, 0) > 0 AS contaminated
    FROM documents d
    LEFT JOIN bl ON bl.doc_id = d.doc_id
    LEFT JOIN ex ON ex.doc_id = d.doc_id
    """,
)
def bloom_decontaminate_documents(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Bloom-PREFILTERED decontamination (`curation.decontaminate_bloom`)
    — the 100 TB form of `decontaminate_documents`: the benchmark ships
    as a 2^20-bit Bloom set (4 md5-salted positions per shingle, ≤128 KB
    broadcast) instead of its full shingle strings; corpus shingles
    passing all 4 bits are exact-verified, so the contamination verdict
    is bit-identical to the exact query while the benchmark-string join
    touches only candidates. The md5 bit derivation is the engine's
    parity kernel, so the oracle replays the FILTER ITSELF — the
    hash-checked n_bloom_fp column counts the false positives the exact
    verify removed, making the probabilistic layer's behavior (not just
    its final answer) part of the correctness contract."""
    from .operators import curation as CU

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return CU.decontaminate_bloom(docs,
                                  docs.filter(F.col("doc_id") % 17 == 0))


def _streaming_bloom_bits_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) the MAINTAINED decontamination
    Bloom bit set: the doc_id%17==0 benchmark slice arrives as two
    file-source micro-batches (split by doc_id%34) through
    `streaming/bloom_admission.streaming_bloom_maintain`, each merging
    its bits into the stored set as one ledger base per batch."""
    from .streaming.bloom_admission import streaming_bloom_maintain

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        bench = docs.filter(F.col("doc_id") % 17 == 0)
        stream = _feed_stream(spark, stage, [
            bench.filter(F.col("doc_id") % 34 == r) for r in (0, 17)])
        streaming_bloom_maintain(
            stream, os.path.join(stage, "bits"), os.path.join(stage, "ckpt"))

    return os.path.join(
        _snapshot_dir(sf_dir, "documents", "wde_bloom_adm2", build), "bits")


@query(
    "streaming_bloom_admission_documents",
    f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({_shingle_sql(3, 'toks')})) AS sh
      FROM tok
    ),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 17 = 0),
    seeds AS (SELECT CAST(i AS INT) AS i FROM unnest(range(0, 4)) t(i)),
    bbits AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5('bf' || i || '|' || sh), 1, 8)
                  AS BIGINT) % 1048576 AS bit
      FROM bench, seeds),
    sbits AS (
      SELECT doc_id, sh, i,
             CAST('0x' || substr(md5('bf' || i || '|' || sh), 1, 8)
                  AS BIGINT) % 1048576 AS bit
      FROM sh, seeds),
    cand AS (
      SELECT doc_id, sh FROM sbits JOIN bbits USING (bit)
      GROUP BY doc_id, sh HAVING COUNT(DISTINCT i) = 4),
    bl AS (SELECT doc_id, COUNT(*) AS n_bloom FROM cand GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(bl.n_bloom, 0) AS n_bloom_candidates,
           COALESCE(bl.n_bloom, 0) = 0 AS admitted
    FROM documents d LEFT JOIN bl ON bl.doc_id = d.doc_id
    """,
)
def streaming_bloom_admission_documents(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """STREAMING-MAINTAINED Bloom decontamination admission
    (`streaming/bloom_admission.py`): the benchmark slice arrives as two
    micro-batches, each merging its shingles' bit positions into a stored
    bit-set table (UNION DISTINCT = the relational bitwise OR — the same
    mergeable-sketch algebra as the HLL family, and idempotent under
    replay); the corpus is then gated against the MAINTAINED set. Because
    the OR algebra is exact, the maintained set equals the one-shot
    filter over the whole benchmark, so the DuckDB oracle replays the
    one-shot bits bit-for-bit — the driver hash proves
    maintained ≡ one-shot, including every Bloom false positive (an
    over-rejected clean doc shows up as admitted=false with
    n_shared=0 in the exact query — safe direction)."""
    from .streaming.bloom_admission import bloom_admission, read_bloom_bits

    bits_dir = _streaming_bloom_bits_dir(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return bloom_admission(docs, read_bloom_bits(spark, bits_dir))


@query(
    "chunk_documents_windows",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    st AS (
      SELECT doc_id, toks, CAST(s AS INT) AS s
      FROM t, unnest(range(0, greatest(len(toks) - 1, 0) + 1, 56)) AS u(s)
      WHERE s = 0 OR s + 8 < len(toks)
    )
    SELECT doc_id, CAST(s / 56 AS INT) AS chunk_idx,
           CAST(len(toks[s+1:s+64]) AS INT) AS n_tokens,
           array_to_string(toks[s+1:s+64], ' ') AS chunk_text
    FROM st
    """,
)
def chunk_documents_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (64-token windows, 8-token overlap → stride
    56): one posexplode over computed slice starts — a 100-TB corpus chunks
    in a single scan with no shuffle and no Python."""
    from .operators import curation as CU

    return CU.chunk_documents(load_table(spark, sf_dir, "documents",
                                         spread=True),
                              max_tokens=64, overlap=8)


# ---------------------------------------------------------------------------
# sketch accuracy gates — HLL / quantile sketches are THE cardinality and
# distribution tools at 100 TB (exact distinct/percentile over a fact table
# is a full shuffle; the sketches are one-pass, mergeable, bounded-memory).
# Their outputs are approximate, so like the ANN paths they get property
# gates: the sketch must land within a stated error of the exact answer the
# oracle can compute.
# ---------------------------------------------------------------------------

@query(
    "hll_distinct_gate",
    """
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           TRUE AS hll_ok
    FROM orders
    """,
)
def hll_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) vs exact: at rsd=0.02 the
    sketch estimate must land within 5% relative error (measured 0.4-0.6%
    on the synthetic tables — an 8x margin; rsd=0.05 measured ~6% at these
    cardinalities, outside its own nominal bound, hence the tighter
    register budget). At scale the sketch replaces a COUNT(DISTINCT)
    shuffle with a mergeable per-partition register set."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.countDistinct("o_custkey").alias("exact_distinct"),
        F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
    )
    return agg.select(
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (F.abs(F.col("approx") - F.col("exact_distinct"))
         <= 0.05 * F.col("exact_distinct")).alias("hll_ok"),
    )


@query(
    "quantile_sketch_gate",
    """
    SELECT CAST(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS DOUBLE)
             AS exact_p50,
           CAST(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.99) AS DOUBLE)
             AS exact_p99,
           TRUE AS sketch_ok
    FROM orders
    """,
)
def quantile_sketch_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) vs the exact continuous
    quantile: p50/p99 estimates must land within 2% of the exact values.
    The exact interpolated quantiles come from `percentile` (Spark) and
    `quantile_cont` (DuckDB), which agree bit-for-bit; the sketch side is
    the one-pass mergeable structure a 100-TB scan would actually use."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("v"))
    agg = o.agg(
        F.expr("percentile(v, 0.5)").alias("exact_p50"),
        F.expr("percentile(v, 0.99)").alias("exact_p99"),
        F.expr("approx_percentile(v, 0.5, 10000)").alias("a50"),
        F.expr("approx_percentile(v, 0.99, 10000)").alias("a99"),
    )
    return agg.select(
        F.col("exact_p50").cast("double").alias("exact_p50"),
        F.col("exact_p99").cast("double").alias("exact_p99"),
        ((F.abs(F.col("a50") - F.col("exact_p50"))
          <= 0.02 * F.abs(F.col("exact_p50")))
         & (F.abs(F.col("a99") - F.col("exact_p99"))
            <= 0.02 * F.abs(F.col("exact_p99")))).alias("sketch_ok"),
    )


@query(
    "winnowing_fingerprints_documents",
    """
    WITH t AS (SELECT doc_id, substr(trim(lower(text)), 1, 256) AS tl
               FROM documents),
    g AS (SELECT doc_id, tl, len(tl) - 7 AS n FROM t),
    grams AS (
      SELECT doc_id, n,
             list_transform(generate_series(1, greatest(n, 1)),
                            i -> md5(substr(tl, CAST(i AS INT), 8))) AS gs
      FROM g),
    wins AS (
      SELECT doc_id,
             CASE WHEN n >= 16 THEN
               list_transform(generate_series(1, n - 15),
                              j -> list_aggregate(gs[j:j+15], 'min'))
             ELSE [list_aggregate(gs, 'min')] END AS ws
      FROM grams)
    SELECT doc_id, unnest(list_distinct(ws)) AS fp FROM wins
    """,
)
def winnowing_fingerprints_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash document fingerprinting,
    Schleimer et al.): per-window minimum of md5 8-gram hashes over the
    256-char head — any shared run of >= 23 chars between two documents
    shares a fingerprint. Row-local higher-order functions; the oracle
    replays gram hashing, window minima, and selection exactly
    over the 256-char head window."""
    from .operators import textstats as TS

    return TS.winnowing_fingerprints(
        load_table(spark, sf_dir, "documents", spread=True))


@query(
    "train_val_split_documents",
    """
    WITH s AS (
      SELECT doc_id, source,
             CASE WHEN strpos('0123456789abcdef',
                              substr(md5('split|' || source), 1, 1)) - 1 < 13
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM s GROUP BY split
    """,
)
def train_val_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: the split key is md5 of the SOURCE,
    not the document — every document of a source (and therefore the
    boilerplate near-duplicates within it) lands in the same split, the
    standard guard against train/val contamination. Deterministic
    (first md5 nibble < 13 → train ≈ 13/16), row-local, reproducible
    across engines, runs, and cluster sizes — unlike randomSplit, whose
    assignment depends on partitioning."""
    d = load_table(spark, sf_dir, "documents")
    nib = (F.conv(F.substring(F.md5(F.concat(F.lit("split|"), F.col("source"))),
                              1, 1), 16, 10).cast("int"))
    split = F.when(nib < 13, "train").otherwise("val")
    return (
        d.select(split.alias("split"), "source")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"),
             F.countDistinct("source").alias("n_sources"))
    )


@query(
    "cms_heavy_hitters_documents",
    """
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents
    ),
    t AS (SELECT w FROM tok WHERE w <> ''),
    seeds AS (SELECT CAST(i AS INT) AS i FROM unnest(range(0, 4)) s(i)),
    ctr AS (
      SELECT i AS seed,
             CAST('0x' || substr(md5('cms' || i || '|' || w), 1, 8)
                  AS BIGINT) % 16 AS bucket,
             COUNT(*) AS c
      FROM t, seeds GROUP BY 1, 2
    ),
    exact AS (SELECT w, COUNT(*) AS n FROM t GROUP BY w),
    top AS (SELECT w, n FROM exact ORDER BY n DESC, w LIMIT 50),
    est AS (
      SELECT tp.w, tp.n, MIN(c.c) AS e
      FROM top tp CROSS JOIN seeds s
      JOIN ctr c
        ON c.seed = s.i
       AND c.bucket = CAST('0x' || substr(md5('cms' || s.i || '|' || tp.w),
                                          1, 8) AS BIGINT) % 16
      GROUP BY tp.w, tp.n
    )
    SELECT w AS word, CAST(n AS BIGINT) AS n_exact,
           CAST(e AS BIGINT) AS n_cms,
           CAST(e - n AS BIGINT) AS overestimate
    FROM est
    """,
)
def cms_heavy_hitters_documents(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH heavy hitters (`sketches.cms_counters` /
    `cms_estimate`, Cormode & Muthukrishnan 2005): the word stream folds
    into a 4×16 relational counter table — depth·width rows TOTAL
    whatever the corpus size, mergeable by addition (the same
    pre-aggregate/merge-later contract as the HLL/KLL columns, but in
    plain relational state a SQL engine can replay) — and each top-50
    word's estimate is the MIN of its 4 salted counter cells. The width
    is deliberately SMALLER than the vocabulary so collisions are real:
    the hash-checked `overestimate` column exhibits the sketch's
    one-sided error (never negative — CMS cannot undercount), which is
    the estimator's correctness property, certified per word rather
    than asserted. Scale shape: one explode feeding a sketch-sized
    aggregate (map-side partials are already ≤ 64 rows), one exact word
    aggregate for the comparison, and a broadcast join of the 64-row
    counter table — candidates never shuffle."""
    from .functions.strings import tokens as _tokens
    from .operators import sketches as SK

    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(F.explode(_tokens(F.col("text"))).alias("w")) \
        .filter(F.col("w") != "")
    counters = SK.cms_counters(tok, "w")
    top = (
        tok.groupBy("w").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("w")).limit(50)
    )
    return (
        SK.cms_estimate(top, counters, "w")
        .select(
            F.col("w").alias("word"),
            F.col("n").cast("long").alias("n_exact"),
            "n_cms",
            (F.col("n_cms") - F.col("n")).cast("long")
            .alias("overestimate"),
        )
    )


@query(
    "freq_items_gate",
    """
    WITH f AS (
      SELECT source, COUNT(*) AS c FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(c) AS n FROM f)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_frequent, TRUE AS freq_ok
    FROM f, tot WHERE c > 0.04 * n
    """,
)
def freq_items_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters sketch gate: `freqItems` (the Karp/Shenker/Papadimitriou
    one-pass frequent-items sketch — bounded memory, mergeable, the 100-TB
    alternative to a full groupBy for 'what dominates this column') must
    return a SUPERSET of the sources with frequency STRICTLY above 4%, the
    guarantee the algorithm provides (false positives allowed, false
    negatives only for items at or below the support — an exactly-4% item
    can legitimately be absent, so the exact side uses `>`, not `>=`).
    The oracle states the exact frequent-item count and the gate boolean."""
    d = load_table(spark, sf_dir, "documents")
    sketch = set(d.stat.freqItems(["source"], 0.04).collect()[0][0])
    exact = (
        d.groupBy("source").count()
        .join(F.broadcast(d.agg(F.count("*").alias("n"))))
        .filter(F.col("count") > 0.04 * F.col("n"))
        .select("source")
    )
    truth = {r.source for r in exact.collect()}
    return spark.createDataFrame(
        [(len(truth), truth.issubset(sketch))],
        "n_true_frequent long, freq_ok boolean",
    )


@query(
    "data_quality_orders",
    """
    WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM orders)
    SELECT "check", violations, total, violations = 0 AS ok FROM (
      SELECT 'accepted:o_orderstatus' AS "check",
             CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('O','F','P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS violations,
             (SELECT total FROM t) AS total
      FROM orders
      UNION ALL
      SELECT 'fk:o_custkey',
             CAST(COUNT(*) AS BIGINT), (SELECT total FROM t)
      FROM orders o
      WHERE o.o_custkey IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey)
      UNION ALL
      SELECT 'not_null:o_orderkey',
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT),
             (SELECT total FROM t)
      FROM orders
      UNION ALL
      SELECT 'range:o_totalprice',
             CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                            AND o_totalprice < 0 THEN 1 ELSE 0 END)
                  AS BIGINT),
             (SELECT total FROM t)
      FROM orders
      UNION ALL
      SELECT 'regex:o_orderpriority',
             CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                            AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                       THEN 1 ELSE 0 END) AS BIGINT),
             (SELECT total FROM t)
      FROM orders
      UNION ALL
      SELECT 'unique:o_orderkey',
             -- dbt ignore-NULL semantics (matches operators/quality.py):
             -- NULL keys are excluded from BOTH counts
             CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT),
             (SELECT total FROM t)
      FROM orders
    ) ORDER BY "check"
    """,
)
def data_quality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations over the orders table (`operators/
    quality.py`): all row-local checks (not-null / range / accepted /
    regex) fold into ONE conditional aggregation over a single scan,
    uniqueness is one extra hash agg, and the FK check is one broadcast
    anti-join against customer — the admission-control pass a 100 TB
    ingest runs before data enters the pipeline. The oracle states each
    check as its own scalar aggregate."""
    from .operators import quality as Q

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return Q.run_expectations(orders, [
        Q.check_not_null("o_orderkey"),
        Q.check_unique("o_orderkey"),
        Q.check_range("o_totalprice", lo=0),
        Q.check_accepted("o_orderstatus", ["O", "F", "P"]),
        Q.check_regex("o_orderpriority", "^[1-5]-"),
        Q.check_fk("o_custkey", customer, "c_custkey"),
    ])


def _dedup_kept_cte_block(src: str, t: str,
                          max_bucket: int | None = None) -> str:
    """Full `dedup_corpus` as a FLAT list of CTE definitions over relation
    `src`, every name suffixed with `_{t}`: exact collapse → LSH-verified
    near-dup pairs → recursive-CTE connected components → min-id
    representative per class. Flat and uniquely named because the
    increment oracle instantiates this block TWICE in one statement, and
    DuckDB mis-binds same-named CTEs across nested sibling scopes (the
    staged form gives the correct 476 at sf0.01, the nested same-name
    form 466 — so flattening is a correctness requirement, not style).
    The result relation is `kept_{t}` (doc_id, text). Minhash / banding
    math is the same bit-exact family as `_lsh_verified_oracle`.

    `max_bucket` mirrors `dedup_corpus(max_bucket=...)`: None disables
    the hot-bucket guard (the increment oracle needs the uncapped form
    for its unconditional full-rerun equivalence); an int drops whole
    band buckets over that size before candidate pairing, bit-for-bit
    the same HAVING-count idiom as `_emb_lsh_pairs_oracle`."""
    from .operators.dedup import _MH_P, _MH_PERM
    from .queries import _NORM_SQL

    num_hashes, bands, threshold = 16, 4, 0.2
    rpb = num_hashes // bands
    mh_cols = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {_MH_P}) AS mh_{j}"
        for j, (a, b) in enumerate(_MH_PERM[:num_hashes])
    )
    band_rows = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {b} AS band_idx, md5({expr}) AS band_hash "
        "FROM sigs_{t}".format(
            b=b, t=t,
            expr=" || '|' || ".join(
                f"CAST(mh_{b * rpb + r} AS VARCHAR)" for r in range(rpb)),
        )
        for b in range(bands)
    )
    jacc = ("ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter),"
            " 6)")
    if max_bucket is None:
        cap_sql = f"SELECT doc_id, band_idx, band_hash FROM banded_{t}"
    else:
        cap_sql = (
            f"SELECT b.doc_id, b.band_idx, b.band_hash FROM banded_{t} b\n"
            f"      JOIN (SELECT band_idx, band_hash FROM banded_{t}\n"
            f"            GROUP BY band_idx, band_hash\n"
            f"            HAVING COUNT(*) <= {max_bucket}) ok\n"
            f"        ON ok.band_idx = b.band_idx"
            f" AND ok.band_hash = b.band_hash"
        )
    return f"""
    fpx_{t} AS MATERIALIZED (SELECT doc_id, md5({_NORM_SQL.format('text')}) AS fp
                FROM {src}),
    win_{t} AS MATERIALIZED (SELECT fp, MIN(doc_id) AS keep_id FROM fpx_{t} GROUP BY fp),
    surv_{t} AS MATERIALIZED (SELECT s.doc_id, s.text FROM {src} s
                 JOIN win_{t} w ON w.keep_id = s.doc_id),
    tok_{t} AS MATERIALIZED (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM surv_{t}
    ),
    shing_{t} AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(toks) >= 2 THEN
          list_transform(generate_series(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1])
        ELSE [array_to_string(toks, ' ')] END)) AS sh
      FROM tok_{t}
    ),
    hashed_{t} AS MATERIALIZED (
      SELECT doc_id,
             CAST(CAST('0x' || substring(md5(sh), 1, 8) AS UBIGINT) AS BIGINT) AS h
      FROM shing_{t}
    ),
    sigs_{t} AS MATERIALIZED (
      SELECT doc_id, {mh_cols}
      FROM hashed_{t} GROUP BY doc_id
    ),
    banded_{t} AS MATERIALIZED (
{band_rows}
    ),
    cband_{t} AS MATERIALIZED (
      {cap_sql}
    ),
    cand_{t} AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM cband_{t} a JOIN cband_{t} b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    sizes_{t} AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM shing_{t}
                  GROUP BY doc_id),
    inter_{t} AS MATERIALIZED (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand_{t} c JOIN shing_{t} a ON a.doc_id = c.id_a
                      JOIN shing_{t} b ON b.doc_id = c.id_b AND b.sh = a.sh
      GROUP BY c.id_a, c.id_b
    ),
    pairs_{t} AS MATERIALIZED (
      SELECT id_a, id_b
      FROM inter_{t} JOIN sizes_{t} sa ON sa.doc_id = id_a
                     JOIN sizes_{t} sb ON sb.doc_id = id_b
      WHERE {jacc} >= {threshold}
    ),
    sym_{t} AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM pairs_{t}
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs_{t}
    ),
    reach_{t}(node, r) AS (
      SELECT s, s FROM sym_{t}
      UNION
      SELECT e.s, t.r FROM sym_{t} e JOIN reach_{t} t ON t.node = e.d
    ),
    comp_{t} AS MATERIALIZED (SELECT node, MIN(r) AS component FROM reach_{t}
                 GROUP BY node),
    kept_{t} AS MATERIALIZED (
      SELECT v.doc_id, v.text FROM surv_{t} v
      LEFT JOIN comp_{t} c ON c.node = v.doc_id
      WHERE c.node IS NULL OR c.component = v.doc_id
    )"""


def _increment_oracle() -> str:
    return f"""
    WITH RECURSIVE corpus_part AS MATERIALIZED (SELECT doc_id, text FROM documents
                                   WHERE doc_id % 5 <> 0),
    batch_part AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    {_dedup_kept_cte_block('corpus_part', 'c')},
    unioned AS MATERIALIZED (SELECT * FROM kept_c UNION ALL SELECT * FROM batch_part),
    {_dedup_kept_cte_block('unioned', 'f')}
    SELECT doc_id FROM kept_f
    """


@query("dedup_increment_documents", _increment_oracle())
def dedup_increment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus admission, ORACLED AGAINST THE FULL RE-RUN: the
    documents table is split 4:1 into corpus and batch by id; the corpus
    part is deduplicated, the batch is admitted through
    `operators/incremental.dedup_increment` (state derived here; the
    production path passes persisted state), and the result is
    (kept − revoked) ∪ admitted. The oracle computes
    dedup(dedup(corpus) ∪ batch) entirely in SQL — nested full-dedup
    replays with a recursive-CTE components step each — so the driver's
    hash check verifies the module's full-rerun equivalence contract
    itself, on real documents. max_bucket=None on both sides makes the
    equivalence unconditional (bucket capping is population-dependent;
    see the module docstring)."""
    from .operators import dedup as D
    from .operators import incremental as I

    docs = load_table(spark, sf_dir, "documents", spread=True) \
        .select("doc_id", "text")
    corpus_part = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    # kept0 (the whole bootstrap dedup) feeds the derived dedup state
    # (fingerprints + bands), candidate verification, AND the final
    # anti-join/union — persist so the bootstrap runs once (r12 §2)
    from pyspark import StorageLevel

    kept0 = D.dedup_corpus(corpus_part, max_bucket=None) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    res = I.dedup_increment(kept0, batch, max_bucket=None)
    return kept0.join(res.revoked, "doc_id", "left_anti") \
        .unionByName(res.kept).select("doc_id")


def _streaming_dedup_delta_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) the DELTA-LEDGER streamed dedup
    admission and COMPACT it: the %5!=0 slice bootstraps a dedup'd init
    corpus (ledger bases for corpus/fp/bands), the %5==0 slice arrives
    as two micro-batches (%10==0 then %10==5, mtime-pinned) through
    `streaming_dedup_admission` — each batch an O(batch) delta append
    (admitted upserts + revoked tombstones) — then all three ledgers
    compact to single bases."""
    from .operators import dedup as D
    from .streaming.compaction import compact
    from .streaming.dedup_admission import streaming_dedup_admission

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        corpus0 = D.dedup_corpus(docs.filter(F.col("doc_id") % 5 != 0),
                                 max_bucket=None)
        stream = _feed_stream(spark, stage, [
            docs.filter(F.col("doc_id") % 10 == r) for r in (0, 5)])
        corpus = os.path.join(stage, "corpus")
        streaming_dedup_admission(
            stream, corpus0, corpus, os.path.join(stage, "ckpt"),
            max_bucket=None)
        for sub, keys in (("corpus", ["doc_id"]), ("fp", ["doc_id"]),
                          ("bands", ["doc_id", "band_idx"])):
            compact(spark, os.path.join(corpus, sub), keys)

    return os.path.join(
        _snapshot_dir(sf_dir, "documents", "wde_dedup_delta", build),
        "corpus")


@query("dedup_admission_compaction_documents", _increment_oracle())
def dedup_admission_compaction_documents(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    """DELTA-LEDGER streamed dedup admission, read AFTER COMPACTION
    (`streaming/dedup_admission.streaming_dedup_admission` +
    `streaming/compaction.py`): the admission family's corpus AND its
    fingerprint/band state maintained as merge-on-read ledgers — each
    micro-batch appends admitted upserts + revoked tombstones (O(batch)
    write; tombstoned band keys are enumerable as revoked x band_idx)
    instead of rewriting corpus-sized snapshots per batch. The gated
    admissions (`lm_`/`dsir_`/`nb_gated_admission_documents`) read the
    same ledgers uncompacted. The oracle is
    the increment family's unconditional full-rerun equivalence —
    dedup(dedup(init) ∪ batches) replayed in SQL — so a hash match
    proves compacted merged read ≡ sequential streamed admission ≡ flat
    batch dedup, all three."""
    from .streaming.dedup_admission import read_corpus

    corpus_dir = _streaming_dedup_delta_dir(spark, sf_dir)
    return read_corpus(spark, corpus_dir).select("doc_id")


def _recall_audit_oracle() -> str:
    from .queries import _lsh_verified_oracle

    return f"""
    WITH aid AS MATERIALIZED (
      SELECT doc_id FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 150
    ),
    stok AS (
      SELECT d.doc_id, string_split_regex(trim(lower(d.text)), '\\s+') AS toks
      FROM documents d JOIN aid USING (doc_id)
    ),
    ssh AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(toks) >= 2 THEN
          list_transform(generate_series(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1])
        ELSE [array_to_string(toks, ' ')] END)) AS sh
      FROM stok
    ),
    ssz AS (SELECT doc_id, COUNT(*) AS n_sh FROM ssh GROUP BY doc_id),
    sint AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS MATERIALIZED (
      SELECT id_a, id_b
      FROM sint JOIN ssz sa ON sa.doc_id = id_a
                JOIN ssz sb ON sb.doc_id = id_b
      WHERE ROUND(CAST(n_inter AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.2
    ),
    pipe AS MATERIALIZED ({_lsh_verified_oracle()}),
    found AS MATERIALIZED (
      SELECT t.id_a, t.id_b FROM truth t
      JOIN (SELECT DISTINCT id_a, id_b FROM pipe) p USING (id_a, id_b)
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM aid) AS sample_docs,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS true_pairs,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM found) AS found_pairs,
      CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
        ROUND(CAST((SELECT COUNT(*) FROM found) AS DOUBLE)
              / (SELECT COUNT(*) FROM truth), 6)
      END AS recall
    """


@query("dedup_recall_audit_documents", _recall_audit_oracle())
def dedup_recall_audit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the production LSH near-dup pipeline
    (`operators/dedup.dedup_recall_audit`): ground truth = exact all-pairs
    Jaccard within an md5-deterministic 150-doc sample (the only all-pairs
    product, bounded at sample² by design), scored against the full
    pipeline's verified pairs restricted to the sample. The oracle
    recomputes BOTH sides in SQL — the sampled truth and the whole LSH
    pipeline — so the driver hashes the measured recall itself: silent
    recall collapse (mis-tuned banding, over-aggressive capping) fails
    this row even though every individual dedup query still 'passes'."""
    from .operators import dedup as D

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return D.dedup_recall_audit(
        docs, D.neardup_lsh_verified(docs), sample=150)


@query(
    "ivfpq_ann_recall_gate",
    """
    SELECT CAST(8 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
           TRUE AS recall_ok
    """,
)
def ivfpq_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 property gate for the composed IVF+PQ path
    (`operators/similarity.ivfpq_ann`, the IVFADC shape): TRUE iff
    probing 6 of 16 cells AND scoring from 16-byte PQ codes still
    recovers >= 45% of the brute-force top-5 (measured 0.675-0.725
    across the synthetic scales; chance rate ~1%). Both levers cost
    recall — IVF prunes candidates, PQ quantizes scores — so the
    composed gate sits below the PQ-only gate (0.875-0.90) by design;
    what it buys is ~2.6× less data ADC-scanned per query at 16× less
    bytes per vector. See `lsh_ann_recall_gate` for why a threshold gate
    is the honest oracle for ANN over near-uniform random vectors."""
    from .operators import similarity as SIM2

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    q = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    return SIM2.topk_recall_gate(
        SIM2.ivfpq_ann(emb, q, k=5, n_cells=16, nprobe=6, m=16,
                       k_codes=16, refine=8),
        SIM2.cosine_topk(emb, q, k=5, dim=64),
        n_queries=8, k=5, min_recall=0.45,
    )


# ---------------------------------------------------------------------------
# round-6 registrations: the r5 tests-first operators (corpus drift, bigram-
# LM quality, semantic dedup) plus the embedding-side recall audit — each
# with a full DuckDB oracle so the driver hash-checks values end-to-end.
# ---------------------------------------------------------------------------

def _term_dist_sql(pred: str) -> str:
    """(term, p) distribution over whitespace tokens of lowercased text
    for the documents slice matching `pred` — SQL twin of
    `operators/drift.term_distribution`."""
    return f"""
      SELECT term, CAST(cnt AS DOUBLE) / SUM(cnt) OVER () AS p
      FROM (
        SELECT t AS term, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
              FROM documents WHERE {pred})
        WHERE t <> '' GROUP BY t
      )
    """


@query(
    "corpus_drift_documents",
    f"""
    WITH pa_t AS ({_term_dist_sql("doc_id % 2 = 0")}),
    pb_t AS ({_term_dist_sql("doc_id % 2 = 1")}),
    j AS (
      SELECT COALESCE(a.p, 0.0) AS pa, COALESCE(b.p, 0.0) AS pb
      FROM pa_t a FULL OUTER JOIN pb_t b USING (term)
    ),
    t AS (SELECT pa, pb, (pa + pb) / 2 AS m FROM j)
    SELECT
      ROUND(SUM(CASE WHEN pa > 0 THEN pa * ln(pa / m) ELSE 0.0 END
                + CASE WHEN pb > 0 THEN pb * ln(pb / m) ELSE 0.0 END) / 2,
            6) AS jsd,
      ROUND(SUM(ABS(pa - pb)), 6) AS l1,
      CAST(SUM(CASE WHEN pa > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_a,
      CAST(SUM(CASE WHEN pb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_b,
      CAST(SUM(CASE WHEN pa > 0 AND pb > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_terms_common
    FROM t
    """,
)
def corpus_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift (`operators/drift.corpus_divergence`): Jensen-Shannon
    + L1 divergence between the term distributions of two deterministic
    corpus slices (doc_id parity stands in for two ledger snapshots — the
    dedup admission's drift maintainer runs the same composition over
    the merged corpus `as_of=b` and `as_of=b+1`, pinned in tests). Two counting scans, one vocabulary-sized
    full-outer join, one scalar aggregate; the oracle recomputes JSD
    term-by-term in SQL so the divergence VALUE is hash-checked."""
    from .operators import drift as DR

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return DR.corpus_divergence(
        DR.term_distribution(docs.filter(F.col("doc_id") % 2 == 0)),
        DR.term_distribution(docs.filter(F.col("doc_id") % 2 == 1)),
    )


def _lm_bigrams_sql(src: str) -> str:
    """(doc_id, w1, w2) bigram rows over `src`'s (doc_id, text) — SQL twin
    of `operators/lm_score._bigram_table`."""
    return f"""
      SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM {src}),
           unnest(range(1, len(t))) AS u(i)
      WHERE t[CAST(i AS INT)] <> '' AND t[CAST(i AS INT) + 1] <> ''
    """


def _lm_counts_cte(train_src: str, t: str) -> str:
    """Bigram/context count CTEs + the model's word set for ONE training
    corpus — the vocabulary-independent half of an add-k bigram LM.

    words_{t} dedups with an explicit DISTINCT over UNION ALL, not bare
    UNION: several callers embed this chain under WITH RECURSIVE (the
    dedup fixpoint oracles), and DuckDB gives a top-level `cte AS (A
    UNION B)` recursive-CTE semantics there — the set-dedup silently
    degrades to ALL and the vocabulary count inflates ~60× (observed:
    1816 vs 31), shifting every smoothed probability."""
    return f"""
    tbg_{t} AS MATERIALIZED ({_lm_bigrams_sql(train_src)}),
    c12_{t} AS (SELECT w1, w2, COUNT(*) AS c12 FROM tbg_{t} GROUP BY w1, w2),
    c1_{t} AS (SELECT w1, SUM(c12) AS c1 FROM c12_{t} GROUP BY w1),
    words_{t} AS (SELECT DISTINCT w FROM (
      SELECT w2 AS w FROM c12_{t} UNION ALL SELECT w1 FROM c12_{t}))"""


def _lm_model_cte(t: str, voc: str | None = None) -> str:
    """`seen_{t}` / `flr_{t}` from the counts, smoothed over the `voc`
    CTE (defaults to the model's own `voc_{t}`) — pass a shared vocab
    CTE to smooth two models over the same event space (the DSIR
    requirement, `dsir.shared_vocab`)."""
    voc = voc or f"voc_{t}"
    return f"""
    seen_{t} AS (
      SELECT w1, w2, ln((c12 + 0.5) / (c1 + 0.5 * (v + 1))) AS lp_seen
      FROM c12_{t} JOIN c1_{t} USING (w1) CROSS JOIN {voc}
    ),
    flr_{t} AS (
      SELECT w1, ln(0.5 / (c1 + 0.5 * (v + 1))) AS lp_floor
      FROM c1_{t} CROSS JOIN {voc}
    )"""


def _lm_tables_cte(train_src: str, t: str) -> str:
    """CTE chain for ONE trained add-k bigram LM over `train_src`:
    `seen_{t}` = (w1, w2, lp_seen), `flr_{t}` = (w1, lp_floor),
    `voc_{t}` = (v) — SQL twin of `lm_score.train_bigram_lm`. Shared by
    the quality scorer and the DSIR importance-ratio oracles."""
    return f"""
    {_lm_counts_cte(train_src, t)},
    voc_{t} AS (SELECT COUNT(*) AS v FROM words_{t}),
    {_lm_model_cte(t)}"""


def _lm_score_cte_block(train_src: str, score_src: str, t: str) -> str:
    """CTE chain `agg_{t}` = (doc_id, nb, al): add-k bigram LM trained on
    `train_src`, every `score_src` doc scored by mean bigram log-prob with
    the two-step back-off — SQL twin of train_bigram_lm + lm_quality."""
    return f"""
    {_lm_tables_cte(train_src, t)},
    sbg_{t} AS MATERIALIZED ({_lm_bigrams_sql(score_src)}),
    scored_{t} AS (
      SELECT b.doc_id,
             COALESCE(s.lp_seen, f.lp_floor,
                      -ln((SELECT v FROM voc_{t}) + 1)) AS lp
      FROM sbg_{t} b LEFT JOIN seen_{t} s ON s.w1 = b.w1 AND s.w2 = b.w2
                     LEFT JOIN flr_{t} f ON f.w1 = b.w1
    ),
    agg_{t} AS (SELECT doc_id, COUNT(*) AS nb, AVG(lp) AS al
                FROM scored_{t} GROUP BY doc_id)"""


@query(
    "lm_quality_documents",
    f"""
    WITH
    {_lm_score_cte_block("(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)",
                         "documents", "q")}
    SELECT d.doc_id, COALESCE(agg_q.nb, 0) AS n_bigrams,
           ROUND(agg_q.al, 6) AS avg_logp
    FROM documents d LEFT JOIN agg_q ON agg_q.doc_id = d.doc_id
    """,
)
def lm_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality scoring (`operators/lm_score`): the
    LM trains on the doc_id-even half (the "trusted reference slice"),
    every document is scored by its mean bigram log-probability with
    add-0.5 smoothing and a two-step back-off (observed bigram →
    per-context floor → uniform unseen-context floor). The LM is a
    DataFrame — 2 shuffles to train, 1 join to score — and the oracle
    recomputes training AND scoring in SQL, so every per-document score
    is hash-checked (not just the banding)."""
    from .operators import lm_score as LM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    lm = LM.train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return LM.lm_quality(docs, lm)


@query(
    "dsir_sample_documents",
    f"""
    WITH
    {_lm_counts_cte("(SELECT doc_id, text FROM documents WHERE source = 'src0')", "dt")},
    {_lm_counts_cte("documents", "dr")},
    voc_u AS (SELECT COUNT(DISTINCT w) AS v FROM
              (SELECT w FROM words_dt UNION ALL SELECT w FROM words_dr)),
    {_lm_model_cte("dt", voc="voc_u")},
    {_lm_model_cte("dr", voc="voc_u")},
    sbg AS MATERIALIZED ({_lm_bigrams_sql("documents")}),
    scored AS (
      SELECT b.doc_id,
             COALESCE(st.lp_seen, ft.lp_floor,
                      -ln((SELECT v FROM voc_u) + 1))
             - COALESCE(sr.lp_seen, fr.lp_floor,
                        -ln((SELECT v FROM voc_u) + 1)) AS d
      FROM sbg b
      LEFT JOIN seen_dt st ON st.w1 = b.w1 AND st.w2 = b.w2
      LEFT JOIN flr_dt ft ON ft.w1 = b.w1
      LEFT JOIN seen_dr sr ON sr.w1 = b.w1 AND sr.w2 = b.w2
      LEFT JOIN flr_dr fr ON fr.w1 = b.w1
    ),
    lr AS (SELECT doc_id, COUNT(*) AS nb, ROUND(SUM(d), 6) AS log_ratio
           FROM scored GROUP BY doc_id),
    gmb AS (
      SELECT doc_id, -ln(-ln((h + 0.5) / 4294967296)) AS g
      FROM (
        SELECT doc_id,
               SUM((strpos('0123456789abcdef',
                           substr(md5('dsir|' || doc_id),
                                  CAST(j AS INT), 1)) - 1)
                   * power(16, 8 - j)) AS h
        FROM documents, unnest(range(1, 9)) AS t(j)
        GROUP BY doc_id
      )
    ),
    keyed AS (
      SELECT lr.doc_id, CAST(lr.nb AS BIGINT) AS n_bigrams, lr.log_ratio,
             ROUND(lr.log_ratio + gmb.g, 6) AS sel_key
      FROM lr JOIN gmb ON gmb.doc_id = lr.doc_id
    )
    SELECT doc_id, n_bigrams, log_ratio, sel_key FROM (
      SELECT keyed.*,
             ROW_NUMBER() OVER (ORDER BY sel_key DESC, doc_id) AS rnk
      FROM keyed
    ) WHERE rnk <= 100
    """,
)
def dsir_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (`operators/dsir`, Xie et al. 2023):
    the target bigram LM trains on the src0 slice (the "quality
    reference"), the raw LM on the whole corpus; every document scores
    ln p_target − ln p_raw summed per-bigram (one explode, four broadcast
    LM joins, one aggregation), and Gumbel top-k (noise derived from a
    salted md5 of the doc id, so the draw is deterministic and
    engine-replayable) keeps the 100 docs the importance weights favor.
    The oracle replays BOTH LM trainings, the ratio, the hash-Gumbel
    draw, and the top-k — the selected set itself is hash-checked. Both
    models are smoothed over the SHARED union vocabulary
    (`dsir.shared_vocab`) so the ratio measures distribution preference,
    not model-size bias."""
    from .operators import dsir as DS
    from .operators import lm_score as LM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    target = docs.filter(F.col("source") == "src0")
    vocab = DS.shared_vocab(target, docs)
    target_lm = LM.train_bigram_lm(target, vocab=vocab)
    raw_lm = LM.train_bigram_lm(docs, vocab=vocab)
    return DS.dsir_sample(
        DS.dsir_logratio(docs, target_lm, raw_lm, vocab=vocab), k=100)


@query(
    "doremi_mixture_documents",
    f"""
    WITH
    {_lm_counts_cte("(SELECT doc_id, text FROM documents WHERE source = 'src0')", "mt")},
    {_lm_counts_cte("documents", "mr")},
    voc_u AS (SELECT COUNT(DISTINCT w) AS v FROM
              (SELECT w FROM words_mt UNION ALL SELECT w FROM words_mr)),
    {_lm_model_cte("mt", voc="voc_u")},
    {_lm_model_cte("mr", voc="voc_u")},
    sbg_m AS MATERIALIZED ({_lm_bigrams_sql("documents")}),
    scored_m AS (
      SELECT b.doc_id,
             COALESCE(st.lp_seen, ft.lp_floor,
                      -ln((SELECT v FROM voc_u) + 1))
             - COALESCE(sr.lp_seen, fr.lp_floor,
                        -ln((SELECT v FROM voc_u) + 1)) AS d
      FROM sbg_m b
      LEFT JOIN seen_mt st ON st.w1 = b.w1 AND st.w2 = b.w2
      LEFT JOIN flr_mt ft ON ft.w1 = b.w1
      LEFT JOIN seen_mr sr ON sr.w1 = b.w1 AND sr.w2 = b.w2
      LEFT JOIN flr_mr fr ON fr.w1 = b.w1
    ),
    lr_m AS (SELECT doc_id, COUNT(*) AS nb, ROUND(SUM(d), 6) AS log_ratio
             FROM scored_m GROUP BY doc_id),
    per AS (
      SELECT d.source, COUNT(*) AS n_docs,
             CAST(SUM(nb) AS BIGINT) AS nb_dom,
             ROUND(AVG(GREATEST(log_ratio / nb, 0)), 6) AS avg_excess
      FROM lr_m JOIN documents d ON d.doc_id = lr_m.doc_id
      GROUP BY d.source
    ),
    tot AS (SELECT CAST(SUM(nb_dom) AS BIGINT) AS nb_tot FROM per),
    uw AS (
      SELECT source, n_docs, avg_excess,
             CAST(nb_dom AS DOUBLE) / nb_tot AS share,
             (CAST(nb_dom AS DOUBLE) / nb_tot) * exp(avg_excess) AS u
      FROM per, tot
    ),
    z AS (SELECT SUM(u) AS z FROM uw)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, avg_excess,
           ROUND(share, 6) AS baseline_share,
           ROUND(u / z.z, 6) AS weight
    FROM uw, z
    """,
)
def doremi_mixture_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style MIXTURE REWEIGHTING (`dsir.doremi_weights`, Xie et
    al. NeurIPS 2023): each source's mean clipped per-bigram DSIR
    importance ratio stands in for the paper's per-domain excess loss,
    and one exponentiated-gradient step turns baseline token shares into
    the reweighted sampling mixture w_dom ∝ share · exp(η·excess) — the
    table a mixture designer feeds straight into
    `mixture_sample_documents` / `token_budget_mixture_documents`.
    Reuses the frozen DSIR LM pair (target = src0, reference = whole
    corpus, shared vocabulary); everything after the per-domain
    aggregation is single-digit-row model state. The oracle replays both
    LM trainings, the per-doc ratio, the per-domain excess, and the EG
    normalization, so the WEIGHTS THEMSELVES are hash-checked."""
    from .operators import dsir as DS
    from .operators import lm_score as LM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    target = docs.filter(F.col("source") == "src0")
    vocab = DS.shared_vocab(target, docs)
    target_lm = LM.train_bigram_lm(target, vocab=vocab)
    raw_lm = LM.train_bigram_lm(docs, vocab=vocab)
    ratios = DS.dsir_logratio(docs, target_lm, raw_lm, vocab=vocab)
    return DS.doremi_weights(ratios, docs)


@query(
    "doremi_schedule_documents",
    f"""
    WITH
    {_lm_counts_cte("(SELECT doc_id, text FROM documents WHERE source = 'src0')", "mt")},
    {_lm_counts_cte("documents", "mr")},
    voc_u AS (SELECT COUNT(DISTINCT w) AS v FROM
              (SELECT w FROM words_mt UNION ALL SELECT w FROM words_mr)),
    {_lm_model_cte("mt", voc="voc_u")},
    {_lm_model_cte("mr", voc="voc_u")},
    sbg_m AS MATERIALIZED ({_lm_bigrams_sql("documents")}),
    scored_m AS (
      SELECT b.doc_id,
             COALESCE(st.lp_seen, ft.lp_floor,
                      -ln((SELECT v FROM voc_u) + 1))
             - COALESCE(sr.lp_seen, fr.lp_floor,
                        -ln((SELECT v FROM voc_u) + 1)) AS d
      FROM sbg_m b
      LEFT JOIN seen_mt st ON st.w1 = b.w1 AND st.w2 = b.w2
      LEFT JOIN flr_mt ft ON ft.w1 = b.w1
      LEFT JOIN seen_mr sr ON sr.w1 = b.w1 AND sr.w2 = b.w2
      LEFT JOIN flr_mr fr ON fr.w1 = b.w1
    ),
    lr_m AS (SELECT doc_id, COUNT(*) AS nb, ROUND(SUM(d), 6) AS log_ratio
             FROM scored_m GROUP BY doc_id),
    per AS (
      SELECT d.source, COUNT(*) AS n_docs,
             CAST(SUM(nb) AS BIGINT) AS nb_dom,
             ROUND(AVG(GREATEST(log_ratio / nb, 0)), 6) AS avg_excess
      FROM lr_m JOIN documents d ON d.doc_id = lr_m.doc_id
      GROUP BY d.source
    ),
    tot AS (SELECT CAST(SUM(nb_dom) AS BIGINT) AS nb_tot FROM per),
    base AS (SELECT source, n_docs, avg_excess,
                    ROUND(CAST(nb_dom AS DOUBLE) / nb_tot, 6) AS w0
             FROM per, tot),
    u1 AS (SELECT *, w0 * exp(avg_excess) AS u FROM base),
    s1 AS (SELECT source, n_docs, avg_excess, w0,
                  ROUND(u / (SELECT SUM(u) FROM u1), 6) AS w1 FROM u1),
    u2 AS (SELECT *, w1 * exp(avg_excess) AS u FROM s1),
    s2 AS (SELECT source, n_docs, avg_excess, w0, w1,
                  ROUND(u / (SELECT SUM(u) FROM u2), 6) AS w2 FROM u2),
    u3 AS (SELECT *, w2 * exp(avg_excess) AS u FROM s2),
    s3 AS (SELECT source, n_docs, avg_excess, w0, w1, w2,
                  ROUND(u / (SELECT SUM(u) FROM u3), 6) AS w3 FROM u3)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, avg_excess,
           w0 AS baseline_share, w1, w2, w3,
           ROUND((w1 + w2 + w3) / 3.0, 6) AS weight
    FROM s3
    """,
)
def doremi_schedule_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi's FULL 3-step exponentiated-gradient SCHEDULE
    (`dsir.doremi_schedule`, Xie et al. NeurIPS 2023 Algorithm 1): the
    single-step `doremi_mixture_documents` is iterate λ₁ of this
    trajectory; the paper's actual output is the AVERAGE of the iterates,
    non-collapsible because every step renormalizes. λ₀ = baseline token
    share; λ_t ∝ λ_{t-1}·exp(η·excess); each iterate rounded to 6 dp
    before the next step — the rounding pin that keeps both engines'
    float trajectories identical (the k-means/PCA pinned-iteration
    discipline). Emits the whole trajectory (w1..w3) plus the averaged
    mixture weight, all hash-checked; the oracle unrolls the three
    normalizations as chained CTEs over the same frozen DSIR LM pair."""
    from .operators import dsir as DS
    from .operators import lm_score as LM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    target = docs.filter(F.col("source") == "src0")
    vocab = DS.shared_vocab(target, docs)
    target_lm = LM.train_bigram_lm(target, vocab=vocab)
    raw_lm = LM.train_bigram_lm(docs, vocab=vocab)
    ratios = DS.dsir_logratio(docs, target_lm, raw_lm, vocab=vocab)
    return DS.doremi_schedule(ratios, docs)


@query(
    "nb_classify_documents",
    """
    WITH tr AS (SELECT lang AS label, text FROM documents
                WHERE doc_id % 2 = 0),
    ttok AS (
      SELECT label, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM tr
    ),
    c_lt AS (SELECT label, token, COUNT(*) AS c_lt FROM ttok
             WHERE token <> '' GROUP BY label, token),
    c_l AS (SELECT label, SUM(c_lt) AS c_l FROM c_lt GROUP BY label),
    voc AS (SELECT COUNT(DISTINCT token) AS v FROM c_lt),
    model AS (
      SELECT label, token, ln((c_lt + 0.5) / (c_l + 0.5 * (v + 1))) AS logp
      FROM c_lt JOIN c_l USING (label) CROSS JOIN voc
    ),
    n_docs AS (SELECT label, COUNT(*) AS n_l FROM tr GROUP BY label),
    priors AS (
      SELECT label, ln(CAST(n_l AS DOUBLE) / (SELECT SUM(n_l) FROM n_docs))
               AS logprior,
             ln(0.5 / (c_l + 0.5 * (v + 1))) AS lp_floor
      FROM n_docs JOIN c_l USING (label) CROSS JOIN voc
    ),
    stok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents
    ),
    stok2 AS (SELECT doc_id, token FROM stok WHERE token <> ''),
    seen_agg AS (
      SELECT s.doc_id, m.label, SUM(m.logp) AS s_seen,
             COUNT(*) AS n_seen
      FROM stok2 s JOIN model m USING (token)
      GROUP BY s.doc_id, m.label
    ),
    n_tok AS (SELECT doc_id, COUNT(*) AS n_tok FROM stok2 GROUP BY doc_id),
    grid AS (
      SELECT d.doc_id, COALESCE(n_tok.n_tok, 0) AS n_tok, p.label,
             p.logprior, p.lp_floor
      FROM documents d LEFT JOIN n_tok ON n_tok.doc_id = d.doc_id
      CROSS JOIN priors p
    ),
    scored AS (
      SELECT g.doc_id, g.label,
             ROUND(g.logprior + COALESCE(sa.s_seen, 0)
                   + (g.n_tok - COALESCE(sa.n_seen, 0)) * g.lp_floor,
                   6) AS score
      FROM grid g LEFT JOIN seen_agg sa
        ON sa.doc_id = g.doc_id AND sa.label = g.label
    ),
    ranked AS (
      SELECT doc_id, label, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, label) AS rnk,
             LEAD(score) OVER (PARTITION BY doc_id
                               ORDER BY score DESC, label) AS nxt
      FROM scored
    )
    SELECT doc_id, label AS pred_label, score,
           ROUND(score - COALESCE(nxt, score), 6) AS margin
    FROM ranked WHERE rnk = 1
    """,
)
def nb_classify_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes corpus classifier (`operators/classifier.py` — the
    fastText-role quality/domain classifier of the GPT-3/CCNet pipelines,
    as closed-form aggregations): trains on the doc_id-even half with
    `lang` labels, classifies EVERY document; inference joins each token
    only to classes that observed it, the unseen remainder folds into
    (n_tokens − n_seen)·floor algebraically. The oracle replays training,
    scoring, and the argmax, so every prediction + score + runner-up
    margin is hash-checked."""
    from .operators import classifier as C

    docs = load_table(spark, sf_dir, "documents", spread=True)
    model, priors = C.train_naive_bayes(
        docs.filter(F.col("doc_id") % 2 == 0))
    return C.nb_classify(docs, model, priors)


def _nb_pred_cte_block(train_src: str, score_src: str, t: str) -> str:
    """CTE chain `pred_{t}` = (doc_id, pred_label, score, margin): add-k
    multinomial NB trained on `train_src` (label, text), every `score_src`
    doc argmax-classified — SQL twin of classifier.train_naive_bayes +
    nb_classify (same CTE shapes as the nb_classify_documents oracle,
    suffixed so the block composes into larger queries)."""
    return f"""
    tr_{t} AS (SELECT label, text FROM {train_src}),
    ttok_{t} AS (
      SELECT label, unnest(string_split_regex(trim(lower(text)), '\\s+'))
               AS token
      FROM tr_{t}
    ),
    clt_{t} AS (SELECT label, token, COUNT(*) AS c_lt FROM ttok_{t}
                WHERE token <> '' GROUP BY label, token),
    cl_{t} AS (SELECT label, SUM(c_lt) AS c_l FROM clt_{t} GROUP BY label),
    nvoc_{t} AS (SELECT COUNT(DISTINCT token) AS v FROM clt_{t}),
    nbmodel_{t} AS (
      SELECT label, token, ln((c_lt + 0.5) / (c_l + 0.5 * (v + 1))) AS logp
      FROM clt_{t} JOIN cl_{t} USING (label) CROSS JOIN nvoc_{t}
    ),
    nbnd_{t} AS (SELECT label, COUNT(*) AS n_l FROM tr_{t} GROUP BY label),
    nbpri_{t} AS (
      SELECT label,
             ln(CAST(n_l AS DOUBLE) / (SELECT SUM(n_l) FROM nbnd_{t}))
               AS logprior,
             ln(0.5 / (c_l + 0.5 * (v + 1))) AS lp_floor
      FROM nbnd_{t} JOIN cl_{t} USING (label) CROSS JOIN nvoc_{t}
    ),
    stok_{t} AS (
      SELECT doc_id, token FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM {score_src})
      WHERE token <> ''
    ),
    nbseen_{t} AS (
      SELECT s.doc_id, m.label, SUM(m.logp) AS s_seen, COUNT(*) AS n_seen
      FROM stok_{t} s JOIN nbmodel_{t} m USING (token)
      GROUP BY s.doc_id, m.label
    ),
    nbnt_{t} AS (SELECT doc_id, COUNT(*) AS n_tok FROM stok_{t}
                 GROUP BY doc_id),
    nbgrid_{t} AS (
      SELECT d.doc_id, COALESCE(nt.n_tok, 0) AS n_tok, p.label,
             p.logprior, p.lp_floor
      FROM {score_src} d LEFT JOIN nbnt_{t} nt ON nt.doc_id = d.doc_id
      CROSS JOIN nbpri_{t} p
    ),
    nbsc_{t} AS (
      SELECT g.doc_id, g.label,
             ROUND(g.logprior + COALESCE(sa.s_seen, 0)
                   + (g.n_tok - COALESCE(sa.n_seen, 0)) * g.lp_floor,
                   6) AS score
      FROM nbgrid_{t} g LEFT JOIN nbseen_{t} sa
        ON sa.doc_id = g.doc_id AND sa.label = g.label
    ),
    nbrk_{t} AS (
      SELECT doc_id, label, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, label) AS rnk,
             LEAD(score) OVER (PARTITION BY doc_id
                               ORDER BY score DESC, label) AS nxt
      FROM nbsc_{t}
    ),
    pred_{t} AS (
      SELECT doc_id, label AS pred_label, score,
             ROUND(score - COALESCE(nxt, score), 6) AS margin
      FROM nbrk_{t} WHERE rnk = 1
    )"""


@query(
    "source_overlap_documents",
    """
    WITH tok AS (
      SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT source AS grp,
             CASE WHEN len(t) >= 3
                  THEN array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 2],
                                       ' ')
                  ELSE array_to_string(t, ' ') END AS sh
      FROM tok, unnest(range(1, GREATEST(len(t) - 2, 1) + 1)) AS u(i)
    ),
    sizes AS (SELECT grp, COUNT(*) AS n_sh FROM sh GROUP BY grp),
    inter AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.grp < b.grp
      GROUP BY a.grp, b.grp
    )
    SELECT sa.grp AS grp_a, sb.grp AS grp_b,
           CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
           CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
           ROUND(COALESCE(i.n_inter, 0)
                 / (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0)), 6)
             AS jaccard,
           ROUND(COALESCE(i.n_inter, 0) / sa.n_sh, 6) AS contain_a_in_b,
           ROUND(COALESCE(i.n_inter, 0) / sb.n_sh, 6) AS contain_b_in_a
    FROM sizes sa JOIN sizes sb ON sa.grp < sb.grp
    LEFT JOIN inter i ON i.grp_a = sa.grp AND i.grp_b = sb.grp
    """,
)
def source_overlap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content overlap matrix (`dedup.corpus_overlap`):
    exact Jaccard + directional containments of every source pair's
    distinct 3-token-shingle sets — the pre-mixing analytics a corpus
    ingest runs (and the exact form `minhash` signatures estimate at
    sketch cost). One shingle explode, one distinct, one equi-join on
    the shingle key; output is L²/2 rows regardless of corpus size."""
    from .operators import dedup as D

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return D.corpus_overlap(docs)


_LEAK_K = 16


@query(
    "substr_leakage_documents",
    f"""
    WITH tok AS (
      SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT source AS grp,
             md5(array_to_string(
                 t[CAST(i AS INT):CAST(i AS INT) + {_LEAK_K - 1}], ' '))
               AS sh
      FROM tok, unnest(range(1, len(t) - {_LEAK_K} + 2)) AS u(i)
    ),
    sizes AS (SELECT grp, COUNT(*) AS n_sh FROM sh GROUP BY grp),
    inter AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.grp < b.grp
      GROUP BY a.grp, b.grp
    )
    SELECT sa.grp AS grp_a, sb.grp AS grp_b,
           CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
           CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
           ROUND(COALESCE(i.n_inter, 0)
                 / (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0)), 6)
             AS jaccard,
           ROUND(COALESCE(i.n_inter, 0) / sa.n_sh, 6) AS contain_a_in_b,
           ROUND(COALESCE(i.n_inter, 0) / sb.n_sh, 6) AS contain_b_in_a
    FROM sizes sa JOIN sizes sb ON sa.grp < sb.grp
    LEFT JOIN inter i ON i.grp_a = sa.grp AND i.grp_b = sb.grp
    """,
)
def substr_leakage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source EXACT-SUBSTRING leakage matrix
    (`dedup.substr_leakage_matrix`): `source_overlap_documents` read at
    ExactSubstr granularity — for every source pair, the Jaccard and
    directional containments of their distinct {_LEAK_K}-token
    window-hash sets (the same windows `duplicate_spans_documents`
    marks). Where the 3-shingle matrix reads topical overlap, this one
    reads VERBATIM leakage — the "is the benchmark inside the training
    mix?" number a decontamination policy is set from (Lee et al.'s
    ExactSubstr motivation). Same scale shape: one window explode, one
    distinct membership table, one equi-join fanning out by
    slices-per-hash (≤ L²), L²/2 output rows regardless of corpus
    size."""
    from .operators import dedup as D

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return D.substr_leakage_matrix(docs, k=_LEAK_K)


def _dup_win_sql(k: int, min_count: int) -> str:
    """Shared CTE chain: k-token window hashes over `documents`, the
    duplicated subset, and per-doc maximal islands — SQL twin of
    `dedup.duplicate_spans` (windows -> HAVING count -> gaps-and-islands)."""
    return f"""
    tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM documents),
    win AS (
      SELECT doc_id, CAST(i AS INT) AS p,
             md5(array_to_string(t[CAST(i AS INT):CAST(i AS INT) + {k - 1}],
                                 ' ')) AS wh
      FROM tok, unnest(range(1, len(t) - {k} + 2)) AS u(i)
    ),
    dup AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(*) >= {min_count}),
    dwin AS (SELECT w.doc_id, w.p FROM win w JOIN dup USING (wh)),
    isl AS (
      SELECT doc_id, p,
             SUM(CASE WHEN prev IS NULL OR p - prev > {k} THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM (SELECT doc_id, p,
                   LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
            FROM dwin)
    ),
    spans AS (
      SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
             CAST(MAX(p) + {k - 1} AS BIGINT) AS span_end,
             CAST(COUNT(*) AS BIGINT) AS n_windows
      FROM isl GROUP BY doc_id, island
    )"""


@query(
    "duplicate_spans_documents",
    f"""
    WITH
    {_dup_win_sql(16, 2)}
    SELECT doc_id, span_start, span_end, n_windows FROM spans
    """,
)
def duplicate_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (`dedup.duplicate_spans`, Lee et
    al. ACL 2022 ExactSubstr re-expressed without the suffix array):
    every 16-token window repeated anywhere in the corpus marks its
    tokens, overlapping marks merge into maximal per-document spans.
    One window-hash aggregation — a boilerplate window shared by millions
    of docs costs one counter, never a candidate-pair product. The oracle
    replays windows, the frequency gate, and the island merge."""
    from .operators import dedup as D

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return D.duplicate_spans(docs, k=16, min_count=2)


@query(
    "substr_increment_documents",
    f"""
    WITH
    {_dup_win_sql(16, 2)}
    SELECT doc_id, span_start, span_end, n_windows FROM spans
    WHERE doc_id % 2 = 1
    """,
)
def substr_increment_documents(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr gate (`dedup.substr_increment`): window
    state from the doc_id-even half, the odd half admitted as a batch —
    batch spans computed WITHOUT rescanning the prior corpus text. The
    oracle recomputes the FULL corpus-wide duplicate spans flat and
    restricts to the batch, so the driver hash-checks the exact
    equivalence contract (increment ≡ full re-run on batch docs)."""
    from .operators import dedup as D

    docs = load_table(spark, sf_dir, "documents", spread=True)
    state = D.substr_state(docs.filter(F.col("doc_id") % 2 == 0), k=16)
    spans, _ = D.substr_increment(
        state, docs.filter(F.col("doc_id") % 2 == 1), k=16)
    return spans


@query(
    "strip_duplicate_spans_documents",
    f"""
    WITH
    {_dup_win_sql(16, 2)},
    pos AS (SELECT doc_id, CAST(i AS INT) AS p, t[CAST(i AS INT)] AS w,
                   len(t) AS n
            FROM tok, unnest(range(1, len(t) + 1)) AS u(i)),
    kept AS (
      SELECT doc_id, p, w, n FROM pos
      WHERE NOT EXISTS (SELECT 1 FROM spans s
                        WHERE s.doc_id = pos.doc_id
                          AND pos.p BETWEEN s.span_start AND s.span_end)
    )
    SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           md5(string_agg(w, ' ' ORDER BY p)) AS clean_fp
    FROM kept GROUP BY doc_id
    """,
)
def strip_duplicate_spans_documents(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """ExactSubstr's removal step (`dedup.strip_duplicate_spans`): tokens
    covered by any duplicated span are cut and the text rebuilt —
    returned as (doc_id, n_tokens, n_kept, md5 of the cleaned text), so
    the oracle hash-checks the RECONSTRUCTED text of every document, not
    just the span bounds. Docs whose every token is covered drop out
    (empty rebuild = empty doc, the ExactSubstr degenerate case)."""
    from .operators import dedup as D

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        D.strip_duplicate_spans(docs, k=16)
        .filter(F.col("n_kept") > 0)
        .select("doc_id", "n_tokens", "n_kept",
                F.md5("text_clean").alias("clean_fp"))
    )


@query(
    "source_scorecard_documents",
    f"""
    WITH
    {_lm_score_cte_block("(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)", "documents", "sq")},
    {_dup_win_sql(16, 2)},
    {_nb_pred_cte_block("(SELECT lang AS label, text, doc_id FROM documents WHERE doc_id % 2 = 0)", "documents", "sn")},
    comps_sc AS MATERIALIZED (SELECT * FROM ({_components_oracle()})),
    csz_sc AS (SELECT component, COUNT(*) AS cs FROM comps_sc
               GROUP BY component),
    wts_sc AS (
      SELECT d.doc_id, ROUND(1.0 / COALESCE(s.cs, 1), 6) AS weight
      FROM documents d
      LEFT JOIN comps_sc c ON c.node = d.doc_id
      LEFT JOIN csz_sc s ON s.component = c.component
    ),
    dup_docs AS (SELECT DISTINCT doc_id FROM spans),
    base AS (
      SELECT d.doc_id, d.source,
             len(string_split_regex(trim(lower(d.text)), '\\s+')) AS n_tok,
             ROUND(agg_sq.al, 6) AS lm,
             CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
             pr.margin AS nb_margin,
             w.weight AS weight
      FROM documents d
      LEFT JOIN agg_sq ON agg_sq.doc_id = d.doc_id
      LEFT JOIN dup_docs dd ON dd.doc_id = d.doc_id
      LEFT JOIN pred_sn pr ON pr.doc_id = d.doc_id
      LEFT JOIN wts_sc w ON w.doc_id = d.doc_id
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_tok), 4) AS avg_tokens,
           ROUND(AVG(lm), 6) AS avg_lm_logp,
           CAST(SUM(is_dup) AS BIGINT) AS substr_dup_docs,
           ROUND(AVG(CAST(is_dup AS DOUBLE)), 6) AS substr_dup_rate,
           ROUND(AVG(nb_margin), 6) AS avg_nb_margin,
           ROUND(AVG(weight), 6) AS soft_dedup_mass
    FROM base GROUP BY source
    """,
)
def source_scorecard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality scorecard — the one-table summary a corpus
    curator reads before setting mixture weights, composing FIVE oracled
    operator families over the documents table: volume (docs, mean
    whitespace tokens), fluency (mean CCNet bigram-LM score, LM trained
    on the doc_id-even half — `operators/lm_score`), redundancy (share
    of docs carrying a corpus-wide duplicated 16-token span —
    `dedup.duplicate_spans`), classifier confidence (mean NB runner-up
    margin, the GPT-3-style quality-filter signal —
    `operators/classifier`), and soft-dedup mass (mean 1/cluster-size
    weight over the near-dup component graph — `dedup.dedup_weights`;
    1.0 = no redundancy, lower = mass the mixture should discount). All
    five joined per doc, then one grouped aggregation per source; the
    oracle replays LM training+scoring, the span pipeline, NB
    training+argmax, the LSH-verified pair graph with its component
    fixpoint, and the rollup."""
    from .functions.strings import tokens as _tokens
    from .operators import classifier as C
    from .operators import dedup as D
    from .operators import lm_score as LM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    lm = LM.train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    scores = LM.lm_quality(docs, lm).select("doc_id", "avg_logp")
    dup_docs = D.duplicate_spans(docs, k=16, min_count=2) \
        .select("doc_id").distinct().withColumn("_dup", F.lit(1))
    model, priors = C.train_naive_bayes(
        docs.filter(F.col("doc_id") % 2 == 0))
    nb = C.nb_classify(docs, model, priors).select("doc_id", "margin")
    edges = D.neardup_lsh_verified(docs).select("id_a", "id_b")
    wts = D.dedup_weights(docs, edges).select("doc_id", "weight")
    base = (
        docs.select("doc_id", "source",
                    F.size(_tokens(F.col("text"))).alias("n_tok"))
        .join(scores, "doc_id", "left")
        .join(dup_docs, "doc_id", "left")
        .join(nb, "doc_id", "left")
        .join(wts, "doc_id", "left")
        .select("source", "n_tok", "avg_logp",
                F.coalesce("_dup", F.lit(0)).alias("is_dup"),
                "margin", "weight")
    )
    return base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        F.round(F.avg("avg_logp"), 6).alias("avg_lm_logp"),
        F.sum("is_dup").cast("long").alias("substr_dup_docs"),
        F.round(F.avg(F.col("is_dup").cast("double")), 6)
        .alias("substr_dup_rate"),
        F.round(F.avg("margin"), 6).alias("avg_nb_margin"),
        F.round(F.avg("weight"), 6).alias("soft_dedup_mass"),
    )


def _emb_lsh_pairs_oracle(tables: int, bits: int, threshold: float,
                          max_bucket: int,
                          src: str = "embeddings") -> str:
    """SQL twin of `similarity.embedding_neardup` at PINNED parameters:
    md5-derived hyperplanes -> per-table signatures -> hot-bucket cap ->
    same-signature candidate pairs -> exact cosine verification. Shares
    the hyperplane-derivation SQL shape with the `lsh_ann_embeddings`
    oracle (queries.py). Emitted as a self-contained subquery (nested
    WITH), so callers can embed it inside their own CTE chains."""
    n_planes = tables * bits
    return f"""
      WITH planes AS (
        SELECT p, d,
          CAST(CASE WHEN u >= 2147483648 THEN u - 4294967296 ELSE u END
               AS DOUBLE) / 2147483648 AS w
        FROM (
          SELECT p, CAST(i + (j-1)//8 AS INT) AS d,
                 SUM(v * power(16, 7 - ((j-1) % 8))) AS u
          FROM (
            SELECT p, i, j,
                   strpos('0123456789abcdef',
                          substr(md5('wde|' || p || '|' || i),
                                 CAST(j AS INT), 1)) - 1 AS v
            FROM unnest(range(0, {n_planes})) AS tp(p),
                 unnest(range(0, 64, 4)) AS ti(i),
                 unnest(range(1, 33)) AS tj(j)
          ) GROUP BY 1, 2
        )
      ),
      vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM {src}),
      vd AS (SELECT vec_id, CAST(d AS INT) AS d, v[CAST(d AS INT)+1] AS x
             FROM vv, unnest(range(0, 64)) AS t(d)),
      dots AS (SELECT vd.vec_id, pl.p, SUM(pl.w * vd.x) AS dot
               FROM vd JOIN planes pl ON pl.d = vd.d GROUP BY 1, 2),
      sigs AS (
        SELECT vec_id, p // {bits} AS tbl,
               SUM((CASE WHEN dot >= 0 THEN 1 ELSE 0 END)
                   * power(2, {bits - 1} - (p % {bits}))) AS code
        FROM dots GROUP BY 1, 2
      ),
      capped AS (  -- hot-bucket guard: buckets over {max_bucket} drop whole
        SELECT s.vec_id, s.tbl, s.code FROM sigs s
        JOIN (SELECT tbl, code FROM sigs GROUP BY tbl, code
              HAVING COUNT(*) <= {max_bucket}) ok
          ON ok.tbl = s.tbl AND ok.code = s.code
      ),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM capped a JOIN capped b
          ON a.tbl = b.tbl AND a.code = b.code AND a.vec_id < b.vec_id
      ),
      scored AS (
        SELECT cand.id_a, cand.id_b,
               ROUND(list_aggregate(list_transform(generate_series(1, 64),
                                                   k -> av.v[k] * bv.v[k]),
                                    'sum')
                     / (sqrt(list_aggregate(list_transform(av.v, x -> x*x),
                                            'sum'))
                        * sqrt(list_aggregate(list_transform(bv.v, x -> x*x),
                                              'sum'))),
                     6) AS cos_sim
        FROM cand JOIN vv av ON av.vec_id = cand.id_a
                  JOIN vv bv ON bv.vec_id = cand.id_b
      )
      SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= {threshold}
    """


def _semantic_dedup_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM ({_emb_lsh_pairs_oracle(8, 6, 0.35, 64)})
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.src, t.r FROM sym s JOIN reach t ON t.node = s.dst
    ),
    losers AS (
      SELECT node FROM (SELECT node, MIN(r) AS component FROM reach
                        GROUP BY node)
      WHERE node <> component
    )
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT node FROM losers)
    """


@query("semantic_dedup_embeddings", _semantic_dedup_oracle())
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication
    (`operators/dedup.semantic_dedup`): cosine-near-duplicate pairs from
    banded multi-table hyperplane LSH (8 tables x 6 bits PINNED so the
    oracle can replay the hyperplanes — the production default derives
    (bits, tables) from corpus size + threshold via
    `similarity.cosine_lsh_params`, with the same `max_bucket=64`
    hot-bucket cap both paths apply), clustered by connected components,
    keep the min-id representative per semantic class. The threshold
    (0.2) sits in the synthetic embeddings' actual similarity regime —
    near-uniform random vectors have no 0.95-cosine pairs to find. The
    oracle replays LSH, cap, verification, and the component fixpoint
    (recursive CTE) end-to-end, so the KEPT SET itself is hash-checked."""
    from .operators import dedup as D

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    kept = D.semantic_dedup(emb, threshold=0.35, n_planes=6, n_tables=8)
    return kept.select("vec_id", "label")


def _emb_recall_audit_oracle() -> str:
    return f"""
    WITH aid AS MATERIALIZED (
      SELECT vec_id FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 150
    ),
    sv AS (SELECT e.vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings e JOIN aid USING (vec_id)),
    truth AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sv a JOIN sv b ON a.vec_id < b.vec_id
      WHERE ROUND(list_aggregate(list_transform(generate_series(1, 64),
                                                k -> a.v[k] * b.v[k]), 'sum')
                  / (sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))
                     * sqrt(list_aggregate(list_transform(b.v, x -> x*x),
                                           'sum'))),
                  6) >= 0.35
    ),
    pipe AS MATERIALIZED (
      SELECT id_a, id_b FROM ({_emb_lsh_pairs_oracle(8, 6, 0.35, 64)})
    ),
    found AS MATERIALIZED (
      SELECT t.id_a, t.id_b FROM truth t
      JOIN (SELECT DISTINCT id_a, id_b FROM pipe) p USING (id_a, id_b)
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM aid) AS sample_vecs,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS true_pairs,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM found) AS found_pairs,
      CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
        ROUND(CAST((SELECT COUNT(*) FROM found) AS DOUBLE)
              / (SELECT COUNT(*) FROM truth), 6)
      END AS recall
    """


@query("embedding_recall_audit_embeddings", _emb_recall_audit_oracle())
def embedding_recall_audit_embeddings(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Measured recall of the SEMANTIC near-dup tier
    (`similarity.embedding_recall_audit`) — the embedding-side mirror of
    `dedup_recall_audit_documents`, closing the r5 gap that the semantic
    tier's recall was unmeasured ("silent recall collapse there looks
    exactly like a clean corpus"): ground truth = exact all-pairs cosine
    within an md5-deterministic 150-vector sample, scored against the
    LSH pipeline's pairs restricted to the sample. The oracle recomputes
    BOTH sides — sampled truth and the full banded-LSH pipeline — so the
    measured recall value itself is hash-checked."""
    from .operators import similarity as SIM2

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    pairs = SIM2.embedding_neardup(emb, threshold=0.35, n_planes=6,
                                   n_tables=8, max_bucket=64)
    return SIM2.embedding_recall_audit(emb, pairs, sample=150,
                                       threshold=0.35)


def _hybrid_dedup_corpus_oracle() -> str:
    emb_src = ("(SELECT k.doc_id AS vec_id, e.embedding "
               "FROM kept_c k JOIN embeddings e ON e.vec_id = k.doc_id)")
    return f"""
    WITH RECURSIVE joined AS MATERIALIZED (
      SELECT d.doc_id, d.text FROM documents d
      JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    {_dedup_kept_cte_block('joined', 'c')},
    spairs AS MATERIALIZED (
      SELECT id_a, id_b
      FROM ({_emb_lsh_pairs_oracle(8, 6, 0.35, 64, src=emb_src)})
    ),
    ssym AS (
      SELECT id_a AS src, id_b AS dst FROM spairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM spairs
    ),
    sreach(node, r) AS (
      SELECT src, src FROM ssym
      UNION
      SELECT e.src, t.r FROM ssym e JOIN sreach t ON t.node = e.dst
    ),
    slosers AS (
      SELECT node FROM (SELECT node, MIN(r) AS component FROM sreach
                        GROUP BY node)
      WHERE node <> component
    )
    SELECT doc_id FROM kept_c
    WHERE doc_id NOT IN (SELECT node FROM slosers)
    """


@query("dedup_corpus_semantic_documents", _hybrid_dedup_corpus_oracle())
def dedup_corpus_semantic_documents(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The two-stage production dedup composition the module docstrings
    document: `dedup_corpus` (exact fingerprint collapse + LSH-verified
    text near-dup, the CHEAP verbatim tiers) runs FIRST over
    documents⋈embeddings, then `semantic_dedup` runs over the SURVIVORS'
    embedding column — paraphrase-level duplicates that share no shingles
    are caught by the vector tier without it ever seeing the rows the
    text tiers already collapsed. The oracle nests both stages flat
    (the `dedup_increment_documents` CTE discipline): text-dedup CTE
    block → banded-LSH cosine pairs over the survivors' vectors →
    recursive-CTE components → min-id keep. max_bucket=None on the text
    stage for unconditional equivalence; the semantic stage pins the
    oracle-replayable (8×6, cap 64) form."""
    from .operators import dedup as D

    docs = load_table(spark, sf_dir, "documents", spread=True) \
        .select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    from pyspark import StorageLevel

    # the documents⋈embeddings composition feeds the exact tier and the
    # survivor semi-join probe — persist so it runs once (r12 §2 shape)
    joined = docs.join(emb, docs.doc_id == emb.vec_id) \
        .select("doc_id", "text", "embedding") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    kept_text = D.dedup_corpus(joined, max_bucket=None)
    kept = D.semantic_dedup(kept_text, threshold=0.35, id_col="doc_id",
                            n_planes=6, n_tables=8)
    return kept.select("doc_id")


_LM_GATE_CUTOFF = -3.42  # sits inside the synthetic corpus's score band
                         # (p25 ≈ -3.444, median ≈ -3.416) so the gate
                         # provably splits the feed both ways


def _space_feed_mtimes(feed: str) -> None:
    """Make file-source batch order deterministic. Spark's file stream
    admits new files oldest-mtime-first, and the b0/b1 feed batches are
    written back-to-back — on a filesystem with second-granularity
    timestamps they can land in the same granule and flip arrival
    order, inverting the carried/arrived recursion relative to the
    oracle's doc_id-parity batching. Stamp every leaf file with a
    strictly increasing mtime per batch index (b0 < b1 < ...)."""
    import time

    base_t = time.time() - 600.0
    batches = sorted(os.listdir(feed),
                     key=lambda d: int("".join(c for c in d
                                               if c.isdigit()) or 0))
    for i, d in enumerate(batches):
        t = base_t + 10.0 * i
        for root, _dirs, files in os.walk(os.path.join(feed, d)):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))


def _snapshot_dir(sf_dir: str, table: str, name: str,
                  build: Callable[[str], None]) -> str:
    """Build a registry fixture once per parquet snapshot and return its
    directory.

    The streaming registry queries read what a stream left behind (a
    ledger, an index, a manifest). Running the stream is the expensive
    part, so each fixture is built once per snapshot of its input table
    and read back from disk by every later call, in this process or
    another. The directory is `$TMPDIR/{name}_{tag}`, where `tag` is
    the first 12 hex digits of the md5 of `"{abspath(sf_dir)}:{mtime}"`
    and `mtime` is the whole-second mtime of `<table>.parquet` (0 when
    it cannot be read). The key names the data, not the code: a
    regenerated table rebuilds, but a builder whose output changes
    shape must take a new `name` (`wde_curric2`, `wde_doc_ledger2`),
    and checking a code change against a warm TMPDIR compares nothing.

    A directory holding `_COMPLETE` is a finished build and is returned
    as it is. Otherwise `build(stage)` fills a staging directory private
    to this call (`{name}_{tag}.build.*`), `_COMPLETE` is written into
    it, and one `os.rename` publishes it, so a reader never sees a
    half-built directory. Two processes may build the same snapshot at
    once (a bench run next to a correctness run); they publish in turn,
    under an exclusive lock on `{name}_{tag}.lock`, and the later one
    finds `_COMPLETE` in place, drops its stage and returns the
    winner's build. A directory holding `_COMPLETE` is never removed;
    one without it (left by an older layout) is replaced, under the
    same lock. If `build` raises, the stage is removed and the error
    propagates.
    """
    try:
        mtime = int(os.path.getmtime(os.path.join(sf_dir, f"{table}.parquet")))
    except OSError:
        mtime = 0
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{mtime}".encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"{name}_{tag}")
    marker = "_COMPLETE"
    done = os.path.join(base, marker)
    if os.path.exists(done):
        return base
    stage = tempfile.mkdtemp(prefix=f"{name}_{tag}.build.")
    try:
        build(stage)
        with open(os.path.join(stage, marker), "w") as fh:
            fh.write("ok")
        with open(f"{base}.lock", "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not os.path.exists(done):
                shutil.rmtree(base, ignore_errors=True)  # stale, if any
                os.rename(stage, base)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return base


def _feed_stream(spark: SparkSession, stage: str,
                 batches: list[DataFrame]) -> DataFrame:
    """Replay `batches` as file-source micro-batches, one per trigger in
    list order: each frame is written as one file under `stage/feed`,
    `_space_feed_mtimes` orders the files, and the stream admits one
    file per trigger."""
    feed = os.path.join(stage, "feed")
    for i, batch in enumerate(batches):
        batch.coalesce(1).write.parquet(os.path.join(feed, f"b{i}.parquet"))
    _space_feed_mtimes(feed)
    return (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(feed, "*.parquet"))
    )


def _streaming_lm_corpus_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) an LM-GATED streamed corpus over
    the documents table and return its ledger directory: the doc_id%5!=0
    slice bootstraps the dedup'd init corpus + frozen bigram LM, the
    %5==0 slice arrives as two file-source micro-batches through
    `streaming/lm_admission.streaming_lm_dedup_admission` (below-cutoff
    docs quarantined, survivors dedup-admitted as ledger deltas)."""
    from .operators import dedup as D
    from .streaming.lm_admission import streaming_lm_dedup_admission

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        corpus0 = D.dedup_corpus(docs.filter(F.col("doc_id") % 5 != 0),
                                 max_bucket=None)
        stream = _feed_stream(spark, stage, [
            docs.filter(F.col("doc_id") % 10 == r) for r in (0, 5)])
        streaming_lm_dedup_admission(
            stream, corpus0, os.path.join(stage, "corpus"),
            os.path.join(stage, "ckpt"), os.path.join(stage, "quarantine"),
            cutoff=_LM_GATE_CUTOFF, max_bucket=None)

    return os.path.join(
        _snapshot_dir(sf_dir, "documents", "wde_lm_adm2", build), "corpus")


def _lm_gated_admission_oracle() -> str:
    return f"""
    WITH RECURSIVE corpus_part AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
    batch_part AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    {_dedup_kept_cte_block('corpus_part', 'c')},
    {_lm_score_cte_block('kept_c', 'batch_part', 'g')},
    admitted AS MATERIALIZED (
      SELECT b.doc_id, b.text FROM batch_part b
      JOIN agg_g ON agg_g.doc_id = b.doc_id
      WHERE ROUND(agg_g.al, 6) >= {_LM_GATE_CUTOFF}
    ),
    unioned AS MATERIALIZED (
      SELECT * FROM kept_c UNION ALL SELECT * FROM admitted),
    {_dedup_kept_cte_block('unioned', 'f')}
    SELECT doc_id FROM kept_f
    """


@query("lm_gated_admission_documents", _lm_gated_admission_oracle())
def lm_gated_admission_documents(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """End-to-end LM-GATED STREAMING ADMISSION
    (`streaming/lm_admission.py`), oracled against the flat batch
    composition: the %5!=0 slice bootstraps a dedup'd init corpus and a
    FROZEN bigram LM; the %5==0 slice streams in as two micro-batches;
    each batch is scored by the frozen LM, below-cutoff docs are
    quarantined, survivors flow through `dedup_increment` as ledger
    deltas. Because the frozen-LM gate is per-document (batching-
    invariant) and increment ≡ full-rerun (max_bucket=None, the
    `dedup_increment_documents` discipline), the final streamed corpus
    equals dedup(dedup(init) ∪ {{batch docs scoring >= cutoff}}) — which
    is exactly what the oracle computes in SQL (text-dedup CTE block +
    the shared LM-scoring CTE block, nested twice). The query returns
    the ids of the merged, uncompacted corpus ledger — the oracle
    hash-checks the maintained ledger itself."""
    from .streaming.dedup_admission import read_corpus

    corpus_dir = _streaming_lm_corpus_dir(spark, sf_dir)
    return read_corpus(spark, corpus_dir).select("doc_id")


_DSIR_GATE_CUTOFF = -2.0  # ~median shared-vocab log-ratio of the batch slice


def _streaming_dsir_corpus_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) a DSIR-GATED streamed corpus
    over the documents table and return its ledger directory: the
    doc_id%5!=0 slice bootstraps the dedup'd init corpus, its src0
    sub-slice (pre-dedup) is the frozen TARGET distribution, the %5==0
    slice arrives as two file-source micro-batches through
    `streaming/dsir_admission.streaming_dsir_dedup_admission`
    (below-cutoff importance ratios quarantined, survivors
    dedup-admitted as ledger deltas)."""
    from .operators import dedup as D
    from .streaming.dsir_admission import streaming_dsir_dedup_admission

    def build(stage: str) -> None:
        all_docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "text", "source")
        docs = all_docs.select("doc_id", "text")
        corpus0 = D.dedup_corpus(docs.filter(F.col("doc_id") % 5 != 0),
                                 max_bucket=None)
        target = all_docs.filter((F.col("doc_id") % 5 != 0)
                                 & (F.col("source") == "src0")) \
            .select("doc_id", "text")
        stream = _feed_stream(spark, stage, [
            docs.filter(F.col("doc_id") % 10 == r) for r in (0, 5)])
        streaming_dsir_dedup_admission(
            stream, corpus0, target, os.path.join(stage, "corpus"),
            os.path.join(stage, "ckpt"), os.path.join(stage, "quarantine"),
            cutoff=_DSIR_GATE_CUTOFF, max_bucket=None)

    return os.path.join(
        _snapshot_dir(sf_dir, "documents", "wde_dsir_adm2", build), "corpus")


def _dsir_gated_admission_oracle() -> str:
    return f"""
    WITH RECURSIVE corpus_part AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
    batch_part AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    {_dedup_kept_cte_block('corpus_part', 'c')},
    {_lm_counts_cte("(SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0 AND source = 'src0')", "gt")},
    {_lm_counts_cte('kept_c', 'gr')},
    voc_u AS (SELECT COUNT(DISTINCT w) AS v FROM
              (SELECT w FROM words_gt UNION ALL SELECT w FROM words_gr)),
    {_lm_model_cte('gt', voc='voc_u')},
    {_lm_model_cte('gr', voc='voc_u')},
    sbg_g AS MATERIALIZED ({_lm_bigrams_sql('batch_part')}),
    scored_g AS (
      SELECT b.doc_id,
             COALESCE(st.lp_seen, ft.lp_floor,
                      -ln((SELECT v FROM voc_u) + 1))
             - COALESCE(sr.lp_seen, fr.lp_floor,
                        -ln((SELECT v FROM voc_u) + 1)) AS d
      FROM sbg_g b
      LEFT JOIN seen_gt st ON st.w1 = b.w1 AND st.w2 = b.w2
      LEFT JOIN flr_gt ft ON ft.w1 = b.w1
      LEFT JOIN seen_gr sr ON sr.w1 = b.w1 AND sr.w2 = b.w2
      LEFT JOIN flr_gr fr ON fr.w1 = b.w1
    ),
    lr_g AS (SELECT doc_id, ROUND(SUM(d), 6) AS log_ratio
             FROM scored_g GROUP BY doc_id),
    admitted AS MATERIALIZED (
      SELECT b.doc_id, b.text FROM batch_part b
      JOIN lr_g ON lr_g.doc_id = b.doc_id
      WHERE lr_g.log_ratio >= {_DSIR_GATE_CUTOFF}
    ),
    unioned AS MATERIALIZED (
      SELECT * FROM kept_c UNION ALL SELECT * FROM admitted),
    {_dedup_kept_cte_block('unioned', 'f')}
    SELECT doc_id FROM kept_f
    """


@query("dsir_gated_admission_documents", _dsir_gated_admission_oracle())
def dsir_gated_admission_documents(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """End-to-end DSIR-GATED STREAMING ADMISSION
    (`streaming/dsir_admission.py`), oracled against the flat batch
    composition: the %5!=0 slice bootstraps a dedup'd init corpus, its
    src0 sub-slice is the frozen TARGET LM's training set (the raw LM
    freezes on the dedup'd init corpus); the %5==0 slice streams in as
    two micro-batches, each scored by the per-doc log importance ratio
    (`dsir_logratio`), below-cutoff docs quarantined, survivors through
    `dedup_increment` as ledger deltas. The frozen-LM ratio gate is
    per-document (batching-invariant) and increment ≡ full-rerun
    (max_bucket=None), so the final streamed corpus equals
    dedup(dedup(init) ∪ {{batch docs with ratio >= cutoff}}) — which the
    oracle computes flat (text-dedup CTE block + two `_lm_tables_cte`
    models + one scored join, nested). Returns the ids of the merged,
    uncompacted corpus ledger — the oracle hash-checks the ledger
    itself."""
    from .streaming.dedup_admission import read_corpus

    corpus_dir = _streaming_dsir_corpus_dir(spark, sf_dir)
    return read_corpus(spark, corpus_dir).select("doc_id")


@query(
    "ivfpq_residual_recall_gate",
    """
    SELECT CAST(8 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
           TRUE AS recall_ok
    """,
)
def ivfpq_residual_recall_gate(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Recall@5 property gate for RESIDUAL-encoding IVFPQ
    (`operators/similarity.ivfpq_residual_ann` — the actual FAISS IVFADC:
    codes quantize x_norm − coarse centroid): TRUE iff probing 6 of 16
    cells and scoring from 16-byte residual codes recovers >= 55% of the
    brute-force top-5 — TIGHTER than the direct-encoding composed gate
    (0.45), from the measured 0.675/0.725 floor at sf0.01/sf0.1
    (`measurements/ab_ivfpq_residual_r06.json`). On these near-uniform
    synthetic vectors the 16-cell coarse quantizer explains only 7-10% of
    variance, so recall is parity with direct encoding; the residual
    mechanism itself is verified by reconstruction MSE (21% lower where
    the coarse quantizer explains 32% — same receipt). See
    `lsh_ann_recall_gate` for why a threshold gate is the honest oracle
    for ANN over near-uniform random vectors."""
    from .operators import similarity as SIM2

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    q = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    return SIM2.topk_recall_gate(
        SIM2.ivfpq_residual_ann(emb, q, nprobe=6, m=16, refine=8),
        SIM2.cosine_topk(emb, q, k=5, dim=64),
        n_queries=8, k=5, min_recall=0.55,
    )


# ---------------------------------------------------------------------------
# distributed BPE merge training — operators/bpe.learn_bpe_merges
# ---------------------------------------------------------------------------

_BPE_SEP = "\x1f"  # symbol delimiter; never appears in corpus text


def _bpe_train_ctes(k: int) -> str:
    """The BPE TRAINING CTE chain (wf, seg0, p1/b1/seg1, …, seg{k}) — the
    SQL twin of `bpe.learn_bpe_merges` with the merge loop UNROLLED to
    `k` stages (the k-means-oracle discipline: a pinned number of
    iterations so a declarative engine can replay an iterative trainer).
    Shared by `_bpe_merges_oracle` (reads the b{i} argmax rows as the
    learned model) and the packed-BPE export oracle (reads the same b{i}
    rows to replay the merges over the ENCODING vocabulary).

    Each word's segmentation is carried as a DELIMITED STRING — every
    symbol wrapped in \\x1f markers ('\\x1fs1\\x1f\\x1fs2\\x1f…'), a char
    that cannot occur in text — so one SQL `replace()` per stage applies
    the winning pair merge with EXACTLY the trainer's semantics: SQL
    replace scans left-to-right and never rescans replaced output, which
    is the greedy non-overlapping fold of `learn_bpe_merges` (and of the
    reference `train_bpe_merges` loop). Pair counting splits the string
    back into a symbol list and explodes adjacent pairs; the argmax uses
    the trainer's exact tie-break (count desc, then lexicographic pair).
    Every stage is MATERIALIZED: seg{i} is read by both p{i+1} and
    seg{i+1}, and without materialization the chain re-derives seg0
    2^k times."""
    s = _BPE_SEP
    ctes = [f"""wf AS MATERIALIZED (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    seg0 AS MATERIALIZED (
      SELECT regexp_replace(w, '(.)', '{s}\\1{s}', 'g') AS seg, freq FROM wf
    )"""]
    for i in range(1, k + 1):
        ctes.append(f"""p{i} AS MATERIALIZED (
      SELECT l[j] AS a, l[j+1] AS b, SUM(freq) AS c
      FROM (SELECT string_split(trim(seg, '{s}'), '{s}{s}') AS l, freq
            FROM seg{i - 1}) t, unnest(range(1, len(l))) u(j)
      GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (
      SELECT a, b FROM p{i} ORDER BY c DESC, a, b LIMIT 1
    ),
    seg{i} AS MATERIALIZED (
      SELECT replace(seg, '{s}' || a || '{s}{s}' || b || '{s}',
                     '{s}' || a || b || '{s}') AS seg, freq
      FROM seg{i - 1}, b{i}
    )""")
    return ",\n    ".join(ctes)


def _bpe_merges_oracle(k: int) -> str:
    """The learned model itself as rows: see `_bpe_train_ctes`."""
    finals = "\n      UNION ALL ".join(
        f"SELECT {i} AS merge_rank, a AS left_sym, b AS right_sym FROM b{i}"
        for i in range(1, k + 1))
    return ("WITH " + _bpe_train_ctes(k)
            + f"\n    SELECT * FROM ({finals}) ORDER BY merge_rank")


_BPE_MERGES_K = 12


@query("bpe_merges_documents", _bpe_merges_oracle(_BPE_MERGES_K))
def bpe_merges_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BPE merge training (`bpe.learn_bpe_merges` — Sennrich
    et al. 2016 over the corpus word-frequency table, vocabulary-sized
    state, ONE argmax row to the driver per merge): the first
    12 learned merges as (merge_rank, left_sym, right_sym). The trainer
    is differential-pinned to the in-process reference
    (`train_bpe_merges`) in tests; this oracle replays the whole loop in
    SQL — word frequencies, per-stage pair counting with the exact
    tie-break, and the greedy non-overlapping re-segmentation (see
    `_bpe_merges_oracle`) — so the learned MODEL itself is
    hash-checked, not just its application."""
    from .operators import bpe as B

    docs = load_table(spark, sf_dir, "documents", spread=True)
    merges = B.learn_bpe_merges(docs, num_merges=_BPE_MERGES_K)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, left_sym string, right_sym string")


# ---------------------------------------------------------------------------
# repeated frame-run detection — operators/multimodal.frame_run_spans
# ---------------------------------------------------------------------------

def _frame_runs_oracle(fb: int, k: int, min_count: int) -> str:
    """SQL twin of frame_sample(every=1, frame_bytes=fb) on video-kind
    media + frame_run_spans(k, min_count). Frame payloads are byte
    slices of the utf-8 text (`attach_media`); the documents corpus is
    pure ASCII (asserted in tests), so DuckDB's character substring
    hashes the same bytes Spark's binary md5 sees. The k-frame run
    fingerprint is unrolled as a lead() chain (k pinned); islands merge
    with the same gap<=k rule as the token-span oracles."""
    leads = " || '|' || ".join(
        ["sig"] + [f"lead(sig, {j}) OVER w" for j in range(1, k)])
    return f"""
    WITH m AS (SELECT doc_id AS media_id, text, length(text) AS L
               FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
    fr AS (SELECT media_id, CAST(fi AS INT) AS frame_idx,
                  md5(substring(text, CAST(fi * {fb} + 1 AS INT), {fb}))
                    AS sig
           FROM m, unnest(range(0, CAST(ceil(L / {fb}.0) AS BIGINT))) t(fi)),
    runs AS (
      SELECT media_id, CAST(ROW_NUMBER() OVER w AS INT) AS p,
             md5({leads}) AS runsig
      FROM fr WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)),
    r2 AS (SELECT media_id, p, runsig FROM runs WHERE runsig IS NOT NULL),
    dup AS (SELECT runsig FROM r2 GROUP BY runsig
            HAVING COUNT(*) >= {min_count}),
    marked AS (SELECT media_id, p FROM r2 JOIN dup USING (runsig)),
    isl AS (
      SELECT media_id, p,
             CASE WHEN lag(p) OVER wm IS NULL OR p - lag(p) OVER wm > {k}
                  THEN 1 ELSE 0 END AS brk
      FROM marked WINDOW wm AS (PARTITION BY media_id ORDER BY p)),
    isl2 AS (SELECT media_id, p,
                    SUM(brk) OVER (PARTITION BY media_id ORDER BY p)
                      AS island
             FROM isl)
    SELECT media_id, CAST(MIN(p) AS BIGINT) AS span_start,
           CAST(MAX(p) + {k - 1} AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl2 GROUP BY media_id, island
    """


@query("frame_runs_multimodal", _frame_runs_oracle(64, 3, 2))
def frame_runs_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated frame-run detection over video frame sequences
    (`multimodal.frame_run_spans` — ExactSubstr's guarantee carried to
    the media axis): video payloads are sliced into 64-byte frames
    (stub codec, real Arrow plumbing), each frame is signed JVM-side
    (md5), every 3-frame signature run repeated >= 2 times corpus-wide
    (shared intros/outros, looped content, within-media stills) marks
    its positions, and marked runs merge into maximal per-media spans.
    One per-media window + one hash agg on the run fingerprint — no
    self-join at any corpus size. The oracle replays slicing, signing,
    the lead-chain fingerprint, duplicate counting, and the island
    merge, so the spans themselves are hash-checked."""
    from .operators import multimodal as MM2

    docs = load_table(spark, sf_dir, "documents", spread=True)
    frames = MM2.frame_sample(
        MM2.attach_media(docs).filter(F.col("kind") == "video"),
        every=1, frame_bytes=64)
    return MM2.frame_run_spans(frames)


# ---------------------------------------------------------------------------
# classifier-gated streaming admission — streaming/nb_admission
# ---------------------------------------------------------------------------

_NB_KEEP_LABELS = ["en"]  # majority class of the synthetic corpus


def _streaming_nb_corpus_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) a CLASSIFIER-GATED streamed
    corpus over the documents table and return its ledger directory: the
    doc_id%5!=0 slice bootstraps the dedup'd init corpus AND (with its
    lang labels) trains the frozen NB model; the %5==0 slice arrives as
    two file-source micro-batches through
    `streaming/nb_admission.streaming_nb_dedup_admission` (docs
    predicted outside keep_labels quarantined, every prediction in the
    per-batch ledger, survivors dedup-admitted as ledger deltas)."""
    from .operators import dedup as D
    from .streaming.nb_admission import streaming_nb_dedup_admission

    def build(stage: str) -> None:
        all_docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "text", "lang")
        docs = all_docs.select("doc_id", "text")
        corpus0 = D.dedup_corpus(docs.filter(F.col("doc_id") % 5 != 0),
                                 max_bucket=None)
        train = all_docs.filter(F.col("doc_id") % 5 != 0)
        stream = _feed_stream(spark, stage, [
            docs.filter(F.col("doc_id") % 10 == r) for r in (0, 5)])
        streaming_nb_dedup_admission(
            stream, corpus0, train, os.path.join(stage, "corpus"),
            os.path.join(stage, "ckpt"), os.path.join(stage, "quarantine"),
            keep_labels=_NB_KEEP_LABELS, max_bucket=None)

    return os.path.join(
        _snapshot_dir(sf_dir, "documents", "wde_nb_adm2", build), "corpus")


def _nb_gated_admission_oracle() -> str:
    keep = ", ".join(f"'{l}'" for l in _NB_KEEP_LABELS)
    return f"""
    WITH RECURSIVE corpus_part AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
    batch_part AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    {_dedup_kept_cte_block('corpus_part', 'c')},
    {_nb_pred_cte_block(
        "(SELECT lang AS label, text FROM documents WHERE doc_id % 5 <> 0)",
        'batch_part', 'ng')},
    admitted AS MATERIALIZED (
      SELECT b.doc_id, b.text FROM batch_part b
      JOIN pred_ng p ON p.doc_id = b.doc_id
      WHERE p.pred_label IN ({keep})
    ),
    unioned AS MATERIALIZED (
      SELECT * FROM kept_c UNION ALL SELECT * FROM admitted),
    {_dedup_kept_cte_block('unioned', 'f')}
    SELECT doc_id FROM kept_f
    """


@query("nb_gated_admission_documents", _nb_gated_admission_oracle())
def nb_gated_admission_documents(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """End-to-end CLASSIFIER-GATED STREAMING ADMISSION
    (`streaming/nb_admission.py` — the GPT-3 production shape: a frozen
    linear classifier decides which crawled documents enter the corpus),
    oracled against the flat batch composition: the %5!=0 slice
    bootstraps a dedup'd init corpus and (with its lang labels) the
    frozen NB model; the %5==0 slice streams in as two micro-batches,
    every document is argmax-classified into the per-batch prediction
    ledger, docs predicted outside {{'en'}} are quarantined, survivors
    flow through `dedup_increment` as ledger deltas. The frozen-model
    gate is per-document (batching-invariant) and increment ≡ full-rerun
    (max_bucket=None), so the final streamed corpus equals
    dedup(dedup(init) ∪ {{batch docs predicted 'en'}}) — which the
    oracle computes flat (text-dedup CTE block + the NB prediction CTE
    block, nested). Returns the ids of the merged, uncompacted corpus
    ledger — the oracle hash-checks the maintained ledger itself."""
    from .streaming.dedup_admission import read_corpus

    corpus_dir = _streaming_nb_corpus_dir(spark, sf_dir)
    return read_corpus(spark, corpus_dir).select("doc_id")


# ---------------------------------------------------------------------------
# corpus clustering / export layout / mixture budgeting
# ---------------------------------------------------------------------------

def _kmeans_assigned(spark, emb):
    """(assigned, centroids): every embedding's deterministic k-means cell
    (16 cells, 2 Lloyd iterations) as (vec_id, cluster int). Empty-corpus
    safe: with no trainable vectors there is no model — returns an empty
    assignment and [] instead of handing an empty centroid matrix to the
    probe kernel (the date-filter-leaves-zero-rows case every composed
    plan must survive)."""
    from .operators import similarity as SIM2
    from .operators.similarity import (_as_double, _normalize,
                                       _probe_cells_udf)

    cents = SIM2.train_ivf_centroids(emb, n_cells=16)
    if not cents:
        return spark.createDataFrame([], "vec_id long, cluster int"), []
    assign1 = _probe_cells_udf(spark, cents, nprobe=1)
    assigned = emb.select(
        "vec_id",
        assign1(_normalize(_as_double(F.col("embedding"))))[0]
        .cast("int").alias("cluster"))
    return assigned, cents


def _kmeans_clusters_oracle() -> str:
    from .queries import _IVF_ASSIGN, _IVF_UPDATE

    return """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    nv AS (SELECT vec_id,
                  list_transform(v, x -> x / sqrt(list_aggregate(
                      list_transform(v, y -> y*y), 'sum'))) AS nv
           FROM v),
    seed AS (
      SELECT rn - 1 AS cell, nv AS cv FROM (
        SELECT nv, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM nv) WHERE rn <= 16
    ),
    a1 AS (""" + _IVF_ASSIGN.format(cents="seed", qfilter="", rncond="= 1") + """),
    """ + _IVF_UPDATE.format(it=1, prev="seed") + """,
    a2 AS (""" + _IVF_ASSIGN.format(cents="c1f", qfilter="", rncond="= 1") + """),
    """ + _IVF_UPDATE.format(it=2, prev="c1f") + """,
    itemcell AS (""" + _IVF_ASSIGN.format(cents="c2f", qfilter="", rncond="= 1") + """),
    sz AS (SELECT cell, COUNT(*) AS n FROM itemcell GROUP BY cell)
    SELECT i.vec_id, CAST(i.cell AS INT) AS cluster,
           CAST(sz.n AS BIGINT) AS cluster_size
    FROM itemcell i JOIN sz USING (cell)
    """


@query("kmeans_clusters_embeddings", _kmeans_clusters_oracle())
def kmeans_clusters_embeddings(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Corpus clustering for domain discovery / cluster-balanced mixing
    (the clustering stage of SemDeDup and of cluster-based data
    curation): every embedding assigned to its deterministic k-means
    cell (`similarity.train_ivf_centroids` — md5-ordered seeding, 2
    Lloyd iterations, Arrow-vectorized argmin assignment) with the
    cluster's population joined on. The centroids are the model
    (n_cells × dim doubles on the driver — the k-means collect pattern);
    the data never leaves the executors. The oracle unrolls the same
    seed → assign → update → assign → update → assign sequence in SQL,
    so every ASSIGNMENT is hash-checked, not just the cell sizes."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    assigned, _ = _kmeans_assigned(spark, emb)
    sz = assigned.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return assigned.join(F.broadcast(sz), "cluster") \
        .select("vec_id", "cluster", "cluster_size")


_SHARD_DOCS = 64


@query(
    "export_shards_documents",
    f"""
    SELECT doc_id, global_rank,
           CAST((global_rank - 1) // {_SHARD_DOCS} AS BIGINT) AS shard_id,
           CAST((global_rank - 1) % {_SHARD_DOCS} AS BIGINT) AS seq_in_shard
    FROM (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY md5('wde|' || CAST(doc_id AS VARCHAR)), doc_id)
               AS global_rank
      FROM documents)
    """,
)
def export_shards_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + fixed-size shard assignment
    (`layout.export_shards`) — the final stage of a training-data
    pipeline: every document ranked under the total order of a salted
    md5 of its id and packed into fixed 64-doc shards,
    reproducible across engines, runs, and cluster sizes. The Spark
    plan is the scale-safe TWO-PHASE ranking (hash-prefix bucket counts
    to the driver → broadcast offsets → per-bucket local rank), never a
    single-partition window; the oracle states the same total order
    naively (one global ROW_NUMBER), so equality of every rank is the
    proof the two-phase decomposition is exact."""
    from .operators import layout as L

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return L.export_shards(docs.select("doc_id"), docs_per_shard=_SHARD_DOCS) \
        .select("doc_id", "global_rank", "shard_id", "seq_in_shard")


# per-source token budgets (whitespace tokens): named sources get their
# own cap, everything else the default — the "sample each source until
# its token budget is spent" mixture draw.
_TOKEN_BUDGET = {"src0": 900, "src1": 450, "src2": 220}
_TOKEN_BUDGET_DEFAULT = 600


@query(
    "token_budget_mixture_documents",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tok,
             md5('wde@' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY hx, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c
    WHERE cum_tokens <= CASE source
      {' '.join(f"WHEN '{s}' THEN {b}" for s, b in _TOKEN_BUDGET.items())}
      ELSE {_TOKEN_BUDGET_DEFAULT} END
    """,
)
def token_budget_mixture_documents(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """TOKEN-budget mixture sampling — the draw a real pre-training
    mixture uses (budgets are set in tokens, not documents, because the
    model trains on tokens): each source admits documents in a
    deterministic salted-hash order until its token budget is spent
    (inclusive running sum <= budget; doc-granular, no partial docs).
    Complements `mixture_sample_documents` (fractional, doc-count-based)
    with the absolute-token form. One window per source — at real scale
    the budget splits proportionally across hash sub-buckets first (the
    `pack_token_budget` shard discipline), keeping partitions bounded;
    the hash order makes the admitted set independent of ingest order
    and cluster size."""
    from .functions.strings import tokens as _tokens

    d = load_table(spark, sf_dir, "documents", spread=True)
    t = d.select(
        "doc_id", "source",
        F.size(_tokens(F.col("text"))).alias("n_tok"),
        F.md5(F.concat(F.lit("wde@"), F.col("doc_id").cast("string")))
        .alias("hx"))
    w = Window.partitionBy("source").orderBy("hx", "doc_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    budget = F.lit(_TOKEN_BUDGET_DEFAULT)
    for s, b in reversed(list(_TOKEN_BUDGET.items())):
        budget = F.when(F.col("source") == s, F.lit(b)).otherwise(budget)
    return (
        t.withColumn("cum_tokens", F.sum("n_tok").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select("doc_id", "source", F.col("n_tok").cast("long").alias("n_tok"),
                F.col("cum_tokens").cast("long").alias("cum_tokens"))
    )


_CLUSTER_CAP = 24


@query(
    "cluster_cap_embeddings",
    f"""
    WITH asg AS ({_kmeans_clusters_oracle()})
    SELECT vec_id, cluster FROM (
      SELECT vec_id, cluster,
             ROW_NUMBER() OVER (
               PARTITION BY cluster
               ORDER BY md5('cap|' || CAST(vec_id AS VARCHAR)), vec_id)
               AS rn
      FROM asg)
    WHERE rn <= {_CLUSTER_CAP}
    """,
)
def cluster_cap_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling (the SemDeDup/DataComp prototype-pruning
    shape: dense regions of embedding space contribute at most a fixed
    quota, so the kept set covers the distribution instead of echoing
    its modes): at most 24 vectors per deterministic k-means
    cell, chosen in salted-hash order (reproducible, order- and
    cluster-size-independent). Composes `kmeans_clusters_embeddings`'
    assignment with one per-cluster window — partitions are
    cluster-sized, never corpus-sized. The oracle nests the unrolled
    k-means and replays the capped draw, so the KEPT SET is
    hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    assigned, _ = _kmeans_assigned(spark, emb)
    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.concat(F.lit("cap|"), F.col("vec_id").cast("string"))),
        "vec_id")
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CLUSTER_CAP)
        .select("vec_id", "cluster")
    )


@query(
    "quality_quota_sample_documents",
    f"""
    WITH asg AS ({_kmeans_clusters_oracle()}),
    {_lm_score_cte_block(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)",
        "documents", "qq")}
    SELECT doc_id, cluster, avg_logp FROM (
      SELECT d.doc_id, a.cluster, ROUND(agg_qq.al, 6) AS avg_logp,
             ROW_NUMBER() OVER (
               PARTITION BY a.cluster
               ORDER BY ROUND(agg_qq.al, 6) DESC, d.doc_id) AS rn
      FROM documents d
      JOIN asg a ON a.vec_id = d.doc_id
      JOIN agg_qq ON agg_qq.doc_id = d.doc_id
    ) WHERE rn <= {_CLUSTER_CAP}
    """,
)
def quality_quota_sample_documents(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The ACTUAL CURATION DRAW: cluster-balanced AND quality-ranked —
    each deterministic k-means cell of embedding space contributes at
    most {_CLUSTER_CAP} documents, and within its quota a cluster admits
    its BEST documents by CCNet bigram-LM fluency (`lm_quality`, LM
    frozen on the doc_id-even half) instead of `cluster_cap_embeddings`'
    neutral hash order. This is the DataComp/SemDeDup-style selection a
    mixture designer actually ships: coverage across embedding space
    (no mode echo), quality within each region. Composes two
    driver-green families — `_kmeans_assigned` (centroids = bounded
    driver state) and the broadcast-LM scorer — into one Catalyst plan:
    score join + assignment join + ONE per-cluster window (partitions
    are cluster-sized, never corpus-sized). Docs too short to score
    (NULL avg_logp) are routed out, matching the oracle's inner join;
    ordering is on the ROUNDED score with a doc_id tie-break, so the
    kept set is reproducible bit-for-bit. The oracle nests the unrolled
    k-means and the LM CTE block and replays the ranked quota draw —
    the ADMITTED SET ITSELF is hash-checked."""
    from .operators import lm_score as LM

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    assigned, _ = _kmeans_assigned(spark, emb)
    lm = LM.train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    scores = LM.lm_quality(docs, lm) \
        .filter(F.col("avg_logp").isNotNull())
    w = Window.partitionBy("cluster") \
        .orderBy(F.desc("avg_logp"), F.asc("doc_id"))
    return (
        scores.join(assigned, scores.doc_id == assigned.vec_id)
        .select("doc_id", "cluster", "avg_logp")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CLUSTER_CAP)
        .select("doc_id", "cluster", "avg_logp")
    )


@query(
    "ccnet_perplexity_buckets_documents",
    f"""
    WITH
    {_lm_score_cte_block(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)",
        "documents", "cp")},
    r AS (
      SELECT d.doc_id, d.source, ROUND(agg_cp.al, 6) AS avg_logp,
             NTILE(3) OVER (PARTITION BY d.source
                            ORDER BY ROUND(agg_cp.al, 6) DESC, d.doc_id)
             AS b
      FROM documents d JOIN agg_cp ON agg_cp.doc_id = d.doc_id
    )
    SELECT doc_id, source, avg_logp,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket
    FROM r
    """,
)
def ccnet_perplexity_buckets_documents(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail PERPLEXITY SHARDS (Wenzek et al. 2020):
    within each source, documents rank by bigram-LM fluency (the CCNet
    quality proxy, LM frozen on the doc_id-even half) and split into
    fluency terciles — 'head' is the third the pipeline keeps outright,
    'middle' is the re-filter band, 'tail' is the discard candidate.
    Bucketing is PER SOURCE (CCNet buckets per language): a uniformly
    noisy source still contributes its best third rather than being
    wiped out by a global cutoff. One window over the score join
    (partitions are source-sized); ordering is on the ROUNDED score with
    a doc_id tie-break so the assignment is reproducible bit-for-bit,
    and NTILE's standard remainder rule is pinned by the oracle replay.
    Docs too short to score route out via the inner join, matching
    `quality_quota_sample_documents`' discipline."""
    from .operators import lm_score as LM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    lm = LM.train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    scores = LM.lm_quality(docs, lm) \
        .filter(F.col("avg_logp").isNotNull()) \
        .select("doc_id", "avg_logp")
    w = Window.partitionBy("source") \
        .orderBy(F.desc("avg_logp"), F.asc("doc_id"))
    b = F.ntile(3).over(w)
    return (
        docs.select("doc_id", "source").join(scores, "doc_id")
        .withColumn("bucket",
                    F.when(b == 1, "head")
                    .when(b == 2, "middle").otherwise("tail"))
        .select("doc_id", "source", "avg_logp", "bucket")
    )


@query(
    "ccnet_source_scorecard_documents",
    f"""
    WITH
    {_lm_score_cte_block(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)",
        "documents", "cr")},
    r AS (
      SELECT d.doc_id, d.source,
             len(string_split_regex(trim(lower(d.text)), '\\s+')) AS n_tok,
             ROUND(agg_cr.al, 6) AS avg_logp,
             NTILE(3) OVER (PARTITION BY d.source
                            ORDER BY ROUND(agg_cr.al, 6) DESC, d.doc_id)
             AS b
      FROM documents d JOIN agg_cr ON agg_cr.doc_id = d.doc_id
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
           CAST(SUM(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_middle,
           CAST(SUM(CASE WHEN b = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
           ROUND(AVG(CASE WHEN b = 1 THEN avg_logp END), 6)
             AS head_avg_logp,
           ROUND(AVG(CASE WHEN b = 2 THEN avg_logp END), 6)
             AS middle_avg_logp,
           ROUND(AVG(CASE WHEN b = 3 THEN avg_logp END), 6)
             AS tail_avg_logp,
           ROUND(AVG(CASE WHEN b = 1 THEN n_tok END), 4) AS head_avg_tokens,
           ROUND(AVG(CASE WHEN b = 3 THEN n_tok END), 4) AS tail_avg_tokens
    FROM r GROUP BY source
    """,
)
def ccnet_source_scorecard_documents(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """CCNet tercile populations ROLLED UP onto the per-source scorecard
    (the SURVEY §7.3 composition): each source's head/middle/tail counts
    plus per-bucket mean fluency and mean length — the one-page answer to
    'which sources are worth re-filtering and which discard wholesale'.
    Reuses `ccnet_perplexity_buckets_documents`' engine path (frozen
    even-half LM, per-source NTILE) and its oracle CTE block verbatim;
    the rollup itself is one hash aggregate over source — model-sized
    output (sources × 10 cells) whatever the corpus size."""
    from .functions.strings import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents", spread=True)
    buckets = ccnet_perplexity_buckets_documents(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.size(_tokens(F.col("text"))).alias("n_tok"))
    j = buckets.join(toks, "doc_id")
    is_b = lambda name: F.col("bucket") == name  # noqa: E731
    return j.groupBy("source").agg(
        F.count("*").alias("n_scored"),
        F.sum(F.when(is_b("head"), 1).otherwise(0)).alias("n_head"),
        F.sum(F.when(is_b("middle"), 1).otherwise(0)).alias("n_middle"),
        F.sum(F.when(is_b("tail"), 1).otherwise(0)).alias("n_tail"),
        F.round(F.avg(F.when(is_b("head"), F.col("avg_logp"))), 6)
        .alias("head_avg_logp"),
        F.round(F.avg(F.when(is_b("middle"), F.col("avg_logp"))), 6)
        .alias("middle_avg_logp"),
        F.round(F.avg(F.when(is_b("tail"), F.col("avg_logp"))), 6)
        .alias("tail_avg_logp"),
        F.round(F.avg(F.when(is_b("head"), F.col("n_tok"))), 4)
        .alias("head_avg_tokens"),
        F.round(F.avg(F.when(is_b("tail"), F.col("n_tok"))), 4)
        .alias("tail_avg_tokens"),
    )


@query(
    "cluster_scorecard_embeddings",
    f"""
    WITH asg AS ({_kmeans_clusters_oracle()}),
    {_lm_score_cte_block(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)",
        "documents", "cs")},
    {_nb_pred_cte_block(
        "(SELECT lang AS label, text, doc_id FROM documents WHERE doc_id % 2 = 0)",
        "documents", "cn")},
    base AS (
      SELECT a.cluster,
             len(string_split_regex(trim(lower(d.text)), '\\s+')) AS n_tok,
             ROUND(agg_cs.al, 6) AS lm,
             pr.margin AS nb_margin
      FROM documents d
      JOIN asg a ON a.vec_id = d.doc_id
      LEFT JOIN agg_cs ON agg_cs.doc_id = d.doc_id
      LEFT JOIN pred_cn pr ON pr.doc_id = d.doc_id
    )
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_tok), 4) AS avg_tokens,
           ROUND(AVG(lm), 6) AS avg_lm_logp,
           ROUND(AVG(nb_margin), 6) AS avg_nb_margin
    FROM base GROUP BY cluster
    """,
)
def cluster_scorecard_embeddings(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """PER-CLUSTER quality scorecard — the embedding-space analogue of
    `source_scorecard_documents`: where that query rolls quality up by
    PROVENANCE (source), this one rolls it up by CONTENT REGION (the
    deterministic k-means cell of `_kmeans_assigned`), the table a
    curator reads to find low-quality modes of embedding space (a cell
    with depressed LM fluency and NB margin is a candidate for a lower
    `quality_quota_sample_documents` quota or outright exclusion —
    DataComp-style cluster triage). Composes three driver-green
    families into one plan: the k-means assignment (centroids = bounded
    driver state, Arrow argmin kernel), the broadcast-LM fluency scorer,
    and the NB classifier margin, joined per doc and rolled up in ONE
    grouped aggregation keyed by cluster (16 cells — the rollup output
    is model-sized). The oracle nests the unrolled k-means CTE with the
    LM and NB blocks and replays the rollup, so every cell's statistics
    are hash-checked."""
    from .functions.strings import tokens as _tokens
    from .operators import classifier as C
    from .operators import lm_score as LM

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    assigned, _ = _kmeans_assigned(spark, emb)
    lm = LM.train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    scores = LM.lm_quality(docs, lm).select("doc_id", "avg_logp")
    model, priors = C.train_naive_bayes(
        docs.filter(F.col("doc_id") % 2 == 0))
    nb = C.nb_classify(docs, model, priors).select("doc_id", "margin")
    base = (
        docs.select("doc_id", F.size(_tokens(F.col("text"))).alias("n_tok"))
        .join(assigned, F.col("doc_id") == F.col("vec_id"))
        .join(scores, "doc_id", "left")
        .join(nb, "doc_id", "left")
    )
    return base.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        F.round(F.avg("avg_logp"), 6).alias("avg_lm_logp"),
        F.round(F.avg("margin"), 6).alias("avg_nb_margin"),
    )


@query(
    "contamination_by_source_documents",
    f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE doc_id % 17 <> 0
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({_shingle_sql(3, 'toks')})) AS sh
      FROM tok
    ),
    btok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE doc_id % 17 = 0
    ),
    bench AS (
      SELECT DISTINCT sh FROM (
        SELECT unnest(list_distinct({_shingle_sql(3, 'toks')})) AS sh
        FROM btok)
    ),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS n_shared
      FROM sh s JOIN bench b ON s.sh = b.sh
      GROUP BY s.doc_id
    ),
    per_doc AS (
      SELECT d.doc_id, d.source, COALESCE(h.n_shared, 0) AS n_shared
      FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      WHERE d.doc_id % 17 <> 0
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS contaminated_docs,
           ROUND(AVG(CASE WHEN n_shared > 0 THEN 1.0 ELSE 0.0 END), 6)
             AS contamination_rate,
           CAST(SUM(n_shared) AS BIGINT) AS shared_shingles
    FROM per_doc GROUP BY source
    """,
)
def contamination_by_source_documents(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Per-source benchmark-contamination rollup — the table a curator
    reads to decide which SOURCES leak eval data (doc-level flags alone
    don't show that a single feed contributes most of the overlap):
    `curation.decontaminate` of the non-benchmark corpus against the
    deterministic benchmark stand-in (doc_id % 17 = 0), rolled up per
    source as docs / contaminated docs / rate / total shared shingles.
    The benchmark shingle set broadcasts; the rollup is one grouped
    aggregation; the oracle replays shingling, the overlap join, and
    the rollup."""
    from .operators import curation as CU

    docs = load_table(spark, sf_dir, "documents", spread=True)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    scored = CU.decontaminate(corpus, docs.filter(F.col("doc_id") % 17 == 0))
    per_doc = corpus.select("doc_id", "source") \
        .join(scored, "doc_id", "left")
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n_shared_shingles") > 0, 1).otherwise(0))
        .cast("long").alias("contaminated_docs"),
        F.round(F.avg(F.when(F.col("n_shared_shingles") > 0, 1.0)
                      .otherwise(0.0)), 6).alias("contamination_rate"),
        F.sum("n_shared_shingles").cast("long").alias("shared_shingles"),
    )


_PROTO_PER_CELL = 16


def _cluster_prototypes_oracle() -> str:
    from .queries import _IVF_ASSIGN, _IVF_UPDATE

    return """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    nv AS (SELECT vec_id,
                  list_transform(v, x -> x / sqrt(list_aggregate(
                      list_transform(v, y -> y*y), 'sum'))) AS nv
           FROM v),
    seed AS (
      SELECT rn - 1 AS cell, nv AS cv FROM (
        SELECT nv, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM nv) WHERE rn <= 16
    ),
    a1 AS (""" + _IVF_ASSIGN.format(cents="seed", qfilter="", rncond="= 1") + """),
    """ + _IVF_UPDATE.format(it=1, prev="seed") + """,
    a2 AS (""" + _IVF_ASSIGN.format(cents="c1f", qfilter="", rncond="= 1") + """),
    """ + _IVF_UPDATE.format(it=2, prev="c1f") + """,
    itemcell AS (""" + _IVF_ASSIGN.format(cents="c2f", qfilter="", rncond="= 1") + """),
    scored AS (
      SELECT i.vec_id, CAST(i.cell AS INT) AS cluster,
             ROUND(list_aggregate(list_transform(generate_series(1, 64),
                                                 k -> n.nv[k] * s.cv[k]),
                                  'sum'), 6) AS cdot
      FROM itemcell i JOIN nv n USING (vec_id)
                      JOIN c2f s ON s.cell = i.cell
    )
    SELECT vec_id, cluster, cdot FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cluster ORDER BY cdot DESC, vec_id) AS rn
      FROM scored)
    WHERE rn <= """ + str(_PROTO_PER_CELL) + """
    """


@query("cluster_prototypes_embeddings", _cluster_prototypes_oracle())
def cluster_prototypes_embeddings(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """QUALITY-ordered cluster quota — prototype selection (the
    companion draw to `cluster_cap_embeddings`' hash-order quota): per
    deterministic k-means cell, keep the 16 vectors MOST ALIGNED with
    the cell centroid (highest normalized-vector · centroid dot,
    rounded, id tie-break) — the 'representative exemplars per domain'
    draw used for prototype-based curation and few-shot pool building.
    Assignment is the Arrow-vectorized argmin; the centrality score is
    a JVM fold against the broadcast 16-row centroid table; the quota
    is one per-cluster window. The oracle nests the unrolled Lloyd loop
    and replays scoring + the capped draw, so the kept set AND each
    vector's centrality are hash-checked."""
    from .operators.similarity import _as_double, _normalize, dot

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    assigned, cents = _kmeans_assigned(spark, emb)
    if not cents:
        return spark.createDataFrame(
            [], "vec_id long, cluster int, cdot double")
    spark_cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cluster int, cv array<double>")
    scored = (
        assigned
        .join(emb.select(
            "vec_id",
            _normalize(_as_double(F.col("embedding"))).alias("nv")),
            "vec_id")
        .join(F.broadcast(spark_cents), "cluster")
        .select("vec_id", "cluster",
                F.round(dot(F.col("nv"), F.col("cv"), 64), 6).alias("cdot"))
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("cdot"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PROTO_PER_CELL)
        .select("vec_id", "cluster", "cdot")
    )


# ---------------------------------------------------------------------------
# streaming export-shard manifest — streaming/export_admission
# ---------------------------------------------------------------------------

_MANIFEST_PER = 64


def _streaming_manifest_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) a STREAMED export manifest over
    the documents table and return its ledger directory: the doc_id%5!=0
    slice is ranked as batch 0 (bootstrap), the %5==0 slice arrives as
    two file-source micro-batches through
    `streaming/export_admission.streaming_shard_manifest` (append-only
    shard coordinates continuing after the running total)."""
    from .streaming.export_admission import streaming_shard_manifest

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        stream = _feed_stream(spark, stage, [
            docs.filter(F.col("doc_id") % 10 == r) for r in (0, 5)])
        streaming_shard_manifest(
            stream, docs.filter(F.col("doc_id") % 5 != 0),
            os.path.join(stage, "exp"), os.path.join(stage, "ckpt"),
            _MANIFEST_PER)

    return os.path.join(
        _snapshot_dir(sf_dir, "documents", "wde_exp_adm2", build), "exp")


@query(
    "export_manifest_stream_documents",
    f"""
    WITH init AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
    b1 AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
    b2 AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 5),
    u AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY md5('wde|' || CAST(doc_id AS VARCHAR)), doc_id)
               AS r
      FROM init
      UNION ALL
      SELECT doc_id,
             (SELECT COUNT(*) FROM init)
             + ROW_NUMBER() OVER (
                 ORDER BY md5('wde|' || CAST(doc_id AS VARCHAR)), doc_id)
      FROM b1
      UNION ALL
      SELECT doc_id,
             (SELECT COUNT(*) FROM init) + (SELECT COUNT(*) FROM b1)
             + ROW_NUMBER() OVER (
                 ORDER BY md5('wde|' || CAST(doc_id AS VARCHAR)), doc_id)
      FROM b2
    )
    SELECT doc_id, r AS global_rank,
           CAST((r - 1) // {_MANIFEST_PER} AS BIGINT) AS shard_id,
           CAST((r - 1) % {_MANIFEST_PER} AS BIGINT) AS seq_in_shard
    FROM u
    """,
)
def export_manifest_stream_documents(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """End-to-end STREAMING EXPORT MANIFEST
    (`streaming/export_admission.py` — training-data export as an
    ingest path): the %5!=0 slice is ranked as batch 0, the %5==0 slice
    streams in as two micro-batches, each assigned APPEND-ONLY shard
    coordinates continuing after the running total (the last partial
    shard fills across batch edges; shipped shards are never
    rewritten). Arrival-order sharding is batching-DEPENDENT by design,
    so the oracle states the exact batch decomposition (three hash-
    ordered ROW_NUMBER segments with count offsets) — every rank,
    shard, and in-shard position of the maintained ledger is
    hash-checked."""
    from .streaming.export_admission import read_manifest

    out_dir = _streaming_manifest_dir(spark, sf_dir)
    return read_manifest(spark, out_dir) \
        .select("doc_id", "global_rank", "shard_id", "seq_in_shard")


def _cluster_drift_oracle() -> str:
    from .queries import _IVF_ASSIGN, _IVF_UPDATE

    return """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    nv AS (SELECT vec_id,
                  list_transform(v, x -> x / sqrt(list_aggregate(
                      list_transform(v, y -> y*y), 'sum'))) AS nv
           FROM v),
    seed AS (
      SELECT rn - 1 AS cell, nv AS cv FROM (
        SELECT nv, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM nv) WHERE rn <= 16
    ),
    a1 AS (""" + _IVF_ASSIGN.format(cents="seed", qfilter="", rncond="= 1") + """),
    """ + _IVF_UPDATE.format(it=1, prev="seed") + """,
    a2 AS (""" + _IVF_ASSIGN.format(cents="c1f", qfilter="", rncond="= 1") + """),
    """ + _IVF_UPDATE.format(it=2, prev="c1f") + """,
    itemcell AS (""" + _IVF_ASSIGN.format(cents="c2f", qfilter="", rncond="= 1") + """),
    ca AS (SELECT CAST(cell AS VARCHAR) AS term, COUNT(*) AS cnt
           FROM itemcell WHERE vec_id % 2 = 0 GROUP BY cell),
    cb AS (SELECT CAST(cell AS VARCHAR) AS term, COUNT(*) AS cnt
           FROM itemcell WHERE vec_id % 2 = 1 GROUP BY cell),
    pa_t AS (SELECT term, cnt / (SELECT SUM(cnt) FROM ca) AS p FROM ca),
    pb_t AS (SELECT term, cnt / (SELECT SUM(cnt) FROM cb) AS p FROM cb),
    j AS (
      SELECT COALESCE(a.p, 0.0) AS pa, COALESCE(b.p, 0.0) AS pb
      FROM pa_t a FULL OUTER JOIN pb_t b USING (term)
    ),
    t AS (SELECT pa, pb, (pa + pb) / 2 AS m FROM j)
    SELECT
      ROUND(SUM(CASE WHEN pa > 0 THEN pa * ln(pa / m) ELSE 0.0 END
                + CASE WHEN pb > 0 THEN pb * ln(pb / m) ELSE 0.0 END) / 2,
            6) AS jsd,
      ROUND(SUM(ABS(pa - pb)), 6) AS l1,
      CAST(SUM(CASE WHEN pa > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_a,
      CAST(SUM(CASE WHEN pb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_b,
      CAST(SUM(CASE WHEN pa > 0 AND pb > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_terms_common
    FROM t
    """


@query("cluster_drift_embeddings", _cluster_drift_oracle())
def cluster_drift_embeddings(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """PER-CLUSTER drift — "did the new admissions shift WHERE the
    corpus lives in embedding space?", the semantic companion to the
    term-level `corpus_drift_documents`: both snapshot halves (vec_id
    parity stands in for two ledger versions) are assigned to the SAME
    frozen k-means cells, and the two CELL-POPULATION distributions are
    compared by JSD/L1 (`drift.categorical_distribution` +
    `corpus_divergence` — the divergence operator is distribution-
    generic, this instantiates it over cluster ids instead of terms).
    Cell populations are 16-row tables whatever the corpus size; the
    oracle nests the unrolled Lloyd loop and recomputes the divergence
    term-by-term, so the VALUE is hash-checked."""
    from .operators import drift as DR

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    assigned, _ = _kmeans_assigned(spark, emb)
    return DR.corpus_divergence(
        DR.categorical_distribution(
            assigned.filter(F.col("vec_id") % 2 == 0), "cluster"),
        DR.categorical_distribution(
            assigned.filter(F.col("vec_id") % 2 == 1), "cluster"),
    )


def _pca_init_sql(seed: str, p: int, name: str, dim: int) -> str:
    """CTE pair deriving normalized init direction `{name}` (d, w) from
    md5 hyperplane `p` of `seed` — the `similarity.hyperplanes`
    derivation the LSH oracles already replay."""
    return f"""{name}0 AS (
      SELECT CAST(i + (j-1)//8 AS INT) AS d,
             SUM(v * power(16, 7 - ((j-1) % 8))) AS u
      FROM (
        SELECT i, j,
               strpos('0123456789abcdef',
                      substr(md5('{seed}|{p}|' || i), CAST(j AS INT), 1))
                 - 1 AS v
        FROM unnest(range(0, {dim}, 4)) ti(i), unnest(range(1, 33)) tj(j)
      ) GROUP BY 1
    ),
    {name}r AS (
      SELECT d,
        CAST(CASE WHEN u >= 2147483648 THEN u - 4294967296 ELSE u END
             AS DOUBLE) / 2147483648 AS w
      FROM {name}0
    ),
    {name} AS (SELECT d, w / sqrt((SELECT SUM(w*w) FROM {name}r)) AS w
               FROM {name}r)"""


def _pca_chain_sql(cd: str, pfx: str, v0: str,
                   iters: int) -> tuple[str, str]:
    """(stage CTEs, final-vector CTE name): the power iteration over
    centered long form `cd` unrolled to `iters` stages — per stage one
    per-vector dot and one per-dimension weighted sum, normalized."""
    stages = []
    prev = v0
    for i in range(1, iters + 1):
        stages.append(f"""dot{pfx}{i} AS MATERIALIZED (
      SELECT c.vec_id, SUM(c.e * {prev}.w) AS t
      FROM {cd} c JOIN {prev} ON {prev}.d = c.d GROUP BY 1
    ),
    w{pfx}{i} AS MATERIALIZED (
      SELECT c.d, SUM(c.e * dot{pfx}{i}.t) AS w
      FROM {cd} c JOIN dot{pfx}{i} USING (vec_id) GROUP BY 1
    ),
    v{pfx}{i} AS (SELECT d, w / sqrt((SELECT SUM(w*w) FROM w{pfx}{i}))
                    AS w
                  FROM w{pfx}{i})""")
        prev = f"v{pfx}{i}"
    return ",\n    ".join(stages), prev


_PCA_BASE_CTES = """x AS (SELECT vec_id,
                 list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
          FROM embeddings),
    xd AS (SELECT vec_id, CAST(d AS INT) AS d, v[CAST(d AS INT)+1] AS e
           FROM x, unnest(range(0, 64)) t(d)),
    mu AS (SELECT d, AVG(e) AS m FROM xd GROUP BY d),
    cd AS MATERIALIZED (
      SELECT xd.vec_id, xd.d, xd.e - mu.m AS e FROM xd JOIN mu USING (d)
    )"""


def _pca_oracle() -> str:
    """SQL twin of `pca.power_iteration_pc1` + `pca_project`, the power
    iteration UNROLLED to 3 stages (the k-means/BPE pinned-loop
    discipline): md5-derived init direction, per-dimension mean, then
    per stage one per-vector dot and one per-dimension weighted sum,
    normalized. cd (the centered long form) is MATERIALIZED because
    every stage reads it twice."""
    chain, vfin = _pca_chain_sql("cd", "", "v0", 3)
    return f"""
    WITH {_pca_init_sql("pca", 0, "v0", 64)},
    {_PCA_BASE_CTES},
    {chain}
    SELECT c.vec_id, ROUND(SUM(c.e * {vfin}.w), 6) AS pc1_score
    FROM cd c JOIN {vfin} ON {vfin}.d = c.d GROUP BY 1
    """


def _pca2_oracle() -> str:
    """SQL twin of `pca.power_iteration_components` (2 components) +
    `pca_project_components`: the PC1 chain, then DEFLATION (cd2 = cd −
    t1·v1, one join on the final PC1 scores), then the same unrolled
    chain again from md5 hyperplane 1 of the seed family."""
    chain_a, va = _pca_chain_sql("cd", "a", "v0a", 3)
    chain_b, vb = _pca_chain_sql("cd2", "b", "v0b", 3)
    return f"""
    WITH {_pca_init_sql("pca", 0, "v0a", 64)},
    {_pca_init_sql("pca", 1, "v0b", 64)},
    {_PCA_BASE_CTES},
    {chain_a},
    t1 AS MATERIALIZED (
      SELECT c.vec_id, SUM(c.e * {va}.w) AS t
      FROM cd c JOIN {va} ON {va}.d = c.d GROUP BY 1
    ),
    cd2 AS MATERIALIZED (
      SELECT c.vec_id, c.d, c.e - t1.t * {va}.w AS e
      FROM cd c JOIN t1 USING (vec_id) JOIN {va} ON {va}.d = c.d
    ),
    {chain_b},
    t2 AS (
      SELECT c.vec_id, SUM(c.e * {vb}.w) AS t
      FROM cd2 c JOIN {vb} ON {vb}.d = c.d GROUP BY 1
    )
    SELECT t1.vec_id, ROUND(t1.t, 6) AS pc1_score,
           ROUND(t2.t, 6) AS pc2_score
    FROM t1 JOIN t2 USING (vec_id)
    """


@query("pca_scores_embeddings", _pca_oracle())
def pca_scores_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-principal-component scores of the embedding cloud
    (`operators/pca.power_iteration_pc1` — distributed PCA by power
    iteration, 3 pinned iterations, md5-seeded init): every vector's
    coordinate along the corpus's dominant variance direction, the
    standard embedding diagnostic (extreme |score| = dominant-direction
    outliers; score quantiles = variance-balanced shards). Scale shape:
    each iteration is TWO aggregation passes of pure column arithmetic
    (a per-row dot, then 64 per-dimension sums in one agg row) — the
    only driver traffic is the 64-double iterate per pass, the IVF
    centroid pattern; no explode, no matrix materialization, no Python
    on the corpus axis. The oracle unrolls the iteration in SQL from
    the same md5 init, so every per-vector score is hash-checked —
    model fitting AND application."""
    from .operators import pca as P

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    mu, v = P.power_iteration_pc1(emb)
    return P.pca_project(emb, mu, v)


_PCA_SHARDS = 16


@query(
    "pca_balanced_shards_embeddings",
    f"""
    WITH scores AS ({_pca_oracle()})
    SELECT vec_id, pc1_score,
           CAST(NTILE({_PCA_SHARDS}) OVER (ORDER BY pc1_score, vec_id)
                AS INT) AS shard
    FROM scores
    """,
)
def pca_balanced_shards_embeddings(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """VARIANCE-BALANCED sharding — the layout `pca_scores_embeddings`'
    docstring promises: equal-count shards cut along the corpus's
    dominant variance direction, so each shard spans the same slice of
    the embedding distribution instead of a random mix (downstream
    per-shard models/statistics see comparable supports, and
    nearest-neighbor work inside a shard stays local in PC1). NTILE over
    the (rounded score, id) total order — one row per vector, no
    payload, the corpus-stats sort class (`lm_quality_bands`' note); at
    extreme n the same cut comes from approx-quantile boundaries
    (bounded driver state) + a filter-assign pass, which the
    deterministic key makes exact. The oracle nests the unrolled power
    iteration and replays the NTILE, so every shard assignment is
    hash-checked."""
    from .operators import pca as P

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    mu, v = P.power_iteration_pc1(emb)
    w = Window.orderBy("pc1_score", "vec_id")
    return (
        P.pca_project(emb, mu, v)
        .select("vec_id", "pc1_score",
                F.ntile(_PCA_SHARDS).over(w).alias("shard"))
    )


@query(
    "knn_label_propagation_embeddings",
    """
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    seed AS (SELECT vec_id AS item_id, label, v AS iv FROM v
             WHERE vec_id % 7 = 0),
    q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id % 7 <> 0),
    scored AS (
      SELECT q.query_id, s.item_id, s.label,
             ROUND(
               list_aggregate(list_transform(generate_series(1, 64),
                                             j -> qv[j] * s.iv[j]), 'sum')
               / (sqrt(list_aggregate(list_transform(qv, x -> x * x),
                                      'sum'))
                  * sqrt(list_aggregate(list_transform(s.iv, x -> x * x),
                                        'sum'))), 6) AS cos_sim
      FROM q CROSS JOIN seed s WHERE s.item_id <> q.query_id
    ),
    topk AS (
      SELECT query_id, label FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id
          ORDER BY cos_sim DESC, item_id ASC) AS rnk
        FROM scored WHERE cos_sim IS NOT NULL
      ) WHERE rnk <= 5
    ),
    votes AS (
      SELECT query_id, label, COUNT(*) AS votes
      FROM topk GROUP BY 1, 2
    )
    SELECT query_id AS vec_id, label AS pred_label,
           CAST(votes AS BIGINT) AS votes
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY votes DESC, label ASC) AS r
      FROM votes
    ) WHERE r = 1
    """,
)
def knn_label_propagation_embeddings(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Semi-supervised kNN LABEL PROPAGATION
    (`similarity.knn_label_propagation`): the 1-in-7 slice plays the
    LABELED SEED (its `label` column finally carries semantics), every
    remaining vector takes the majority label of its 5 exact cosine
    neighbors in the seed — weak supervision's nearest-neighbor
    baseline, the auto-labeling pass a curation pipeline runs before a
    classifier exists. Scale shape is the TRANSPOSE of `cosine_topk`:
    the model-sized seed broadcasts, the corpus streams once with
    row-local scoring, and only the top-k window + vote rollup shuffle
    on the corpus id (past broadcast range the candidate tier swaps to
    the banded-LSH/ADC paths). Majority = votes desc then smallest
    label — a total order, so the oracle replays scoring, ranking, and
    the vote argmax and the ASSIGNMENT ITSELF is hash-checked."""
    from .operators import similarity as SIM2

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return SIM2.knn_label_propagation(
        emb.filter(F.col("vec_id") % 7 == 0),
        emb.filter(F.col("vec_id") % 7 != 0), k=5, dim=64)


def _pca_moments_oracle() -> str:
    """SQL twin of the MOMENT-STATE path (`pca.second_moments` →
    `merge_moments` → `pc1_from_moments` → `pca_project`): raw second
    moments from one pass (the self-join long form — what the Arrow
    kernel's X.T@X computes per partition), covariance by the same
    ΣxxT/n − mu·muT route the driver takes, then the power iteration run
    ON THE MATRIX (64-row matvec per stage). Because moment addition is
    associative, the oracle's single-pass sums equal the Spark side's
    per-batch-then-merged sums — the merge≡full equivalence IS what the
    hash check proves."""
    stages = []
    prev = "v0c"
    for i in range(1, 4):
        stages.append(f"""mvc{i} AS (
      SELECT cv.i AS d, SUM(cv.m * {prev}.w) AS w
      FROM cv JOIN {prev} ON {prev}.d = cv.j GROUP BY 1
    ),
    vc{i} AS (SELECT d, w / sqrt((SELECT SUM(w*w) FROM mvc{i})) AS w
              FROM mvc{i})""")
        prev = f"vc{i}"
    chain = ",\n    ".join(stages)
    return f"""
    WITH {_pca_init_sql("pcacov", 0, "v0c", 64)},
    x AS (SELECT vec_id,
                 list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
          FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) = 64
            AND len(list_filter(embedding,
                    e -> e IS NULL
                         OR NOT isfinite(CAST(e AS DOUBLE)))) = 0),
    xd AS MATERIALIZED (
      SELECT vec_id, CAST(d AS INT) AS d, v[CAST(d AS INT)+1] AS e
      FROM x, unnest(range(0, 64)) t(d)),
    nn AS (SELECT COUNT(*) AS n FROM x),
    mu AS (SELECT d, SUM(e) / (SELECT n FROM nn) AS m FROM xd GROUP BY d),
    rm AS MATERIALIZED (
      SELECT a.d AS i, b.d AS j, SUM(a.e * b.e) AS ss
      FROM xd a JOIN xd b USING (vec_id) GROUP BY 1, 2),
    cv AS MATERIALIZED (
      SELECT i, j, ss / (SELECT n FROM nn) - mi.m * mj.m AS m
      FROM rm JOIN mu mi ON mi.d = i JOIN mu mj ON mj.d = j),
    {chain},
    cd AS (SELECT xd.vec_id, xd.d, xd.e - mu.m AS e
           FROM xd JOIN mu USING (d))
    SELECT c.vec_id, ROUND(SUM(c.e * {prev}.w), 6) AS pc1_cov_score
    FROM cd c JOIN {prev} ON {prev}.d = c.d GROUP BY 1
    """


@query("pca_incremental_moments_embeddings", _pca_moments_oracle())
def pca_incremental_moments_embeddings(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """STREAMING-SHAPED PCA — the model derived from MERGEABLE MOMENT
    STATE instead of data passes (`pca.second_moments` /
    `merge_moments` / `pc1_from_moments`): each corpus half accumulates
    (n, Σx, ΣxxT) per Arrow partition (numpy X.T@X — the declared
    kernel), the halves MERGE by plain addition (associative, exactly
    like the engine's sketches — this is what an incremental maintainer
    persists per corpus version), and PC1 comes from 3 power iterations
    of the 64×64 covariance ON THE DRIVER — micro-work once the state
    exists, no further data pass. The query deliberately splits the
    corpus 2-ways and merges, and the oracle computes the single-pass
    moments flat — so the hash check proves merge ≡ full, the property
    that makes the state maintainable. Scores are each vector's
    coordinate on the covariance PC1 (`pc1_cov_score` — the
    moment-route twin of `pca_scores_embeddings`' data-pass
    estimate)."""
    from .operators import pca as P

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    # finiteness is part of the validity contract and MIRRORED in the
    # oracle's x CTE — second_moments also skips non-finite rows inside
    # the Arrow kernel, so without this filter here the projection input
    # and the oracle would keep rows the moment state dropped
    valid = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
        & ~F.exists("embedding",
                    lambda e: e.isNull() | F.isnan(e)
                    | (F.abs(e) == F.lit(float("inf")))))
    n, s, m = P.merge_moments(
        P.second_moments(valid.filter(F.col("vec_id") % 2 == 0)),
        P.second_moments(valid.filter(F.col("vec_id") % 2 != 0)))
    mu, v = P.pc1_from_moments(n, s, m)
    return P.pca_project(valid, mu, v, score_col="pc1_cov_score")


@query("pca2_scores_embeddings", _pca2_oracle())
def pca2_scores_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-2 principal components by DEFLATED power iteration
    (`pca.power_iteration_components`): PC2 runs the same two-pass
    iteration on the residual cloud x − μ − ((x−μ)·v₁)v₁, with v₁ folded
    in as literals — deflation costs column arithmetic, not an extra
    materialized dataset. The (pc1, pc2) plane is the standard corpus
    MAP (cluster structure, drift between snapshots, outliers in two
    directions instead of one); per-component driver state stays one
    64-double iterate per pass. The oracle unrolls BOTH chains plus the
    deflation join from the same md5 init family, so every coordinate
    pair is hash-checked — trainer, deflation, and projection."""
    from .operators import pca as P

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    mu, comps = P.power_iteration_components(emb)
    return P.pca_project_components(emb, mu, comps)


_PACK_SEQ_LEN = 128


@query(
    "packed_sequences_documents",
    f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tok,
             md5('pack|' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY hx, doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tok
                  AS BIGINT) AS st
      FROM t
    ),
    e AS (SELECT doc_id, st, st + n_tok AS en FROM c WHERE n_tok > 0)
    SELECT CAST(wi AS BIGINT) AS seq_id, doc_id,
           CAST(GREATEST(st, wi * {_PACK_SEQ_LEN})
                - wi * {_PACK_SEQ_LEN} AS BIGINT) AS start_in_seq,
           CAST(LEAST(en, (wi + 1) * {_PACK_SEQ_LEN})
                - GREATEST(st, wi * {_PACK_SEQ_LEN}) AS BIGINT) AS n_tokens
    FROM e, unnest(range(st // {_PACK_SEQ_LEN},
                         (en - 1) // {_PACK_SEQ_LEN} + 1)) u(wi)
    """,
)
def packed_sequences_documents(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (`layout.pack_stream` — the
    GPT-style pre-training batch layout): all documents concatenate into
    one deterministic hash-ordered token stream cut into fixed 128-token
    context windows, documents spanning window boundaries (zero tail
    padding); returns the (seq_id, doc_id, start_in_seq, n_tokens)
    manifest a tokenizing exporter executes. The Spark stream offsets
    come from the two-phase `global_prefix_sum` (bucket totals →
    broadcast offsets → per-bucket running sums — no single-partition
    window); the oracle states the same stream with a naive global
    running sum, so every window assignment is hash-checked and the
    prefix-sum decomposition is proven exact."""
    from .functions.strings import tokens as _tokens
    from .operators import layout as L

    d = load_table(spark, sf_dir, "documents", spread=True)
    t = d.select("doc_id", F.size(_tokens(F.col("text"))).alias("n_tok"))
    return L.pack_stream(t, seq_len=_PACK_SEQ_LEN)


@query(
    "ffd_packed_documents",
    f"""
    WITH RECURSIVE
    t AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tok,
             CAST('0x' || substr(md5('ffd|' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT) % 8 AS bucket
      FROM documents
    ),
    d AS (
      SELECT bucket, doc_id, n_tok,
             ROW_NUMBER() OVER (PARTITION BY bucket
                                ORDER BY n_tok DESC, doc_id) AS rn
      FROM t WHERE n_tok > 0
    ),
    ffd AS (
      SELECT bucket, 0::BIGINT AS rn,
             CAST([] AS BIGINT[]) AS fills, CAST([] AS BIGINT[]) AS bins
      FROM (SELECT DISTINCT bucket FROM d)
      UNION ALL
      SELECT f.bucket, f.rn + 1,
             CASE WHEN NULLIF(list_position(list_transform(f.fills,
                    y -> y + x.n_tok <= {_PACK_SEQ_LEN}), true), 0) IS NULL
                  THEN list_append(f.fills, x.n_tok)
                  ELSE f.fills[1:NULLIF(list_position(list_transform(f.fills,
                         y -> y + x.n_tok <= {_PACK_SEQ_LEN}), true), 0)-1]
                       || [f.fills[NULLIF(list_position(list_transform(f.fills,
                            y -> y + x.n_tok <= {_PACK_SEQ_LEN}), true), 0)]
                           + x.n_tok]
                       || f.fills[NULLIF(list_position(list_transform(f.fills,
                            y -> y + x.n_tok <= {_PACK_SEQ_LEN}), true), 0)+1:]
             END,
             list_append(f.bins, COALESCE(NULLIF(list_position(
               list_transform(f.fills,
                 y -> y + x.n_tok <= {_PACK_SEQ_LEN}), true), 0),
               len(f.fills) + 1))
      FROM ffd f JOIN d x ON x.bucket = f.bucket AND x.rn = f.rn + 1
    ),
    final AS (
      SELECT f.bucket AS fbucket, f.bins AS fbins FROM ffd f
      JOIN (SELECT bucket, MAX(rn) AS mx FROM ffd GROUP BY bucket) m
        ON m.bucket = f.bucket AND m.mx = f.rn
    )
    SELECT d.doc_id, d.bucket, d.n_tok,
           CAST(fbins[CAST(d.rn AS INT)] AS BIGINT) AS bin_id
    FROM d JOIN final fi ON fi.fbucket = d.bucket
    """,
)
def ffd_packed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing sequence packing (`layout.ffd_pack`): whole
    documents bin-packed into 128-token bins — no doc ever splits across
    sequences, the quality upgrade over `packed_sequences_documents`'s
    concat-and-chunk. Deterministic partition-local FFD: salted-md5
    buckets, per-bucket (n_tok desc, doc_id) fold in a grouped Arrow
    kernel. The oracle replays the fold EXACTLY with a DuckDB recursive
    CTE carrying the bin-fill list as recursion state (list_position over
    a list_transform is first-fit; list slicing is the in-place update),
    so every doc→bin assignment is hash-checked — the strongest form of
    'deterministic so it stays oracle-able'."""
    from .functions.strings import tokens as _tokens
    from .operators import layout as L

    d = load_table(spark, sf_dir, "documents", spread=True)
    t = d.select("doc_id", F.size(_tokens(F.col("text"))).alias("n_tok"))
    return L.ffd_pack(t, seq_len=_PACK_SEQ_LEN, n_buckets=8)


def _packed_bpe_oracle(k: int, seq_len: int) -> str:
    """End-to-end SQL twin of the TOKENIZING EXPORTER: BPE training
    (`_bpe_train_ctes`, k unrolled stages) → merge REPLAY over the
    distinct ENCODING pretokens (es0..es{k}: the same replace-fold the
    training stages use, applied to `bpe_token_counts`'s PRETOKEN_RE
    vocabulary — sequential rank-order replay equals the encoder's
    lowest-rank-first loop for a consistently learned merge list, since a
    later merge can never create an earlier merge's pair) → per-doc
    BPE-exact token counts → the naive-running-sum restatement of
    `pack_stream`'s two-phase prefix sum. One statement, so the packed
    manifest a tokenizer-exact exporter would execute is hash-checked
    end-to-end from raw text."""
    s = _BPE_SEP
    enc = []
    for i in range(1, k + 1):
        enc.append(f"""es{i} AS MATERIALIZED (
      SELECT w, replace(seg, '{s}' || a || '{s}{s}' || b || '{s}',
                        '{s}' || a || b || '{s}') AS seg
      FROM es{i - 1}, b{i}
    )""")
    enc_chain = ",\n    ".join(enc)
    return f"""
    WITH {_bpe_train_ctes(k)},
    pre AS MATERIALIZED (
      SELECT doc_id,
             unnest(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\w\\s]'))
               AS w
      FROM documents
    ),
    pdw AS MATERIALIZED (
      SELECT doc_id, w, COUNT(*) AS n_w FROM pre GROUP BY 1, 2
    ),
    es0 AS MATERIALIZED (
      SELECT w, regexp_replace(w, '(.)', '{s}\\1{s}', 'g') AS seg
      FROM (SELECT DISTINCT w FROM pdw)
    ),
    {enc_chain},
    wlen AS MATERIALIZED (
      SELECT w, len(string_split(trim(seg, '{s}'), '{s}{s}')) AS n_sym
      FROM es{k}
    ),
    cnt AS (
      SELECT doc_id, CAST(SUM(n_w * n_sym) AS BIGINT) AS n_tok
      FROM pdw JOIN wlen USING (w) GROUP BY doc_id
    ),
    t AS (
      SELECT doc_id, n_tok, md5('pack|' || CAST(doc_id AS VARCHAR)) AS hx
      FROM cnt
    ),
    c AS (
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY hx, doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tok
                  AS BIGINT) AS st
      FROM t
    ),
    e AS (SELECT doc_id, st, st + n_tok AS en FROM c WHERE n_tok > 0)
    SELECT CAST(wi AS BIGINT) AS seq_id, doc_id,
           CAST(GREATEST(st, wi * {seq_len}) - wi * {seq_len} AS BIGINT)
             AS start_in_seq,
           CAST(LEAST(en, (wi + 1) * {seq_len})
                - GREATEST(st, wi * {seq_len}) AS BIGINT) AS n_tokens
    FROM e, unnest(range(st // {seq_len}, (en - 1) // {seq_len} + 1)) u(wi)
    """


@query("packed_bpe_sequences_documents",
       _packed_bpe_oracle(_BPE_MERGES_K, _PACK_SEQ_LEN))
def packed_bpe_sequences_documents(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The TOKENIZING EXPORTER the packing manifest promises
    (`layout.pack_stream`'s docstring), composed end-to-end: train the
    BPE merge table on the corpus (`bpe.learn_bpe_merges` — one argmax
    row to the driver per merge), count each document's BPE-EXACT token
    length under that vocabulary (`bpe.bpe_token_counts` — Python only
    on DISTINCT pretokens, Heaps'-law sized), and cut the hash-ordered
    token stream into fixed 128-token training windows
    (`pack_stream`'s two-phase prefix sum — no single-partition
    window). The manifest's offsets are now in REAL tokenizer units
    rather than whitespace counts, so a downstream trainer's sequences
    are exactly full. The oracle replays training, merge application,
    counting, and the packing running sum in ONE statement, so the
    manifest is hash-checked from raw text (`_packed_bpe_oracle`).
    Empty/whitespace-only docs carry no stream mass and are dropped on
    both sides."""
    from .operators import bpe as B
    from .operators import layout as L

    docs = load_table(spark, sf_dir, "documents", spread=True)
    merges = B.learn_bpe_merges(docs, num_merges=_BPE_MERGES_K)
    counts = B.bpe_token_counts(docs.select("doc_id", "text"), merges)
    t = counts.select("doc_id", F.col("bpe_tokens").alias("n_tok"))
    return L.pack_stream(t, seq_len=_PACK_SEQ_LEN)


# ---------------------------------------------------------------------------
# custom stateful streaming operator — streaming/stateful.sessionize_stateful
# ---------------------------------------------------------------------------

def _streaming_sessions_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) the CLOSED-SESSION ledger of the
    applyInPandasWithState sessionizer run over the events table as two
    chronological micro-batches, and return its directory."""
    from .streaming.stateful import sessionize_stateful

    def build(stage: str) -> None:
        ev = load_table(spark, sf_dir, "events") \
            .select("ts", "user_id", F.col("value").cast("double")
                    .alias("value"))
        # two chronological halves, split DISTRIBUTEDLY: the sessionizer's
        # closed-session ledger is invariant to WHERE a chronological split
        # lands (state carries across micro-batches; watermark 0), so any
        # ts boundary is a valid split. Take the median ts as ONE scalar
        # aggregate — the only thing that reaches the driver — and write
        # each half with a plain filter + write. No collect(), no global
        # window: this bootstrap stays O(1) driver memory at any corpus
        # size.
        split_ts = ev.agg(
            F.expr("approx_percentile(ts, 0.5, 10000)")
        ).first()[0]
        cut = F.lit(split_ts).cast(ev.schema["ts"].dataType.simpleString())
        stream = _feed_stream(spark, stage, [
            ev.filter(F.col("ts") <= cut), ev.filter(F.col("ts") > cut)])
        q = (
            sessionize_stateful(stream, watermark="0 seconds")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", os.path.join(stage, "sessions_stream"))
            .option("checkpointLocation", os.path.join(stage, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        # the streaming sink's _spark_metadata log records ABSOLUTE staged
        # paths, which the publishing rename would orphan — compact the
        # ledger to a plain parquet directory first (also what a
        # downstream batch consumer wants: no metadata-log coupling)
        spark.read.parquet(os.path.join(stage, "sessions_stream")) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(stage, "sessions"))
        shutil.rmtree(os.path.join(stage, "sessions_stream"),
                      ignore_errors=True)

    return os.path.join(
        _snapshot_dir(sf_dir, "events", "wde_sess_adm", build), "sessions")


@query(
    "stateful_sessions_events",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                          > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ),
    agg AS (
      SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             ROUND(SUM(value), 4) AS sum_value
      FROM sessions GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(ts) AS m FROM events),
    lastsess AS (SELECT user_id, MAX(sid) AS last_id FROM agg
                 GROUP BY user_id)
    SELECT a.user_id,
           strftime(a.st, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(a.en, '%Y-%m-%d %H:%M:%S') AS session_end,
           a.n_events, a.sum_value
    FROM agg a JOIN lastsess l USING (user_id), mx
    WHERE a.sid < l.last_id
       OR epoch_ms(mx.m) > epoch_ms(a.en) + 1800 * 1000
    """,
)
def stateful_sessions_events(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL STREAMING OPERATOR driver-checked end-to-end
    (`streaming/stateful.sessionize_stateful` — applyInPandasWithState
    per-user session state with event-time timeout): the events table
    streams in as two chronological micro-batches; sessions close
    in-stream when a later event lapses the 30-min gap, and remaining
    open sessions flush on event-time TIMEOUT when the final watermark
    passes end+gap. The emitted set is batching-invariant and exactly
    SQL-expressible — every non-final session per user, plus final
    sessions whose end+gap the global max event time strictly exceeds
    (Spark's watermark>timeout semantics) — so the oracle states
    gap-island sessionization with that closure predicate and the
    driver hash-checks the LEDGER the stateful operator actually
    wrote."""
    sess_dir = _streaming_sessions_dir(spark, sf_dir)
    out = spark.read.parquet(sess_dir)
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss")
        .alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss")
        .alias("session_end"),
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


@query(
    "curation_pipeline_documents",
    f"""
    WITH RECURSIVE
    {_lm_score_cte_block("(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)", "documents", "cp")},
    ctok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    csh AS (
      SELECT doc_id, unnest(list_distinct({_shingle_sql(3, 'toks')})) AS sh
      FROM ctok
    ),
    cbench AS (SELECT DISTINCT sh FROM csh WHERE doc_id % 17 = 0),
    chits AS (
      SELECT s.doc_id, COUNT(*) AS n_shared
      FROM csh s JOIN cbench b ON s.sh = b.sh
      GROUP BY s.doc_id
    ),
    gated AS MATERIALIZED (
      SELECT d.doc_id, d.text FROM documents d
      JOIN agg_cp ON agg_cp.doc_id = d.doc_id
      LEFT JOIN chits h ON h.doc_id = d.doc_id
      WHERE ROUND(agg_cp.al, 6) >= {_LM_GATE_CUTOFF}
        AND COALESCE(h.n_shared, 0) = 0
    ),
    {_dedup_kept_cte_block('gated', 'pp', max_bucket=64)}
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(lower(k.text)), '\\s+')))
                AS BIGINT) AS n_tokens
    FROM kept_pp k JOIN documents d ON d.doc_id = k.doc_id
    GROUP BY d.source
    """,
)
def curation_pipeline_documents(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The END-TO-END CURATION PIPELINE as one declarative plan — the
    composition a user of this engine actually ships, exercising four
    oracled families in sequence: (1) CCNet bigram-LM fluency gate
    (frozen LM trained on the doc_id-even half, cutoff = the LM-gated
    admission's), (2) benchmark decontamination (docs sharing any
    3-shingle with the %17==0 benchmark stand-in drop — including the
    benchmark docs themselves), (3) full `dedup_corpus` over the
    survivors (exact collapse → LSH-verified near-dup pairs →
    connected components → min-id representative) at the PRODUCTION
    default hot-bucket cap of 64 — the uncapped form would be O(B²)
    pairs on one boilerplate bucket at scale; the oracle mirrors the
    cap with the same HAVING-count idiom — (4) the per-source
    volume rollup a mixture designer reads (docs + whitespace tokens of
    the final corpus). Catalyst sees ONE plan — the gates are joins +
    filters feeding the dedup tiers, so filter pushdown and broadcast
    selection span stage boundaries a hand-rolled pipeline would
    materialize. The oracle nests the LM CTE block, the shingle-overlap
    CTEs, and the flat dedup fixpoint block, so the FINAL CORPUS
    ROLLUP is hash-checked end-to-end."""
    from .operators import curation as CU
    from .operators import dedup as D
    from .operators import lm_score as LM
    from .functions.strings import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents", spread=True)
    lm = LM.train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    scores = LM.lm_quality(docs, lm).select("doc_id", "avg_logp")
    cont = CU.decontaminate(docs, docs.filter(F.col("doc_id") % 17 == 0)) \
        .select("doc_id", "contaminated")
    from pyspark import StorageLevel

    # gated embeds the LM scoring and decontamination joins and feeds
    # BOTH the dedup tiers and the final source rollup — persist so the
    # gate pipeline runs once (r12 §2 shape)
    gated = (
        docs.join(scores, "doc_id").join(cont, "doc_id")
        .filter((F.col("avg_logp") >= _LM_GATE_CUTOFF)
                & ~F.col("contaminated"))
        .select("doc_id", "text", "source")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    kept = D.dedup_corpus(gated.select("doc_id", "text"))
    return (
        kept.join(gated.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.size(_tokens(F.col("text")))).cast("long")
             .alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# streaming maintained FFD manifests — streaming/pack_admission.py
# ---------------------------------------------------------------------------

def _streaming_ffd_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) the sealed-bin FFD manifest of the
    documents table streamed in as three arrival batches (doc_id % 3),
    and return its pack directory. The feed's spaced mtimes make
    batch_no == doc_id % 3 deterministic."""
    from .functions.strings import tokens as _tokens
    from .streaming.pack_admission import streaming_ffd_manifest

    def build(stage: str) -> None:
        t = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.size(_tokens(F.col("text"))).cast("long")
            .alias("n_tok"))
        stream = _feed_stream(spark, stage, [
            t.filter(F.col("doc_id") % 3 == i) for i in range(3)])
        streaming_ffd_manifest(
            stream, os.path.join(stage, "pack"), os.path.join(stage, "ckpt"),
            seq_len=_PACK_SEQ_LEN, n_buckets=8)

    return os.path.join(
        _snapshot_dir(sf_dir, "documents", "wde_ffd_adm2", build), "pack")


@query(
    "streaming_ffd_manifest_documents",
    f"""
    WITH RECURSIVE
    t AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tok,
             CAST('0x' || substr(md5('ffd|' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT) % 8 AS bucket,
             doc_id % 3 AS batch_no
      FROM documents
    ),
    d AS (
      SELECT bucket, batch_no, doc_id, n_tok,
             ROW_NUMBER() OVER (PARTITION BY bucket, batch_no
                                ORDER BY n_tok DESC, doc_id) AS rn
      FROM t WHERE n_tok > 0
    ),
    ffd AS (
      SELECT bucket, batch_no, 0::BIGINT AS rn,
             CAST([] AS BIGINT[]) AS fills, CAST([] AS BIGINT[]) AS bins
      FROM (SELECT DISTINCT bucket, batch_no FROM d)
      UNION ALL
      SELECT f.bucket, f.batch_no, f.rn + 1,
             CASE WHEN NULLIF(list_position(list_transform(f.fills,
                    y -> y + x.n_tok <= {_PACK_SEQ_LEN}), true), 0) IS NULL
                  THEN list_append(f.fills, x.n_tok)
                  ELSE f.fills[1:NULLIF(list_position(list_transform(f.fills,
                         y -> y + x.n_tok <= {_PACK_SEQ_LEN}), true), 0)-1]
                       || [f.fills[NULLIF(list_position(list_transform(f.fills,
                            y -> y + x.n_tok <= {_PACK_SEQ_LEN}), true), 0)]
                           + x.n_tok]
                       || f.fills[NULLIF(list_position(list_transform(f.fills,
                            y -> y + x.n_tok <= {_PACK_SEQ_LEN}), true), 0)+1:]
             END,
             list_append(f.bins, COALESCE(NULLIF(list_position(
               list_transform(f.fills,
                 y -> y + x.n_tok <= {_PACK_SEQ_LEN}), true), 0),
               len(f.fills) + 1))
      FROM ffd f JOIN d x ON x.bucket = f.bucket
                         AND x.batch_no = f.batch_no AND x.rn = f.rn + 1
    ),
    final AS (
      SELECT f.bucket AS fb, f.batch_no AS fn, f.bins AS fbins FROM ffd f
      JOIN (SELECT bucket, batch_no, MAX(rn) AS mx FROM ffd
            GROUP BY 1, 2) m
        ON m.bucket = f.bucket AND m.batch_no = f.batch_no AND m.mx = f.rn
    ),
    loc AS (
      SELECT d.doc_id, d.bucket, d.batch_no, d.n_tok,
             CAST(fbins[CAST(d.rn AS INT)] AS BIGINT) AS bin_local
      FROM d JOIN final fi ON fi.fb = d.bucket AND fi.fn = d.batch_no
    ),
    batchbins AS (
      SELECT bucket, batch_no, MAX(bin_local) AS nb FROM loc GROUP BY 1, 2
    ),
    offs AS (
      SELECT bucket, batch_no,
             COALESCE(SUM(nb) OVER (PARTITION BY bucket ORDER BY batch_no
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS off
      FROM batchbins
    )
    SELECT l.doc_id, l.bucket, l.n_tok,
           CAST(l.bin_local + o.off AS BIGINT) AS bin_id,
           CAST(l.batch_no AS BIGINT) AS batch_no
    FROM loc l JOIN offs o ON o.bucket = l.bucket
                          AND o.batch_no = l.batch_no
    """,
)
def streaming_ffd_manifest_documents(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """STREAMING-MAINTAINED FFD packing manifest
    (`streaming/pack_admission.py`): the documents table arrives as three
    micro-batches; each runs bucket-local first-fit-decreasing over its
    OWN docs and SEALS its bins — bin ids continue past the per-bucket
    `bins_so_far` ledger (one metadata base per batch), and bins already
    committed are never rewritten, the same append-only discipline as
    `streaming_export_manifest`'s shards. The oracle replays the fold
    EXACTLY: the recursive-CTE FFD per (bucket, batch), then a window
    sum of earlier batches' bin counts as the offset — so every
    doc→(bucket, bin, batch) assignment of the maintained ledger is
    hash-checked, sealing semantics included (a late small doc must NOT
    back-fill an earlier batch's bin)."""
    from .streaming.pack_admission import read_pack_manifest

    return read_pack_manifest(spark, _streaming_ffd_dir(spark, sf_dir))


@query(
    "jpeg_gray_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS L,
             CAST((octet_length(encode(text)) % 6 + 2) * 8 AS INT) AS w,
             CAST((octet_length(encode(text)) % 4 + 2) * 8 AS INT) AS h
      FROM documents),
    px AS (
      SELECT media_id, w, h, CAST(p AS BIGINT) AS p,
             ((p // w) // 8) * (w // 8) + (p % w) // 8 AS t
      FROM m, unnest(range(0, CAST(w AS BIGINT) * h)) AS u(p)),
    d AS (
      -- FLOOR, not //: DuckDB integer division truncates toward zero,
      -- and (v - 127) is negative for half the byte range
      SELECT px.media_id, px.w AS w, px.h AS h, p,
             LEAST(2 * CAST(FLOOR(((CASE WHEN m.L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(m.hx,
                   CAST(2 * (t % m.L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(m.hx,
                   CAST(2 * (t % m.L) + 2 AS INT), 1)) - 1)
             END) - 127) / 2.0) AS BIGINT) + 128, 255) AS v
      FROM px JOIN m ON m.media_id = px.media_id)
    SELECT media_id, w AS width, h AS height, CAST(1 AS INT) AS channels,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(0 AS BIGINT) AS n_transparent,
           md5(string_agg(CAST(v AS VARCHAR), '-' ORDER BY p)) AS px_fp
    FROM d GROUP BY media_id, w, h
    """,
)
def jpeg_gray_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE JPEG decode as correctness surface — the transform
    codec: 8x8 DCT, Annex-K quantization, zigzag, DC DPCM, canonical
    Huffman with byte stuffing, full JFIF marker parsing
    (`operators/jpeg_codec.py`). The fixture tier uses constant 8x8
    tiles at quality 50, where the whole pipeline is INTEGER-EXACT
    (decoded tile = min(2*floor((v-127)/2) + 128, 255) — the DC
    coefficient is computed exactly as sum/8, so odd sums cannot teeter
    on the quantizer's half boundary), letting the oracle predict every
    decoded pixel while the real entropy machinery runs per tile.
    General AC content is property-tested with bounded error;
    progressive/color/restart JPEGs are the declared null-route."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.image_rgba_stats(MM.attach_jpegs(docs))


@query(
    "jpeg_color_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS L,
             CAST((octet_length(encode(text)) % 5 + 2) * 8 AS INT) AS w,
             CAST((octet_length(encode(text)) % 3 + 2) * 8 AS INT) AS h
      FROM documents),
    tiles AS (
      SELECT media_id, w, h, CAST(t AS BIGINT) AS t,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (t % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (t % L) + 2 AS INT), 1)) - 1) END AS r,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 1) % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 1) % L) + 2 AS INT), 1)) - 1) END AS g,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 2) % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 2) % L) + 2 AS INT), 1)) - 1) END AS b
      FROM m, unnest(range(0, CAST(w AS BIGINT) * h // 64)) AS u(t)),
    ycc AS (
      -- fixed-point forward transform (coefficients x 1e6, floor(x+.5))
      SELECT media_id, w, h, t,
        LEAST(GREATEST(CAST(FLOOR((299000*r + 587000*g + 114000*b
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS y,
        LEAST(GREATEST(128 + CAST(FLOOR((-168736*r - 331264*g
            + 500000*b + 500000) / 1000000.0) AS BIGINT), 0), 255) AS cb,
        LEAST(GREATEST(128 + CAST(FLOOR((500000*r - 418688*g - 81312*b
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS cr
      FROM tiles),
    dec AS (
      -- per-channel DC-only quantization round trip at q00 = 16
      SELECT media_id, w, h, t,
        LEAST(2 * CAST(FLOOR((y - 127) / 2.0) AS BIGINT) + 128, 255)
          AS y2,
        LEAST(2 * CAST(FLOOR((cb - 127) / 2.0) AS BIGINT) + 128, 255)
          AS cb2,
        LEAST(2 * CAST(FLOOR((cr - 127) / 2.0) AS BIGINT) + 128, 255)
          AS cr2
      FROM ycc),
    rgb AS (
      -- fixed-point inverse transform
      SELECT media_id, w, h, t,
        LEAST(GREATEST(CAST(FLOOR((1000000*y2 + 1402000*(cr2 - 128)
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS r2,
        LEAST(GREATEST(CAST(FLOOR((1000000*y2 - 344136*(cb2 - 128)
            - 714136*(cr2 - 128) + 500000) / 1000000.0) AS BIGINT),
            0), 255) AS g2,
        LEAST(GREATEST(CAST(FLOOR((1000000*y2 + 1772000*(cb2 - 128)
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS b2
      FROM dec),
    px AS (
      SELECT rgb.media_id, rgb.w AS w, rgb.h AS h,
             CAST(p AS BIGINT) AS p, CAST(c AS BIGINT) AS c,
             CASE CAST(c AS INT) WHEN 0 THEN r2 WHEN 1 THEN g2
                  ELSE b2 END AS v
      FROM rgb
      JOIN (SELECT media_id AS mid2, CAST(p AS BIGINT) AS p,
                   ((p // w) // 8) * (w // 8) + (p % w) // 8 AS pt
            FROM m, unnest(range(0, CAST(w AS BIGINT) * h)) AS up(p)) g1
        ON g1.mid2 = rgb.media_id AND g1.pt = rgb.t
      CROSS JOIN unnest(range(0, 3)) AS uc(c))
    SELECT media_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(0 AS BIGINT) AS n_transparent,
           md5(string_agg(CAST(v AS VARCHAR), '-' ORDER BY p * 3 + c))
             AS px_fp
    FROM px GROUP BY media_id, w, h
    """,
)
def jpeg_color_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR baseline JPEG decode — YCbCr 4:4:4 with interleaved MCUs,
    per-component DC predictors, and FIXED-POINT color transforms
    (integer-exact, the same reason libjpeg uses fixed-point): on the
    constant-tile quality-50 tier the full pipeline
    ycbcr_to_rgb(dequant(quant(rgb_to_ycbcr(v)))) is a composition of
    pure integer formulas the oracle replays — forward transform,
    per-channel quantization round trip, inverse transform, every clamp.
    A wrong transform coefficient, MCU interleave order, per-component
    predictor, or rounding rule anywhere breaks the md5. Subsampled /
    progressive / restart JPEGs stay the declared null-route."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.image_rgba_stats(MM.attach_jpegs_color(docs))


@query(
    "jpeg420_restart_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS L,
             CAST((octet_length(encode(text)) % 4 + 1) * 16 AS INT) AS w,
             CAST((octet_length(encode(text)) % 3 + 1) * 16 AS INT) AS h
      FROM documents),
    tiles AS (
      SELECT media_id, w, h, CAST(t AS BIGINT) AS t,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (t % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (t % L) + 2 AS INT), 1)) - 1) END AS r,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 3) % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 3) % L) + 2 AS INT), 1)) - 1) END AS g,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 6) % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 6) % L) + 2 AS INT), 1)) - 1) END AS b
      FROM m, unnest(range(0, CAST(w AS BIGINT) * h // 256)) AS u(t)),
    ycc AS (
      SELECT media_id, w, h, t,
        LEAST(GREATEST(CAST(FLOOR((299000*r + 587000*g + 114000*b
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS y,
        LEAST(GREATEST(128 + CAST(FLOOR((-168736*r - 331264*g
            + 500000*b + 500000) / 1000000.0) AS BIGINT), 0), 255) AS cb,
        LEAST(GREATEST(128 + CAST(FLOOR((500000*r - 418688*g - 81312*b
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS cr
      FROM tiles),
    dec AS (
      SELECT media_id, w, h, t,
        LEAST(2 * CAST(FLOOR((y - 127) / 2.0) AS BIGINT) + 128, 255)
          AS y2,
        LEAST(2 * CAST(FLOOR((cb - 127) / 2.0) AS BIGINT) + 128, 255)
          AS cb2,
        LEAST(2 * CAST(FLOOR((cr - 127) / 2.0) AS BIGINT) + 128, 255)
          AS cr2
      FROM ycc),
    rgb AS (
      SELECT media_id, w, h, t,
        LEAST(GREATEST(CAST(FLOOR((1000000*y2 + 1402000*(cr2 - 128)
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS r2,
        LEAST(GREATEST(CAST(FLOOR((1000000*y2 - 344136*(cb2 - 128)
            - 714136*(cr2 - 128) + 500000) / 1000000.0) AS BIGINT),
            0), 255) AS g2,
        LEAST(GREATEST(CAST(FLOOR((1000000*y2 + 1772000*(cb2 - 128)
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS b2
      FROM dec),
    px AS (
      SELECT rgb.media_id, rgb.w AS w, rgb.h AS h,
             CAST(p AS BIGINT) AS p, CAST(c AS BIGINT) AS c,
             CASE CAST(c AS INT) WHEN 0 THEN r2 WHEN 1 THEN g2
                  ELSE b2 END AS v
      FROM rgb
      JOIN (SELECT media_id AS mid2, CAST(p AS BIGINT) AS p,
                   ((p // w) // 16) * (w // 16) + (p % w) // 16 AS pt
            FROM m, unnest(range(0, CAST(w AS BIGINT) * h)) AS up(p)) g1
        ON g1.mid2 = rgb.media_id AND g1.pt = rgb.t
      CROSS JOIN unnest(range(0, 3)) AS uc(c))
    SELECT media_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(0 AS BIGINT) AS n_transparent,
           md5(string_agg(CAST(v AS VARCHAR), '-' ORDER BY p * 3 + c))
             AS px_fp
    FROM px GROUP BY media_id, w, h
    """,
)
def jpeg420_restart_documents(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """4:2:0 SUBSAMPLED JPEG with RESTART INTERVALS — the two features
    nearly every real-world JPEG uses: 16x16 MCUs carrying four Y + one
    Cb + one Cr block, 2x2 chroma subsampling (integer mean), and RSTn
    markers every doc_id%3 MCUs with predictor resets and byte-aligned
    sync — the transport feature that makes huge JPEGs
    parallel-decodable. Constant 16x16 macro-tiles pass unchanged
    through the subsample/upsample pair, so the oracle replays the same
    integer formula chain as the 4:4:4 tier; a wrong MCU block order,
    subsample rounding, restart sequence number, predictor reset, or
    byte alignment breaks the md5."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.image_rgba_stats(MM.attach_jpegs_420(docs))


@query(
    "jpeg420_segment_parallel_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS L,
             CAST((octet_length(encode(text)) % 4 + 1) * 16 AS INT) AS w,
             CAST((octet_length(encode(text)) % 3 + 1) * 16 AS INT) AS h
      FROM documents WHERE doc_id % 5 = 0),
    tiles AS (
      SELECT media_id, w, h, CAST(t AS BIGINT) AS t,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (t % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (t % L) + 2 AS INT), 1)) - 1) END AS r,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 3) % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 3) % L) + 2 AS INT), 1)) - 1) END AS g,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 6) % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((t + 6) % L) + 2 AS INT), 1)) - 1) END AS b
      FROM m, unnest(range(0, CAST(w AS BIGINT) * h // 256)) AS u(t)),
    ycc AS (
      SELECT media_id, w, h, t,
        LEAST(GREATEST(CAST(FLOOR((299000*r + 587000*g + 114000*b
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS y,
        LEAST(GREATEST(128 + CAST(FLOOR((-168736*r - 331264*g
            + 500000*b + 500000) / 1000000.0) AS BIGINT), 0), 255) AS cb,
        LEAST(GREATEST(128 + CAST(FLOOR((500000*r - 418688*g - 81312*b
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS cr
      FROM tiles),
    dec AS (
      SELECT media_id, w, h, t,
        LEAST(2 * CAST(FLOOR((y - 127) / 2.0) AS BIGINT) + 128, 255)
          AS y2,
        LEAST(2 * CAST(FLOOR((cb - 127) / 2.0) AS BIGINT) + 128, 255)
          AS cb2,
        LEAST(2 * CAST(FLOOR((cr - 127) / 2.0) AS BIGINT) + 128, 255)
          AS cr2
      FROM ycc),
    rgb AS (
      SELECT media_id, w, h, t,
        LEAST(GREATEST(CAST(FLOOR((1000000*y2 + 1402000*(cr2 - 128)
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS r2,
        LEAST(GREATEST(CAST(FLOOR((1000000*y2 - 344136*(cb2 - 128)
            - 714136*(cr2 - 128) + 500000) / 1000000.0) AS BIGINT),
            0), 255) AS g2,
        LEAST(GREATEST(CAST(FLOOR((1000000*y2 + 1772000*(cb2 - 128)
            + 500000) / 1000000.0) AS BIGINT), 0), 255) AS b2
      FROM dec),
    px AS (
      SELECT rgb.media_id, rgb.w AS w, rgb.h AS h,
             CAST(p AS BIGINT) AS p, CAST(c AS BIGINT) AS c,
             CASE CAST(c AS INT) WHEN 0 THEN r2 WHEN 1 THEN g2
                  ELSE b2 END AS v
      FROM rgb
      JOIN (SELECT media_id AS mid2, CAST(p AS BIGINT) AS p,
                   ((p // w) // 16) * (w // 16) + (p % w) // 16 AS pt
            FROM m, unnest(range(0, CAST(w AS BIGINT) * h)) AS up(p)) g1
        ON g1.mid2 = rgb.media_id AND g1.pt = rgb.t
      CROSS JOIN unnest(range(0, 3)) AS uc(c))
    SELECT media_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(0 AS BIGINT) AS n_transparent,
           md5(string_agg(CAST(v AS VARCHAR), '-' ORDER BY p * 3 + c))
             AS px_fp
    FROM px GROUP BY media_id, w, h
    """,
)
def jpeg420_segment_parallel_documents(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """SEGMENT-PARALLEL JPEG decode as a registry surface — the same
    4:2:0 macro-tile pixels as `jpeg420_restart_documents` (the oracle
    is identical: a restart interval changes the transport framing,
    never the pixels), but decoded through the DISTRIBUTED pipeline
    (`multimodal.segment_parallel_rgba_stats`): every payload's scan
    splits at its RSTn byte boundaries into per-SEGMENT rows (row-local
    linear byte walk), each segment entropy-decodes independently (T.81
    resets DC predictors per marker), and the planes reassemble behind
    the pipeline's ONE shuffle keyed by media_id. At 100 TB this is the
    shape that makes a single multi-gigabyte JPEG a many-task decode
    instead of a one-core bitstream crawl — and the driver hash pins it
    byte-equal to the sequential form."""
    from .operators import multimodal as MM

    # 1-in-5 doc sample (mirrored in the oracle): the surface proves
    # the distributed plumbing; the per-file cost is already covered by
    # the sequential query over the full corpus
    docs = load_table(spark, sf_dir, "documents", spread=True) \
        .filter(F.col("doc_id") % 5 == 0)
    return MM.segment_parallel_rgba_stats(MM.attach_jpegs_420_dri(docs))


@query(
    "qoi_rgba_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, CAST(doc_id % 2 AS INT) AS tier,
             hex(encode(text)) AS hx, octet_length(encode(text)) AS L,
             CAST(octet_length(encode(text)) % 21 + 4 AS INT) AS w,
             CAST(octet_length(encode(text)) % 15 + 4 AS INT) AS h
      FROM documents),
    px AS (
      SELECT media_id, tier, w, h, CAST(p AS BIGINT) AS p,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((p // 4) % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((p // 4) % L) + 2 AS INT), 1)) - 1)
             END AS r
      FROM m, unnest(range(0, CAST(w AS BIGINT) * h)) AS u(p)),
    ch AS (
      SELECT media_id, w, h, p, CAST(c AS BIGINT) AS c,
             CASE CAST(c AS INT)
                  WHEN 0 THEN r
                  WHEN 1 THEN (r + p % 3) % 256
                  WHEN 2 THEN (r + 2 * (p % 5)) % 256
                  ELSE CASE WHEN tier = 0 THEN 255
                            WHEN r % 7 = 0 THEN 0 ELSE 255 END END AS v
      FROM px, unnest(range(0, 4)) AS t(c))
    SELECT media_id, w AS width, h AS height, CAST(4 AS INT) AS channels,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(SUM(CASE WHEN c = 3 AND v = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_transparent,
           md5(string_agg(CAST(v AS VARCHAR), '-' ORDER BY p * 4 + c))
             AS px_fp
    FROM ch GROUP BY media_id, w, h
    """,
)
def qoi_rgba_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QOI decode as correctness surface — the FOURTH image container,
    and the one whose entire compression model is engine-owned (no zlib,
    no LZW): run-length, 64-entry hash-index recall, DIFF/LUMA signed
    deltas, and RGB/RGBA literals per the published QOI spec
    (`operators/qoi_codec.py`). The builder's content is shaped so every
    op family fires on production data (`multimodal.attach_qoi`); the
    oracle predicts every RGBA value from the text alone, so a wrong
    bias, wrap, hash, index slot, or run length anywhere in the state
    machine breaks the md5."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.image_rgba_stats(MM.attach_qoi(docs))


@query(
    "bmp_rgb_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, CAST(doc_id % 3 AS INT) AS tier,
             hex(encode(text)) AS hx, octet_length(encode(text)) AS L,
             CAST(octet_length(encode(text)) % 18 + 5 AS INT) AS w,
             CAST(octet_length(encode(text)) % 13 + 5 AS INT) AS h
      FROM documents),
    px AS (
      SELECT media_id, tier, w, h, CAST(p AS BIGINT) AS p,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((3 * p) % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((3 * p) % L) + 2 AS INT), 1)) - 1)
             END AS v
      FROM m, unnest(range(0, CAST(w AS BIGINT) * h)) AS u(p)),
    ch AS (
      SELECT media_id, w, h, p, CAST(c AS BIGINT) AS c,
             CASE WHEN tier <> 1 THEN v
                  WHEN c = 0 THEN v
                  WHEN c = 1 THEN (v + 91) % 256
                  ELSE (v + 182) % 256 END AS cv
      FROM px, unnest(range(0, 3)) AS t(c))
    SELECT media_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
           CAST(SUM(cv) AS BIGINT) AS px_sum,
           CAST(0 AS BIGINT) AS n_transparent,
           md5(string_agg(CAST(cv AS VARCHAR), '-' ORDER BY p * 3 + c))
             AS px_fp
    FROM ch GROUP BY media_id, w, h
    """,
)
def bmp_rgb_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP decode as correctness surface — the THIRD image container
    through the magic-dispatching stats pass: three tiers per corpus
    (8-bit palette BI_RGB, 24-bit BGR with both row orders, 8-bit
    BI_RLE8 through the RLE codec shared with the AVI tier —
    `multimodal.attach_bmps`, `bmp_codec`). The oracle predicts every
    channel of every pixel from the text alone, so header offsets,
    palette expansion, BGR reorder, bottom-up/top-down flips, stride
    padding, and the RLE packet walk are all under the driver hash."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.image_rgba_stats(MM.attach_bmps(docs))


def _streaming_budget_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) the maintained token-budget
    admission ledger: odd doc_ids arrive as micro-batch 0, even ones as
    micro-batch 1; n_tok is computed ON the stream (text read once)."""
    from .functions.strings import tokens as _tokens
    from .streaming.budget_admission import streaming_budget_maintain

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "source", "text")
        stream = _feed_stream(spark, stage, [
            docs.filter(F.col("doc_id") % 2 == r) for r in (1, 0)]).select(
            "doc_id", "source",
            F.size(_tokens(F.col("text"))).cast("long").alias("n_tok"))
        streaming_budget_maintain(
            stream, os.path.join(stage, "ledger"),
            os.path.join(stage, "ckpt"), _TOKEN_BUDGET,
            _TOKEN_BUDGET_DEFAULT)

    return os.path.join(
        _snapshot_dir(sf_dir, "documents", "wde_budget2", build), "ledger")


_BUDGET_CASE_SQL = ("CASE source "
                    + " ".join(f"WHEN '{s}' THEN {b}"
                               for s, b in _TOKEN_BUDGET.items())
                    + f" ELSE {_TOKEN_BUDGET_DEFAULT} END")


@query(
    "streaming_token_budget_documents",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tok,
             md5('wde@' || CAST(doc_id AS VARCHAR)) AS hx,
             CAST(CASE WHEN doc_id % 2 = 1 THEN 0 ELSE 1 END AS INT)
               AS batch
      FROM documents),
    c0 AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY hx, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t WHERE batch = 0),
    a0 AS (SELECT * FROM c0 WHERE cum <= {_BUDGET_CASE_SQL}),
    s0 AS (SELECT source, MAX(cum) AS spent FROM a0 GROUP BY source),
    c1 AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY hx, doc_id
                              ROWS UNBOUNDED PRECEDING) AS rs
      FROM t WHERE batch = 1),
    a1 AS (
      SELECT c1.doc_id, c1.source, c1.n_tok,
             c1.rs + COALESCE(s0.spent, 0) AS cum
      FROM c1 LEFT JOIN s0 ON c1.source = s0.source
      WHERE c1.rs + COALESCE(s0.spent, 0) <= {_BUDGET_CASE_SQL.replace(
          "CASE source", "CASE c1.source")})
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum AS BIGINT) AS cum_tokens,
           CAST(0 AS INT) AS arrived_batch
    FROM a0
    UNION ALL
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum AS BIGINT) AS cum_tokens,
           CAST(1 AS INT) AS arrived_batch
    FROM a1
    """,
)
def streaming_token_budget_documents(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """STREAMING token-budget admission
    (`streaming/budget_admission.py`) — the maintained form of
    `token_budget_mixture_documents`: documents arrive as micro-batches
    (odd doc_ids then even), each batch's docs are hash-ordered within
    their source and admitted while the source's carried spent plus the
    running sum fits the budget; rejected docs never consume budget.
    The delta ledger (id, source, n_tok, cum_tokens, arrived_batch) is
    hash-checked against the oracle's unrolled recursion (batch-0
    prefix -> per-source spent -> batch-1 prefix offset by it). At
    100 TB the per-batch work is one batch-sized window plus a
    broadcast join against the sources x 1 spent table — the corpus is
    never rescanned, and the admitted set answers the operational
    question a FEED poses (does this doc still fit?) rather than the
    static corpus's global hash prefix."""
    from .streaming.budget_admission import read_admitted

    ledger_dir = _streaming_budget_dir(spark, sf_dir)
    return read_admitted(spark, ledger_dir).select(
        "doc_id", "source", "n_tok", "cum_tokens", "arrived_batch")


@query(
    "tiff_packbits_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, CAST(doc_id % 2 AS INT) AS tier,
             hex(encode(text)) AS hx, octet_length(encode(text)) AS L,
             CAST(octet_length(encode(text)) % 17 + 4 AS INT) AS w,
             CAST(octet_length(encode(text)) % 11 + 4 AS INT) AS h
      FROM documents),
    px AS (
      SELECT media_id, tier, w, h, CAST(p AS BIGINT) AS p,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((5 * p) % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((5 * p) % L) + 2 AS INT), 1)) - 1)
             END AS v
      FROM m, unnest(range(0, CAST(w AS BIGINT) * h)) AS u(p)),
    ch AS (
      SELECT media_id, w, h, p, CAST(c AS BIGINT) AS c,
             CASE WHEN tier = 0 THEN (v // 64) * 64
                  WHEN c = 0 THEN v
                  WHEN c = 1 THEN (v + 77) % 256
                  ELSE (v + 154) % 256 END AS cv
      FROM px, unnest(range(0, 3)) AS t(c))
    SELECT media_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
           CAST(SUM(cv) AS BIGINT) AS px_sum,
           CAST(0 AS BIGINT) AS n_transparent,
           md5(string_agg(CAST(cv AS VARCHAR), '-' ORDER BY p * 3 + c))
             AS px_fp
    FROM ch GROUP BY media_id, w, h
    """,
)
def tiff_packbits_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF PackBits decode as correctness surface — the SIXTH image
    container through the magic-dispatching stats pass and the third
    RLE family (after BI_RLE8 and GIF LZW): two tiers per corpus
    (quantized grayscale so repeat-runs fire on production data, and
    RGB exercising the literal path — `multimodal.attach_tiffs`,
    `tiff_codec`), each mixed across BOTH byte orders (doc_id % 4 in
    (2, 3) encodes 'MM' big-endian — framing-only, so the oracle's
    pixel formula is untouched while the big-endian IFD walk lands
    under the driver hash). PackBits is lossless and the coder restarts
    per row, so the oracle predicts every channel of every pixel from
    the text alone — IFD tag walk in either byte order, strip geometry,
    and both packet kinds are all under the driver hash."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.image_rgba_stats(MM.attach_tiffs(docs))


def _streaming_shards_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) the maintained HRW routing
    table: odd doc_ids arrive as micro-batch 0 (map grows to 7), even
    ones as micro-batch 1 (map grows to 8, migrating batch-0 docs)."""
    from .streaming.shard_migration import streaming_shard_maintain

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        stream = _feed_stream(spark, stage, [
            docs.filter(F.col("doc_id") % 2 == r) for r in (1, 0)])
        streaming_shard_maintain(
            stream, os.path.join(stage, "route"), os.path.join(stage, "ckpt"))

    return os.path.join(
        _snapshot_dir(sf_dir, "documents", "wde_shards2", build), "route")


@query(
    "streaming_shard_migration_documents",
    """
    WITH sc AS (
      SELECT doc_id, CAST(s AS INT) AS s,
             md5('hrw|' || doc_id || '|' || s)
               || lpad(CAST(s AS VARCHAR), 2, '0') AS hs
      FROM documents, unnest(range(0, 8)) AS u(s)),
    a AS (
      SELECT doc_id,
             CAST(substr(MAX(CASE WHEN s < 7 THEN hs END), 33, 2)
                  AS INT) AS s7,
             CAST(substr(MAX(hs), 33, 2) AS INT) AS s8
      FROM sc GROUP BY doc_id)
    SELECT doc_id, s8 AS shard,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 0 ELSE 1 END AS INT)
             AS arrived_batch,
           CAST(CASE WHEN doc_id % 2 = 1 AND s7 <> s8 THEN 1 ELSE 0 END
                AS INT) AS n_moves
    FROM a
    """,
)
def streaming_shard_migration_documents(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """STREAMING-MAINTAINED HRW shard map with a migration ledger
    (`streaming/shard_migration.py`): the map grows by one shard per
    micro-batch (7 when the odd docs arrive, 8 when the even docs do);
    each growth step re-evaluates the HRW argmax over the stored routing
    table, bumping n_moves for rows whose shard changed — by the
    minimal-movement guarantee, only onto the new shard, expected 1/8 of
    them. Because migration recomputes the same pure argmax the one-shot
    form uses, the final table is row-identical on `shard` to one-shot
    `rendezvous_shard` at size 8, and `n_moves` is exactly [argmax at 7
    differs from argmax at 8] for batch-0 docs — which the oracle
    replays per doc. At 100 TB the per-step moved set IS the minimal
    data movement a migration executor must perform; the corpus never
    reshuffles."""
    from .streaming.shard_migration import read_routing

    route_dir = _streaming_shards_dir(spark, sf_dir)
    return read_routing(spark, route_dir)


@query(
    "rendezvous_sharding_documents",
    """
    WITH sc AS (
      SELECT doc_id, CAST(s AS INT) AS s,
             md5('hrw|' || doc_id || '|' || s)
               || lpad(CAST(s AS VARCHAR), 2, '0') AS hs
      FROM documents, unnest(range(0, 9)) AS u(s)),
    a AS (
      SELECT doc_id,
             CAST(substr(MAX(CASE WHEN s < 8 THEN hs END), 33, 2)
                  AS INT) AS s8,
             CAST(substr(MAX(hs), 33, 2) AS INT) AS s9
      FROM sc GROUP BY doc_id)
    SELECT s9 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved,
           CAST(SUM(CASE WHEN s8 <> s9 AND s9 <> 8 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved_between_old
    FROM a GROUP BY s9
    """,
)
def rendezvous_sharding_documents(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding with the
    minimal-movement guarantee HASH-CHECKED: every doc is assigned under
    an 8-shard and a 9-shard map (`layout.rendezvous_shard` — argmax of
    per-shard salted digests, a pure row-local column expression), and
    the per-shard rollup counts how many docs moved. HRW's defining
    property — growing the map moves keys ONLY to the new shard, never
    between survivors — is the `n_moved_between_old` column, which the
    oracle pins to zero per shard. At 100 TB this is stateless routing:
    a shard-map change costs a metadata edit, not a corpus reshuffle."""
    from .operators.layout import rendezvous_shard

    docs = load_table(spark, sf_dir, "documents", spread=True)
    a = docs.select(
        "doc_id",
        rendezvous_shard("doc_id", 8).alias("s8"),
        rendezvous_shard("doc_id", 9).alias("s9"))
    moved = (F.col("s8") != F.col("s9")).cast("long")
    return (
        a.groupBy(F.col("s9").alias("shard"))
        .agg(F.count("*").alias("n_docs"),
             F.sum(moved).alias("n_moved"),
             F.sum(moved * (F.col("s9") != 8).cast("long"))
             .alias("n_moved_between_old"))
    )


@query(
    "curriculum_order_documents",
    """
    WITH r AS (
      SELECT doc_id,
             NTILE(3) OVER (
               ORDER BY COALESCE(octet_length(encode(text)) // 64, -1),
                        doc_id
             ) AS stage
      FROM documents),
    b AS (
      SELECT doc_id, stage,
             ROW_NUMBER() OVER (
               PARTITION BY stage
               ORDER BY md5('cur' || stage || '|'
                            || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM r)
    SELECT doc_id, CAST(stage AS INT) AS stage,
           CAST((rk - 1) * 3 + stage - 1 AS BIGINT) AS sched_pos
    FROM b
    """,
)
def curriculum_order_documents(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Curriculum data ordering: 64-byte length-bucket terciles (easy /
    medium / hard), a deterministic shuffle WITHIN each stage, and a
    round-robin interleave so every training round sees all difficulties
    (`sampling.curriculum_order`). The Spark side never runs a global
    window: the tercile rank is a two-phase prefix sum over the bounded
    difficulty domain, NTILE is arithmetic on that rank, and the
    in-stage shuffle rank is `global_prefix_sum` per stage — while the
    oracle states the same schedule declaratively with NTILE +
    ROW_NUMBER, so the scale-shaped plan is hash-checked against the
    textbook formulation. The 64-byte bucketing is what BOUNDS the
    difficulty domain at 100 TB: raw byte lengths have ~len(corpus)
    distinct values (the per-value offset table would flood the
    driver); buckets keep it at max_doc_len/64 regardless of corpus
    size, and curriculum_order's max_domain cap now fails loudly if a
    caller forgets to coarsen."""
    from .operators.sampling import curriculum_order

    docs = load_table(spark, sf_dir, "documents", spread=True)
    # keep_cols=() — only (doc_id, stage, sched_pos) are consumed, so
    # the staging cache holds three metadata columns, never the text
    out = curriculum_order(
        docs,
        F.coalesce(F.floor(F.octet_length("text") / 64), F.lit(-1)),
        keep_cols=())
    return out.select("doc_id", "stage", "sched_pos")


# curriculum pacing quota matrix: quotas[stage][phase] in TOKENS —
# easy-heavy first phase ramping to hard-heavy last phase, sized so all
# three phases populate AND a tail drops at sf0.01 (per-stage token
# totals there: ~4.3k / 9.1k / 13.8k)
_PACING_QUOTAS = {1: (2000, 1200, 800),
                  2: (2500, 3500, 2000),
                  3: (2000, 4000, 6000)}


def _pacing_bound_sql(p: int) -> str:
    return ("CASE stage "
            + " ".join(f"WHEN {s} THEN {sum(q[:p])}"
                       for s, q in _PACING_QUOTAS.items())
            + " END")


@query(
    "curriculum_pacing_documents",
    f"""
    WITH r AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tok,
             NTILE(3) OVER (
               ORDER BY COALESCE(octet_length(encode(text)) // 64, -1),
                        doc_id
             ) AS stage
      FROM documents),
    c AS (
      SELECT doc_id, stage, n_tok,
             SUM(n_tok) OVER (
               PARTITION BY stage
               ORDER BY md5('cur' || stage || '|'
                            || CAST(doc_id AS VARCHAR)), doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM r)
    SELECT doc_id, CAST(stage AS INT) AS stage,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum_tok AS BIGINT) AS cum_tok,
           CAST(CASE
             WHEN cum_tok <= {_pacing_bound_sql(1)} THEN 1
             WHEN cum_tok <= {_pacing_bound_sql(2)} THEN 2
             WHEN cum_tok <= {_pacing_bound_sql(3)} THEN 3
           END AS INT) AS phase
    FROM c
    WHERE cum_tok <= {_pacing_bound_sql(3)}
    """,
)
def curriculum_pacing_documents(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Per-stage curriculum PACING (`sampling.curriculum_pacing`) — the
    composition of curriculum staging with token-budget admission:
    each difficulty stage's docs, in the curriculum's own in-stage
    salted order, fill training phases by cumulative TOKEN quota
    (easy-heavy phase 1 ramping to hard-heavy phase 3); docs beyond the
    stage's total budget drop. The Spark side stages with the
    bounded-domain two-phase rank and runs the per-stage running token
    sum as the same two-phase prefix-sum primitive keyed by (stage,
    md5-prefix bucket) — the driver sees n_stages x 256 count rows,
    never the corpus — while the oracle states the admission with one
    plain SUM() OVER (PARTITION BY stage ORDER BY md5) window, so the
    scale-shaped plan is hash-checked against the textbook form."""
    from .functions.strings import tokens as _tokens
    from .operators.sampling import curriculum_pacing

    docs = load_table(spark, sf_dir, "documents", spread=True)
    quotas = [list(_PACING_QUOTAS[s]) for s in (1, 2, 3)]
    return curriculum_pacing(
        docs,
        F.coalesce(F.floor(F.octet_length("text") / 64), F.lit(-1)),
        F.size(_tokens(F.col("text"))),
        quotas)


def _streaming_curriculum_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) the maintained curriculum
    ledger: odd doc_ids arrive as micro-batch 0, even ones as
    micro-batch 1; the 64-byte length bucket is computed ON the stream
    (the only pass over text)."""
    from .functions.strings import tokens as _tokens
    from .streaming.curriculum import streaming_curriculum_maintain

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        stream = _feed_stream(spark, stage, [
            docs.filter(F.col("doc_id") % 2 == r) for r in (1, 0)]).select(
            "doc_id",
            F.coalesce(F.floor(F.octet_length("text") / 64),
                       F.lit(-1)).alias("bucket"),
            # arrival-time token count: carried for maintained
            # PACING (read_paced) — the text is read exactly once
            F.size(_tokens(F.col("text"))).cast("long").alias("n_tok"))
        streaming_curriculum_maintain(
            stream, os.path.join(stage, "ledger"),
            os.path.join(stage, "ckpt"), extra_cols=("n_tok",))

    # "2": the ledger schema gained n_tok (maintained pacing)
    return os.path.join(
        _snapshot_dir(sf_dir, "documents", "wde_curric3", build), "ledger")


@query(
    "streaming_curriculum_documents",
    """
    WITH r AS (
      SELECT doc_id,
             NTILE(3) OVER (
               ORDER BY COALESCE(octet_length(encode(text)) // 64, -1),
                        doc_id
             ) AS stage
      FROM documents),
    b AS (
      SELECT doc_id, stage,
             ROW_NUMBER() OVER (
               PARTITION BY stage
               ORDER BY md5('cur' || stage || '|'
                            || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM r)
    SELECT doc_id, CAST(stage AS INT) AS stage,
           CAST((rk - 1) * 3 + stage - 1 AS BIGINT) AS sched_pos,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 0 ELSE 1 END AS INT)
             AS arrived_batch
    FROM b
    """,
)
def streaming_curriculum_documents(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """STREAMING-MAINTAINED curriculum (`streaming/curriculum.py`) —
    the maintained form of `curriculum_order_documents`: documents
    arrive as micro-batches (odd doc_ids then even), the 64-byte length
    bucket is computed ON the stream at arrival, and the delta ledger
    (doc_id, bucket, n_tok, arrived_batch) is the only state — document
    bytes are read exactly once, ever. The materialized schedule after
    the final batch is hash-checked against the same NTILE + ROW_NUMBER
    oracle as the one-shot form, with the ledger's provenance column
    alongside: the maintained schedule IS the full-rebuild schedule, at
    ledger-append cost. At 100 TB a corpus refresh costs one pass over
    the NEW documents plus arithmetic on the bucket histogram — the
    existing corpus is never rescanned."""
    from .streaming.curriculum import read_curriculum

    ledger_dir = _streaming_curriculum_dir(spark, sf_dir)
    return read_curriculum(spark, ledger_dir).select(
        "doc_id", "stage", "sched_pos", "arrived_batch")


@query(
    "streaming_curriculum_pacing_documents",
    f"""
    WITH r AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tok,
             NTILE(3) OVER (
               ORDER BY COALESCE(octet_length(encode(text)) // 64, -1),
                        doc_id
             ) AS stage
      FROM documents),
    c AS (
      SELECT doc_id, stage, n_tok,
             SUM(n_tok) OVER (
               PARTITION BY stage
               ORDER BY md5('cur' || stage || '|'
                            || CAST(doc_id AS VARCHAR)), doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM r)
    SELECT doc_id, CAST(stage AS INT) AS stage,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum_tok AS BIGINT) AS cum_tok,
           CAST(CASE
             WHEN cum_tok <= {_pacing_bound_sql(1)} THEN 1
             WHEN cum_tok <= {_pacing_bound_sql(2)} THEN 2
             WHEN cum_tok <= {_pacing_bound_sql(3)} THEN 3
           END AS INT) AS phase,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 0 ELSE 1 END AS INT)
             AS arrived_batch
    FROM c
    WHERE cum_tok <= {_pacing_bound_sql(3)}
    """,
)
def streaming_curriculum_pacing_documents(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    """MAINTAINED curriculum pacing (`streaming/curriculum.read_paced`)
    — the last ordering operator gains its maintained form: the delta
    ledger carries arrival-time buckets AND token counts (text read
    exactly once, at ingest), so a pacing refresh after every batch is
    pure ledger arithmetic — the same two-phase staging + per-stage
    token prefix sums as the one-shot `curriculum_pacing_documents`,
    whose oracle this reuses with the ledger's provenance column
    alongside. Because the ledger after the final batch holds exactly
    the corpus with the buckets/counts the one-shot form computes, the
    maintained pacing is row-identical to a full rebuild — pinned under
    the driver hash."""
    from .streaming.curriculum import read_paced

    ledger_dir = _streaming_curriculum_dir(spark, sf_dir)
    quotas = [list(_PACING_QUOTAS[s]) for s in (1, 2, 3)]
    return read_paced(spark, ledger_dir, quotas).select(
        "doc_id", "stage", "n_tok", "cum_tok", "phase", "arrived_batch")


@query(
    "gif_animation_frames_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS L,
             CAST(octet_length(encode(text)) % 16 + 10 AS INT) AS w,
             CAST(octet_length(encode(text)) % 12 + 10 AS INT) AS h,
             CAST(octet_length(encode(text)) % 3 + 2 AS INT) AS nf
      FROM documents),
    fr AS (
      SELECT media_id, hx, L, w, h, CAST(g AS INT) AS g,
             CAST((3 * g) % (w - 3) AS INT) AS lft,
             CAST((2 * g) % (h - 3) AS INT) AS tp
      FROM m, unnest(range(0, nf)) AS u(g)),
    fr2 AS (
      SELECT media_id, hx, L, w, g, lft, tp,
             CAST(LEAST(w - lft, L % 7 + 3) AS INT) AS iw,
             CAST(LEAST(h - tp, L % 5 + 3) AS INT) AS ih
      FROM fr),
    contrib AS (
      SELECT media_id, g,
             CAST((tp + q // iw) * w + lft + q % iw AS BIGINT) AS p, j
      FROM (
        SELECT media_id, g, w, lft, tp, iw, CAST(q AS BIGINT) AS q,
               CASE WHEN L = 0 THEN 0 ELSE
                 ((strpos('0123456789ABCDEF', substr(hx,
                     CAST(2 * ((q + 11 * g) % L) + 1 AS INT), 1)) - 1)
                  * 16
                  + (strpos('0123456789ABCDEF', substr(hx,
                     CAST(2 * ((q + 11 * g) % L) + 2 AS INT), 1)) - 1))
                 % 16
               END AS j
        FROM fr2, unnest(range(0, CAST(iw AS BIGINT) * ih)) AS u(q))
      WHERE j <> 0),
    grid AS (
      SELECT media_id, w, h, CAST(f AS INT) AS f, CAST(p AS BIGINT) AS p
      FROM m, unnest(range(0, nf)) AS uf(f),
           unnest(range(0, CAST(w AS BIGINT) * h)) AS up(p)),
    win AS (
      SELECT g1.media_id, g1.f, g1.p, MAX(c.g) AS gw
      FROM grid g1 JOIN contrib c
        ON c.media_id = g1.media_id AND c.p = g1.p AND c.g <= g1.f
      GROUP BY g1.media_id, g1.f, g1.p),
    wj AS (
      SELECT w2.media_id, w2.f, w2.p, c.j
      FROM win w2 JOIN contrib c
        ON c.media_id = w2.media_id AND c.p = w2.p AND c.g = w2.gw),
    v AS (
      SELECT grid.media_id, grid.w, grid.h, grid.f, grid.p,
             CAST(t.c AS BIGINT) AS c,
             CASE WHEN wj.j IS NULL THEN 0
                  WHEN t.c = 0 THEN (wj.j * 19) % 256
                  WHEN t.c = 1 THEN (wj.j * 37) % 256
                  WHEN t.c = 2 THEN (wj.j * 53) % 256
                  ELSE 255 END AS v
      FROM grid
      LEFT JOIN wj ON wj.media_id = grid.media_id
                  AND wj.f = grid.f AND wj.p = grid.p
      CROSS JOIN unnest(range(0, 4)) AS t(c))
    SELECT media_id, f AS frame_idx, w AS width, h AS height,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           md5(string_agg(CAST(v AS VARCHAR), '-' ORDER BY p * 4 + c))
             AS px_fp
    FROM v GROUP BY media_id, f, w, h
    """,
)
def gif_animation_frames_documents(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """ANIMATED GIF decode with full compositing — the declared
    null-route falls: multi-frame GIF89a clips with PARTIAL-RECT
    patches, per-frame graphic control, transparency, and interlaced
    odd frames (`multimodal.attach_animated_gifs`) decode through
    `gif_codec.decode_gif_frames`, which overlays each patch onto the
    canvas and snapshots it per frame. The oracle restates compositing
    RELATIONALLY: for every (frame, canvas pixel), the winning color is
    the latest source patch g <= f that covers the pixel with a
    non-transparent value (MAX-g join over the contribution table), so
    a wrong rect offset, interlace pass, transparency bit, or overlay
    order breaks the canvas md5. Disposal methods 2/3 are pinned by
    `tests/test_gif_codec.py` against an independent compositor."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.animation_frame_stats(MM.attach_animated_gifs(docs))


# the ADPCM oracle embeds the SAME published step table the decoder
# uses (wav_codec.ADPCM_STEPS) — generated from one constant so the
# two sides cannot drift
from .operators.wav_codec import ADPCM_STEPS as _ADPCM_STEPS

_ADPCM_STEPS_SQL = ", ".join(
    f"({i}, {s})" for i, s in enumerate(_ADPCM_STEPS))


@query(
    "audio_adpcm_decoded_documents",
    f"""
    WITH RECURSIVE
    m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS L
      FROM documents),
    hdr AS (
      SELECT media_id,
             CASE WHEN L >= 1 THEN
               ((strpos('0123456789ABCDEF', substr(hx, 1, 1)) - 1) * 16
                + (strpos('0123456789ABCDEF', substr(hx, 2, 1)) - 1)
                - 128) * 256
             ELSE 0 END AS pred0,
             CASE WHEN L >= 2 THEN
               ((strpos('0123456789ABCDEF', substr(hx, 3, 1)) - 1) * 16
                + (strpos('0123456789ABCDEF', substr(hx, 4, 1)) - 1)) % 89
             ELSE 0 END AS idx0
      FROM m),
    dat AS (
      SELECT media_id, CAST(k AS INT) AS k,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (k % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (k % L) + 2 AS INT), 1)) - 1)
             END AS b
      FROM m, unnest(range(0, 64)) AS u(k)),
    nib AS (
      SELECT media_id, CAST(k * 2 + half AS INT) AS i,
             CASE WHEN half = 0 THEN b % 16 ELSE b // 16 END AS n
      FROM dat, unnest(range(0, 2)) AS t(half)),
    steps(si, sv) AS (VALUES {_ADPCM_STEPS_SQL}),
    st AS (
      SELECT media_id, 0 AS i, pred0 AS pred, idx0 AS idx FROM hdr
      UNION ALL
      SELECT st.media_id, st.i + 1,
             CAST(GREATEST(-32768, LEAST(32767, st.pred
               + (CASE WHEN n.n >= 8 THEN -1 ELSE 1 END)
               * (s.sv // 8
                  + CASE WHEN n.n % 2 = 1 THEN s.sv // 4 ELSE 0 END
                  + CASE WHEN (n.n // 2) % 2 = 1 THEN s.sv // 2
                         ELSE 0 END
                  + CASE WHEN (n.n // 4) % 2 = 1 THEN s.sv
                         ELSE 0 END))) AS INT),
             CAST(GREATEST(0, LEAST(88, st.idx
               + CASE n.n % 8 WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
                              WHEN 7 THEN 8 ELSE -1 END)) AS INT)
      FROM st
      JOIN nib n ON n.media_id = st.media_id AND n.i = st.i
      JOIN steps s ON s.si = st.idx
      WHERE st.i < 128)
    SELECT media_id, CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels, CAST(16 AS INT) AS bits,
           CAST(129 AS BIGINT) AS n_frames,
           CAST(SUM(pred) AS BIGINT) AS s_sum,
           md5(string_agg(CAST(pred AS VARCHAR), '-' ORDER BY i)) AS s_fp
    FROM st GROUP BY media_id
    """,
)
def audio_adpcm_decoded_documents(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """PREDICTIVE audio decode — IMA ADPCM joins the correctness
    surface: one 68-byte mono block per doc
    (`multimodal.attach_audio_adpcm`), decoded through the published
    step-table state machine (`wav_codec._decode_adpcm_block`: 4-bit
    differential nibbles, predictor clamp, index-adjust walk) and
    fingerprinted sample by sample. The oracle is a RECURSIVE CTE that
    replays all 128 nibble transitions per doc against the same
    89-entry step table (embedded from the one shared constant), so a
    wrong shift, clamp, index adjustment, or nibble order anywhere in
    the chain diverges every subsequent sample and breaks the md5."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.audio_sample_stats(MM.attach_audio_adpcm(docs))


@query(
    "gif_rgba_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS L,
             CAST(octet_length(encode(text)) % 20 + 6 AS INT) AS w,
             CAST(octet_length(encode(text)) % 14 + 6 AS INT) AS h
      FROM documents),
    px AS (
      SELECT media_id, w, h, CAST(p AS BIGINT) AS p,
             CASE WHEN L = 0 THEN 0 ELSE
               ((strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (p % L) + 1 AS INT), 1)) - 1) * 16
                + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (p % L) + 2 AS INT), 1)) - 1)) % 16
             END AS j
      FROM m, unnest(range(0, CAST(w AS BIGINT) * h)) AS u(p)),
    v AS (
      SELECT media_id, w, h, p, CAST(c AS BIGINT) AS c,
             CASE CAST(c AS INT)
                  WHEN 0 THEN (j * 19) % 256
                  WHEN 1 THEN (j * 37) % 256
                  WHEN 2 THEN (j * 53) % 256
                  ELSE CASE WHEN j = 0 THEN 0 ELSE 255 END END AS v
      FROM px, unnest(range(0, 4)) AS t(c))
    SELECT media_id, w AS width, h AS height, CAST(4 AS INT) AS channels,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(SUM(CASE WHEN c = 3 AND v = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_transparent,
           md5(string_agg(CAST(v AS VARCHAR), '-' ORDER BY p * 4 + c))
             AS px_fp
    FROM v GROUP BY media_id, w, h
    """,
)
def gif_rgba_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode as correctness surface — the engine's second image
    container and first dictionary-coded decompressor: deterministic
    16-color GIFs with GIF89a transparency built from each doc's text
    (`multimodal.attach_gifs` — REAL LZW compression via
    `gif_codec.encode_gif`, 4-pass interlace on odd doc_ids), decoded
    back through the spec-derived LZW decoder + interlace permutation +
    transparency expansion (`gif_codec.decode_gif`) and fingerprinted
    per RGBA value. The oracle predicts every channel of every pixel
    from the text alone, so a wrong LZW width bump, dictionary entry,
    interlace pass, palette slot, or transparent index breaks the md5.
    Animated GIFs and partial-rect frames remain the declared
    null-route."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.image_rgba_stats(MM.attach_gifs(docs))


@query(
    "image_palette_rgba_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS L,
             CAST(octet_length(encode(text)) % 24 + 8 AS INT) AS w,
             CAST(octet_length(encode(text)) % 16 + 8 AS INT) AS h
      FROM documents),
    px AS (
      SELECT media_id, w, h, CAST(p AS BIGINT) AS p,
             CASE WHEN L = 0 THEN 0 ELSE
               ((strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (p % L) + 1 AS INT), 1)) - 1) * 16
                + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * (p % L) + 2 AS INT), 1)) - 1)) % 16
             END AS j
      FROM m, unnest(range(0, CAST(w AS BIGINT) * h)) AS u(p)),
    v AS (
      SELECT media_id, w, h, p, CAST(c AS BIGINT) AS c,
             CASE CAST(c AS INT)
                  WHEN 0 THEN (j * 19) % 256
                  WHEN 1 THEN (j * 37) % 256
                  WHEN 2 THEN (j * 53) % 256
                  ELSE CASE WHEN j = 0 THEN 0 ELSE 255 END END AS v
      FROM px, unnest(range(0, 4)) AS t(c))
    SELECT media_id, w AS width, h AS height, CAST(4 AS INT) AS channels,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(SUM(CASE WHEN c = 3 AND v = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_transparent,
           md5(string_agg(CAST(v AS VARCHAR), '-' ORDER BY p * 4 + c))
             AS px_fp
    FROM v GROUP BY media_id, w, h
    """,
)
def image_palette_rgba_documents(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """PALETTE + tRNS PNG tier, hash-checked end-to-end: deterministic
    indexed-color PNGs with a transparency chunk built from each doc's
    text (`multimodal.attach_palette_images` —
    `png_codec.encode_png_palette`: lexicographic PLTE, per-entry tRNS
    alpha, scanline filter varying by doc_id % 5 on the index plane),
    then decoded back through the tRNS-aware decoder (alpha EXPANDS to a
    4th channel instead of null-routing — the r8 ADVICE follow-through)
    and fingerprinted per RGBA value (`multimodal.image_rgba_stats`).
    The oracle predicts every channel of every pixel from the text
    alone, so a wrong palette build, index filter, tRNS write, or alpha
    expansion breaks the md5."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.image_rgba_stats(MM.attach_palette_images(docs))


@query(
    "audio_energy_mixed_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, CAST(doc_id % 3 AS INT) AS fmt,
             hex(encode(text)) AS hx, octet_length(encode(text)) AS L
      FROM documents),
    s AS (
      SELECT media_id, fmt, L, CAST(i AS BIGINT) AS i,
             CASE WHEN L = 0 THEN 128 ELSE
               (strpos('0123456789ABCDEF',
                   substr(hx, CAST(2 * i + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF',
                   substr(hx, CAST(2 * i + 2 AS INT), 1)) - 1)
             END AS b
      FROM m, unnest(range(0, CASE WHEN L = 0 THEN 64 ELSE L END)) AS u(i)),
    e AS (
      SELECT media_id, i,
             CASE fmt
                  WHEN 0 THEN abs((b - 128) * 256)
                  WHEN 1 THEN abs((b - 128) * 256)
                             + abs(((b + 64) % 256 - 128) * 256)
                  ELSE abs(b - 128) END AS v
      FROM s)
    SELECT media_id, CAST(i // 256 AS INT) AS win_idx,
           CAST(COUNT(*) AS INT) AS n_frames,
           CAST(SUM(v) AS BIGINT) AS abs_sum
    FROM e GROUP BY media_id, i // 256
    """,
)
def audio_energy_mixed_documents(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The audio codec's FULL declared surface as production correctness
    surface: mixed-format recordings (mono 16-bit / stereo 16-bit /
    mono 8-bit by doc_id % 3, `multimodal.attach_audio_mixed`) decoded
    through `wav_codec.decode_wav` into the energy-window VAD primitive
    (`multimodal.audio_energy_windows` — which now CENTERS 8-bit PCM at
    128 before the abs, so silence scores zero energy in every format).
    The oracle predicts each window's summed amplitude across formats and
    channels from the text bytes alone — stereo channel summation, the
    8-bit centering fix, and the container geometry are all under the
    driver hash. Empty texts are 64 silent frames (energy 0) in every
    format."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.audio_energy_windows(MM.attach_audio_mixed(docs))


@query(
    "audio_energy_g711_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, CAST(doc_id % 2 AS INT) AS law,
             hex(encode(text)) AS hx, octet_length(encode(text)) AS L
      FROM documents),
    s AS (
      SELECT media_id, law, CAST(i AS BIGINT) AS i,
             CASE WHEN L = 0 THEN
               CASE law WHEN 0 THEN 255 ELSE 213 END
             ELSE
               (strpos('0123456789ABCDEF',
                   substr(hx, CAST(2 * i + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF',
                   substr(hx, CAST(2 * i + 2 AS INT), 1)) - 1)
             END AS b
      FROM m, unnest(range(0, CASE WHEN L = 0 THEN 64 ELSE L END)) AS u(i)),
    d AS (
      SELECT media_id, i,
             CASE WHEN law = 0 THEN
               -- mu-law expand: u = ~b; t = ((mant*8)+132)*2^seg - 132;
               -- bit 7 of u set = negative
               (CASE WHEN (255 - b) >= 128 THEN -1 ELSE 1 END)
               * (((255 - b) % 16 * 8 + 132)
                  * CAST(POWER(2, ((255 - b) // 16) % 8) AS BIGINT) - 132)
             ELSE
               -- A-law expand: a = b XOR 0x55; seg 0: mant*16+8, else
               -- (mant*16+264)*2^(seg-1); bit 7 of a set = POSITIVE
               (CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END)
               * (CASE WHEN (xor(b, 85) // 16) % 8 = 0
                       THEN xor(b, 85) % 16 * 16 + 8
                       ELSE (xor(b, 85) % 16 * 16 + 264)
                            * CAST(POWER(2, (xor(b, 85) // 16) % 8 - 1)
                                   AS BIGINT) END)
             END AS v
      FROM s)
    SELECT media_id, CAST(i // 256 AS INT) AS win_idx,
           CAST(COUNT(*) AS INT) AS n_frames,
           CAST(SUM(abs(v)) AS BIGINT) AS abs_sum
    FROM d GROUP BY media_id, i // 256
    """,
)
def audio_energy_g711_documents(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """G.711 COMPANDED audio decode as correctness surface — telephony
    mu-law / A-law recordings (format tags 7 / 6 by doc_id % 2,
    `multimodal.attach_audio_g711`) expanded to linear int16 through
    the published CCITT segment/mantissa tables
    (`wav_codec.decode_wav`) and run through the energy-window VAD
    primitive. The oracle replays BOTH expansion formulas in SQL —
    mu-law's complement/bias-132 ladder and A-law's even-bit-inversion
    ladder with its opposite sign convention — so a wrong table entry,
    sign bit, or segment shift anywhere in the 512-code space breaks
    the window sums under the driver hash."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.audio_energy_windows(MM.attach_audio_g711(docs))


@query(
    "video_frames_decoded_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, CAST(doc_id % 2 AS INT) AS tier,
             hex(encode(text)) AS hx, octet_length(encode(text)) AS L,
             CAST(octet_length(encode(text)) % 3 + 2 AS INT) AS nf,
             CAST(octet_length(encode(text)) % 12 + 4 AS INT) AS w,
             CAST(octet_length(encode(text)) % 8 + 4 AS INT) AS h
      FROM documents),
    fr AS (
      SELECT media_id, tier, hx, L, w, h, CAST(f AS INT) AS f
      FROM m, unnest(range(0, nf)) AS u(f)),
    px AS (
      SELECT media_id, tier, w, h, f, CAST(p AS BIGINT) AS p,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((p + 7 * f) % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((p + 7 * f) % L) + 2 AS INT), 1)) - 1)
             END AS v
      FROM fr, unnest(range(0, CAST(w AS BIGINT) * h)) AS u(p)),
    ch AS (
      SELECT media_id, w, h, f, p, CAST(c AS BIGINT) AS c,
             CASE WHEN tier = 0 THEN v
                  WHEN c = 0 THEN v
                  WHEN c = 1 THEN (v + 85) % 256
                  ELSE (v + 170) % 256 END AS cv
      FROM px, unnest(range(0, 3)) AS t(c))
    SELECT media_id, f AS frame_idx, CAST(10.0 AS DOUBLE) AS fps,
           w AS width, h AS height,
           CAST(SUM(cv) AS BIGINT) AS px_sum,
           md5(string_agg(CAST(cv AS VARCHAR), '-' ORDER BY p * 3 + c))
             AS px_fp
    FROM ch GROUP BY media_id, f, w, h
    """,
)
def video_frames_decoded_documents(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """REAL VIDEO DECODE — the last modality leaves the stub tier: each
    doc's text becomes an uncompressed RIFF/AVI clip
    (`multimodal.attach_video` — 8-bit grayscale-palette or 24-bit BGR
    DIB frames by doc_id % 2, `avi_codec.encode_avi`), decoded back
    through the container parser (`avi_codec.decode_avi`: hdrl/strl/movi
    walk, palette expansion, BGR→RGB, bottom-up flip, stride strip) and
    fingerprinted per frame (`multimodal.video_frame_stats`). The oracle
    predicts every RGB value of every frame from the text alone, so a
    wrong header writer, chunk walker, palette, row order, or stride
    breaks the md5. Compressed codecs remain the declared null-route
    (no libav in this environment)."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.video_frame_stats(MM.attach_video(docs))


@query(
    "video_rle_frames_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             hex(encode(text)) AS hx, octet_length(encode(text)) AS L,
             CAST(octet_length(encode(text)) % 3 + 2 AS INT) AS nf,
             CAST(octet_length(encode(text)) % 11 + 4 AS INT) AS w,
             CAST(octet_length(encode(text)) % 7 + 4 AS INT) AS h
      FROM documents),
    fr AS (
      SELECT media_id, hx, L, w, h, CAST(f AS INT) AS f
      FROM m, unnest(range(0, nf)) AS u(f)),
    px AS (
      SELECT media_id, w, h, f, CAST(p AS BIGINT) AS p,
             CASE WHEN L = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((p // 3 + 5 * f) % L) + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((p // 3 + 5 * f) % L) + 2 AS INT), 1)) - 1)
             END AS v
      FROM fr, unnest(range(0, CAST(w AS BIGINT) * h)) AS u(p)),
    ch AS (
      SELECT media_id, w, h, f, p, CAST(c AS BIGINT) AS c, v AS cv
      FROM px, unnest(range(0, 3)) AS t(c))
    SELECT media_id, f AS frame_idx, CAST(10.0 AS DOUBLE) AS fps,
           w AS width, h AS height,
           CAST(SUM(cv) AS BIGINT) AS px_sum,
           md5(string_agg(CAST(cv AS VARCHAR), '-' ORDER BY p * 3 + c))
             AS px_fp
    FROM ch GROUP BY media_id, f, w, h
    """,
)
def video_rle_frames_documents(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """REAL COMPRESSED video decode — BI_RLE8 leaves the null-route
    tier: each doc's text becomes an RLE8-compressed grayscale-palette
    RIFF/AVI clip (`multimodal.attach_video_rle` →
    `avi_codec.encode_avi_rle8`: encoded-run packets, absolute/literal
    packets, end-of-line and end-of-bitmap escapes), decoded back
    through the container parser (`avi_codec.decode_avi` →
    `_decode_rle8`) and fingerprinted per frame. The oracle predicts
    every RGB value of every frame from the text alone, so a wrong run
    length, literal pad, row escape, palette expansion, or bottom-up
    flip breaks the md5. Inter-frame predictive codecs (H.264 etc.)
    remain the declared null-route (no libav in this environment)."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return MM.video_frame_stats(MM.attach_video_rle(docs))


# ---------------------------------------------------------------------------
# streaming maintained k-means codebook — streaming/codebook_maintenance.py
# ---------------------------------------------------------------------------

def _build_codebook(spark: SparkSession, sf_dir: str, stage: str) -> None:
    """Stream the maintained mini-batch k-means codebook into
    `stage/cbk`: the vec_id%5!=0 slice bootstraps (Lloyd x2 + state
    base), the %5==0 slice arrives as two file-source micro-batches
    (%10==0 then %10==5, mtime-pinned arrival order), each appended as a
    ledger delta."""
    from .streaming.codebook_maintenance import (bootstrap_codebook,
                                                 streaming_codebook_maintain)

    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    bootstrap_codebook(emb.filter(F.col("vec_id") % 5 != 0),
                       os.path.join(stage, "cbk"))
    stream = _feed_stream(spark, stage, [
        emb.filter(F.col("vec_id") % 10 == r) for r in (0, 5)])
    streaming_codebook_maintain(
        stream, os.path.join(stage, "cbk"), os.path.join(stage, "ckpt"))


def _streaming_codebook_dir(spark: SparkSession, sf_dir: str) -> str:
    """The maintained codebook (`_build_codebook`), built once per parquet
    snapshot and left uncompacted."""
    return os.path.join(_snapshot_dir(
        sf_dir, "embeddings", "wde_cbk_adm2",
        lambda stage: _build_codebook(spark, sf_dir, stage)), "cbk")


def _streaming_codebook_oracle() -> str:
    from .queries import _IVF_ASSIGN, _IVF_UPDATE

    init_f = "WHERE n.vec_id % 5 <> 0"
    return """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    nv AS (SELECT vec_id,
                  list_transform(v, x -> x / sqrt(list_aggregate(
                      list_transform(v, y -> y*y), 'sum'))) AS nv
           FROM v),
    seed AS (
      SELECT rn - 1 AS cell, nv AS cv FROM (
        SELECT nv, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM nv WHERE vec_id % 5 <> 0) WHERE rn <= 16
    ),
    a1 AS (""" + _IVF_ASSIGN.format(cents="seed", qfilter=init_f,
                                    rncond="= 1") + """),
    """ + _IVF_UPDATE.format(it=1, prev="seed") + """,
    a2 AS (""" + _IVF_ASSIGN.format(cents="c1f", qfilter=init_f,
                                    rncond="= 1") + """),
    """ + _IVF_UPDATE.format(it=2, prev="c1f") + """,
    a3 AS (""" + _IVF_ASSIGN.format(cents="c2f", qfilter=init_f,
                                    rncond="= 1") + """),
    st0 AS (
      SELECT a.cell, CAST(t.d AS INT) AS d, COUNT(*) AS n,
             SUM(n.nv[CAST(t.d AS INT)+1]) AS s
      FROM a3 a JOIN nv n USING (vec_id), unnest(range(0, 64)) AS t(d)
      GROUP BY 1, 2),
    cb0 AS (
      SELECT b.cell, b.d, COALESCE(s0.n, 0) AS n, COALESCE(s0.s, 0.0) AS s,
             b.bootv,
             CASE WHEN COALESCE(s0.n, 0) > 0 THEN s0.s / s0.n
                  ELSE b.bootv END AS m
      FROM (SELECT c.cell, CAST(t.d AS INT) AS d,
                   c.cv[CAST(t.d AS INT)+1] AS bootv
            FROM c2f c, unnest(range(0, 64)) AS t(d)) b
      LEFT JOIN st0 s0 USING (cell, d)),
    cb0l AS (SELECT cell, list(m ORDER BY d) AS cv FROM cb0 GROUP BY cell),
    b1 AS (""" + _IVF_ASSIGN.format(cents="cb0l",
                                    qfilter="WHERE n.vec_id % 10 = 0",
                                    rncond="= 1") + """),
    s1 AS (
      SELECT a.cell, CAST(t.d AS INT) AS d, COUNT(*) AS n,
             SUM(n.nv[CAST(t.d AS INT)+1]) AS s
      FROM b1 a JOIN nv n USING (vec_id), unnest(range(0, 64)) AS t(d)
      GROUP BY 1, 2),
    cb1 AS (
      SELECT c0.cell, c0.d, c0.n + COALESCE(s1.n, 0) AS n,
             c0.s + COALESCE(s1.s, 0.0) AS s, c0.bootv,
             CASE WHEN c0.n + COALESCE(s1.n, 0) > 0
                  THEN (c0.s + COALESCE(s1.s, 0.0))
                       / (c0.n + COALESCE(s1.n, 0))
                  ELSE c0.bootv END AS m
      FROM cb0 c0 LEFT JOIN s1 USING (cell, d)),
    cb1l AS (SELECT cell, list(m ORDER BY d) AS cv FROM cb1 GROUP BY cell),
    b2 AS (""" + _IVF_ASSIGN.format(cents="cb1l",
                                    qfilter="WHERE n.vec_id % 10 = 5",
                                    rncond="= 1") + """),
    s2 AS (
      SELECT a.cell, CAST(t.d AS INT) AS d, COUNT(*) AS n,
             SUM(n.nv[CAST(t.d AS INT)+1]) AS s
      FROM b2 a JOIN nv n USING (vec_id), unnest(range(0, 64)) AS t(d)
      GROUP BY 1, 2),
    cb2 AS (
      SELECT c1.cell, c1.d, c1.n + COALESCE(s2.n, 0) AS n,
             c1.s + COALESCE(s2.s, 0.0) AS s,
             CASE WHEN c1.n + COALESCE(s2.n, 0) > 0
                  THEN (c1.s + COALESCE(s2.s, 0.0))
                       / (c1.n + COALESCE(s2.n, 0))
                  ELSE c1.bootv END AS m
      FROM cb1 c1 LEFT JOIN s2 USING (cell, d))
    SELECT CAST(cell AS INT) AS cell, d, CAST(n AS BIGINT) AS n,
           ROUND(m, 6) AS m
    FROM cb2
    """


@query("streaming_kmeans_codebook_embeddings", _streaming_codebook_oracle())
def streaming_kmeans_codebook_embeddings(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    """STREAMING-MAINTAINED k-means codebook
    (`streaming/codebook_maintenance.py` — mini-batch k-means on a
    delta ledger, read merged and uncompacted, the admission-family
    treatment for the clustering/ANN model itself): the vec_id%5!=0 slice bootstraps the codebook (the
    IVF family's md5-seeded 2-round Lloyd) and freezes its members into
    per-(cell, dim) (count, sum) state; two embedding micro-batches then
    assign under the centroids CURRENT AT ARRIVAL and fold pure (n, s)
    additions into the state. Assignments are frozen at arrival —
    re-clustering the world stays the batch operator's job. The oracle
    replays the whole history out of the IVF SQL blocks (seed → Lloyd×2
    → per-batch assign-under-current → cumulative running mean), so
    every centroid coordinate AND member count of the maintained model
    is hash-checked."""
    from .streaming.codebook_maintenance import read_codebook

    cbk_dir = _streaming_codebook_dir(spark, sf_dir)
    return read_codebook(spark, cbk_dir).select(
        "cell", "d", "n", F.round("m", 6).alias("m"))


def _streaming_codebook_delta_dir(spark: SparkSession, sf_dir: str) -> str:
    """The maintained codebook (`_build_codebook`), built once per parquet
    snapshot and COMPACTED: after the stream drains, `compaction.compact`
    folds b0+d1+d2 into one base."""
    from .streaming.compaction import compact

    def build(stage: str) -> None:
        _build_codebook(spark, sf_dir, stage)
        compact(spark, os.path.join(stage, "cbk", "state"), ["cell", "d"])

    return os.path.join(
        _snapshot_dir(sf_dir, "embeddings", "wde_cbk_delta", build), "cbk")


def _streaming_pq_delta_dir(spark: SparkSession, sf_dir: str) -> str:
    """The maintained PQ index (`queries._build_pq_index`), built once per
    parquet snapshot and COMPACTED: the ledger folds to one base after
    the stream."""
    from .queries import _build_pq_index
    from .streaming.compaction import compact

    def build(stage: str) -> None:
        _build_pq_index(spark, sf_dir, stage)
        compact(spark, os.path.join(stage, "index", "codes"), ["vec_id"])

    return os.path.join(
        _snapshot_dir(sf_dir, "embeddings", "wde_pq_delta", build), "index")


from .queries import ORACLE as _CORE_ORACLE  # noqa: E402  (fully built:
# queries.py registers its own entries before importing this module)


@query("pq_codes_compaction_ann", _CORE_ORACLE["streaming_pq_adc_ann"])
def pq_codes_compaction_ann(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """DELTA-LEDGER maintained PQ index, ADC-queried AFTER COMPACTION
    (`embedding_admission.streaming_pq_index_maintain` +
    `streaming/compaction.py`): the idiom's best case — codes are
    append-only under a frozen codebook, so a micro-batch writes
    O(batch) encoded rows with NO ledger read at all (~64 B x batch,
    where a full snapshot per batch would rewrite ~640 GB at 10B
    vectors). The query scans the folded base (one FileScan). The
    oracle is IDENTICAL to `streaming_pq_adc_ann`'s full SQL replay
    (frozen-codebook encoding is batching-invariant), so a hash match
    proves compacted read ≡ uncompacted merged read ≡ one-shot batch
    encode."""
    from .streaming.embedding_admission import ann_query

    index_dir = _streaming_pq_delta_dir(spark, sf_dir)
    queries_df = load_table(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") < 8)
    return ann_query(spark, index_dir, queries_df, k=5)


@query("codebook_compaction_embeddings", _streaming_codebook_oracle())
def codebook_compaction_embeddings(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """DELTA-LEDGER maintained codebook, read AFTER COMPACTION
    (`streaming/compaction.py` + `codebook_maintenance.py`): per-batch
    writes are O(batch) delta appends instead of full-state snapshots —
    the table-format (Delta/Iceberg MOR) write path every corpus-sized
    maintained family needs at 100 TB — reads are last-writer-wins
    merge-on-read, and `compact` folds base + deltas back into one base
    (post-compaction read amplification: 1 entry). The oracle is the
    SAME full-history replay that checks the uncompacted ledger
    (`streaming_kmeans_codebook_embeddings`), so a hash match here
    proves compacted read ≡ replayed history ≡ uncompacted read — every
    centroid coordinate and member count."""
    from .streaming.codebook_maintenance import read_codebook

    cbk_dir = _streaming_codebook_delta_dir(spark, sf_dir)
    return read_codebook(spark, cbk_dir).select(
        "cell", "d", "n", F.round("m", 6).alias("m"))


@query(
    "palette_thumbnails_documents",
    """
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS L,
             CAST(octet_length(encode(text)) % 24 + 8 AS INT) AS w,
             CAST(octet_length(encode(text)) % 16 + 8 AS INT) AS h
      FROM documents),
    td AS (
      SELECT media_id, hx, L, w, h,
             CAST(greatest(1, floor(w * least(8.0 / w, 8.0 / h, 1.0)))
                  AS INT) AS tw,
             CAST(greatest(1, floor(h * least(8.0 / w, 8.0 / h, 1.0)))
                  AS INT) AS th
      FROM m),
    px AS (
      SELECT media_id, hx, L, w, h, tw, th, CAST(i AS BIGINT) AS i,
             ((i // tw) * h) // th AS sy,
             ((i % tw) * w) // tw AS sx
      FROM td, unnest(range(0, CAST(tw AS BIGINT) * th)) AS u(i)),
    jv AS (
      SELECT media_id, w, h, tw, th, i,
             CASE WHEN L = 0 THEN 0 ELSE
               ((strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((sy * w + sx) % L) + 1 AS INT), 1)) - 1) * 16
                + (strpos('0123456789ABCDEF', substr(hx,
                   CAST(2 * ((sy * w + sx) % L) + 2 AS INT), 1)) - 1)) % 16
             END AS j
      FROM px),
    val AS (
      SELECT media_id, w, h, tw, th, i, CAST(c AS BIGINT) AS c,
             CASE CAST(c AS INT)
                  WHEN 0 THEN (j * 19) % 256
                  WHEN 1 THEN (j * 37) % 256
                  WHEN 2 THEN (j * 53) % 256
                  ELSE CASE WHEN j = 0 THEN 0 ELSE 255 END END AS v
      FROM jv, unnest(range(0, 4)) AS t(c))
    SELECT media_id, w AS src_w, h AS src_h, tw AS width, th AS height,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           md5(string_agg(CAST(v AS VARCHAR), '-' ORDER BY i * 4 + c))
             AS px_fp
    FROM val GROUP BY media_id, w, h, tw, th
    """,
)
def palette_thumbnails_documents(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TRANSPARENT thumbnailing through the indexed tier end-to-end: the
    palette+tRNS fixtures decode to RGBA (`decode_png`'s alpha
    expansion), NN-resample in 4 channels, and re-encode through the
    tier-selecting `encode_png_auto` — which lands back on the
    palette+tRNS tier here (16 colors, one alpha per color), so the
    verify pass (`thumbnail_stats`: decode the re-encoded BYTES, then
    fingerprint) exercises palette decode → RGBA resample → palette
    re-encode → palette decode. The oracle predicts every RGBA value of
    every thumbnail pixel from the text alone; alpha survives the whole
    chain or the md5 breaks."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents", spread=True)
    thumbs = MM.resize_images(MM.attach_palette_images(docs))
    return MM.thumbnail_stats(thumbs)


def _doc_ledger_clustered_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per parquet snapshot) a documents DELTA LEDGER and
    fold it RANGE-CLUSTERED: base b0 = doc_id%3==0, delta d1 = %3==1
    upserts, delta d2 = %3==2 upserts (minus the %10==7 keys) plus
    tombstones for EVERY doc_id%10==7 — so the merged table is exactly
    `documents WHERE doc_id % 10 <> 7`, an oracle DuckDB states
    directly. All writes carry `stats_col`/`key_cols` (entry-level
    data skipping + the LWW write contract), and the fold runs with
    `cluster_cols=["doc_id"]` + a small `target_file_bytes`, so the
    compacted base is range-clustered across several part-files —
    the layout `stress_cluster_layout.py` receipts for pruning."""
    from .streaming.compaction import compact, write_base, write_delta

    def build(stage: str) -> None:
        sledger = os.path.join(stage, "ledger")
        docs = load_table(spark, sf_dir, "documents")
        write_base(docs.filter(F.col("doc_id") % 3 == 0), sledger, 0,
                   stats_col="doc_id", key_cols=["doc_id"])
        write_delta(docs.filter(F.col("doc_id") % 3 == 1), sledger, 1,
                    stats_col="doc_id", key_cols=["doc_id"])
        upserts = docs.filter((F.col("doc_id") % 3 == 2)
                              & (F.col("doc_id") % 10 != 7))
        tombs = docs.filter(F.col("doc_id") % 10 == 7).select(
            "doc_id", *[F.lit(None).cast(docs.schema[c].dataType).alias(c)
                        for c in docs.columns if c != "doc_id"],
            F.lit("D").alias("_op"))
        write_delta(upserts.withColumn("_op", F.lit("U")).unionByName(tombs),
                    sledger, 2, stats_col="doc_id", key_cols=["doc_id"])
        # OPTIMIZE/VACUUM split: the fold lands (range reads touch only the
        # clustered base) but the absorbed deltas stay on disk serving the
        # change feed (`ledger_change_feed_documents`) and as_of history —
        # the retention trade a production deployment makes for its CDC
        # consumers
        compact(spark, sledger, ["doc_id"],
                vacuum_absorbed=False,
                target_file_bytes=64 * 1024,
                cluster_cols=["doc_id"])

    # "2": the layout retains the absorbed (unvacuumed) deltas for the
    # change feed, unlike the earlier immediate-vacuum layout
    return os.path.join(
        _snapshot_dir(sf_dir, "documents", "wde_doc_ledger2", build),
        "ledger")


@query(
    "ledger_clustered_range_documents",
    """
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id % 10 <> 7
      AND doc_id BETWEEN
        (SELECT CAST(FLOOR(COUNT(*) / 4.0) AS BIGINT) FROM documents)
        AND (SELECT CAST(FLOOR(COUNT(*) / 4.0) AS BIGINT)
                    + CAST(FLOOR(COUNT(*) / 10.0) AS BIGINT)
             FROM documents)
    ORDER BY doc_id
    """,
)
def ledger_clustered_range_documents(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """RANGE READ over a range-clustered, manifest-committed delta
    ledger: documents maintained as base + upsert/tombstone deltas
    (merged table = `doc_id % 10 <> 7`), folded with
    `compact(cluster_cols=["doc_id"], target_file_bytes=64KB)` so the
    base is range-clustered across part-files, then read through
    `read_merged(key_range=(n//4, n//4 + n//10))` — the two-granularity
    data-skipping path: entry-level `_ledger_stats` pruning picks the
    one live base, the pushed range filter prunes parquet row groups
    inside it via the clustered footer min/max. DuckDB states the same
    table + range directly against the raw parquet.

    At 100 TB: the read is ONE pruned FileScan — no window, no join
    (the fold already materialized LWW), and the clustered layout means
    the scan touches ~(range fraction) of the files instead of all of
    them (receipt: measurements/stress_cluster_layout_r12.json)."""
    from .streaming.compaction import read_merged

    ledger = _doc_ledger_clustered_dir(spark, sf_dir)
    n = load_table(spark, sf_dir, "documents").count()
    lo, hi = n // 4, n // 4 + n // 10
    return (read_merged(spark, ledger, ["doc_id"], key_range=(lo, hi))
            .select("doc_id", "lang", "source", "n_chars")
            .orderBy("doc_id"))


@query(
    "ledger_change_feed_documents",
    """
    SELECT doc_id, lang, source, n_chars, 'U' AS _change
    FROM documents WHERE doc_id % 3 = 2 AND doc_id % 10 <> 7
    UNION ALL
    SELECT doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), 'D'
    FROM documents WHERE doc_id % 10 = 7
    ORDER BY doc_id
    """,
)
def ledger_change_feed_documents(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """CHANGE FEED between two ledger snapshots (the table formats' CDC
    read): `read_changes(from_seq=1, to_seq=2)` over the documents
    ledger emits exactly delta d2's net effect — the %3==2 upserts
    (minus the %10==7 keys) and a delete row per %10==7 tombstone —
    reading ONLY the window's deltas, never a base, so an incremental
    consumer pays O(changed rows) regardless of table size. The ledger
    was folded with the OPTIMIZE/VACUUM split, so the feed stays
    readable across the fold (retention serving CDC). DuckDB states the
    same change set directly from the raw parquet.

    At 100 TB: this is how a downstream materialization keeps up with a
    continuously-maintained corpus — per-sync cost tracks ingest rate,
    not corpus size; the alternative (diff two full snapshots) is two
    table scans plus a table-sized join."""
    from .streaming.compaction import read_changes

    ledger = _doc_ledger_clustered_dir(spark, sf_dir)
    return (read_changes(spark, ledger, ["doc_id"], 1, 2)
            .select("doc_id", "lang", "source", "n_chars", "_change")
            .orderBy("doc_id"))
