"""Relational query surface (SURVEY.md §2.6): joins (broadcast/shuffle,
semi/anti), aggregations (incl. distinct, rollup/cube/grouping sets),
window functions, sorts/top-k, set operations, scalar date/string/JSON
functions — all Spark built-ins so Catalyst gets full pushdown/pruning.

Every query has a DuckDB oracle in ORACLES with identical output column
names. Double aggregates use the decimal-cast strategy from _util (exact,
order-invariant, cross-engine identical).

The reference (fogti/esvc) has NO relational operators (SURVEY.md §2.6);
this surface is what the driver's correctness harness exercises, delivered
entirely by Catalyst built-ins.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table as T
from ._util import davg, dec, dsum, sql_davg, sql_dsum, tracked_persist as _tp

# ---------------------------------------------------------------- q01
# TPC-H Q1-style pricing summary: scan + filter + groupBy agg.
# At 100 TB: partial (map-side) aggregation on 6 groups makes this a pure
# scan-bound query; the shipdate filter is pushed to the parquet scan.


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 2).alias("sum_qty"),
            dsum("l_extendedprice", 2).alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity", 2).alias("avg_qty"),
            davg("l_extendedprice", 2).alias("avg_price"),
            davg("l_discount", 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 2)} AS sum_qty,
       {sql_dsum('l_extendedprice', 2)} AS sum_base_price,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       {sql_davg('l_quantity', 2)} AS avg_qty,
       {sql_davg('l_extendedprice', 2)} AS avg_price,
       {sql_davg('l_discount', 2)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

# ---------------------------------------------------------------- q03
# TPC-H Q3-style shipping priority: 3-way join + agg + deterministic top-k.
# customer is the small side (broadcast); orders⋈lineitem shuffles on
# orderkey. Top-k ties broken by (o_orderdate, l_orderkey) so the row set
# is deterministic across engines.


def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_Q03_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""

# ---------------------------------------------------------------- q04
# Order-priority checking: EXISTS semi-join (left_semi) with an inequality
# condition, then count by priority.


def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q04_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""

# ---------------------------------------------------------------- q05
# TPC-H Q5-style local supplier volume: 6-way join through region→nation
# with the customer-nation == supplier-nation co-location condition.
# region/nation/supplier broadcast; the big orders⋈lineitem join shuffles.


def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    nat = T(spark, sf_dir, "nation")
    reg = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
    )


_Q05_SQL = f"""
SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""

# ---------------------------------------------------------------- q06
# Filter-only revenue forecast: all three predicates push to the parquet
# scan (PushedFilters) and only 3 columns are read (ReadSchema pruning).


def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"))
    )


_Q06_SQL = f"""
SELECT {sql_dsum('l_extendedprice * l_discount', 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

# ---------------------------------------------------------------- q07
# Volume shipping between two nations (supplier nation ↔ customer nation),
# grouped by year: join reordering + scalar date function (year).


def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    supp = T(spark, sf_dir, "supplier")
    n1 = T(spark, sf_dir, "nation").withColumnRenamed("n_name", "supp_nation")
    n2 = T(spark, sf_dir, "nation").withColumnRenamed("n_name", "cust_nation")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == n1.n_nationkey)
        .join(F.broadcast(n2), cust.c_nationkey == n2.n_nationkey)
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
    )


_Q07_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {sql_dsum('volume', 4)} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
"""

# ---------------------------------------------------------------- q09
# Product-profit proxy by supplier nation and year (no ps_supplycost in the
# schema; cost proxied by 10% of retail price × quantity).


def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    supp = T(spark, sf_dir, "supplier")
    part = T(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    nat = T(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - (
        F.col("p_retailprice") * 0.1
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("n_name", "o_year")
        .agg(dsum(amount, 6).alias("sum_profit"))
    )


_Q09_SQL = f"""
SELECT n_name, o_year, {sql_dsum('amount', 6)} AS sum_profit
FROM (
  SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice * (1 - l_discount) - (p_retailprice * 0.1) * l_quantity AS amount
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_type = 'PROMO'
)
GROUP BY n_name, o_year
"""

# ---------------------------------------------------------------- q10
# Returned-item reporting: join + agg + deterministic top-20.


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = T(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

# ---------------------------------------------------------------- q12
# Ship-lag buckets by order priority: conditional aggregation (CASE WHEN
# inside SUM) + date arithmetic (datediff).


def q12_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(lag <= 30, 1).otherwise(0)).alias("fast_count"),
            F.sum(F.when(lag > 30, 1).otherwise(0)).alias("slow_count"),
            F.max(lag).alias("max_lag_days"),
        )
    )


_Q12_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN DATE_DIFF('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS fast_count,
       CAST(SUM(CASE WHEN DATE_DIFF('day', o_orderdate, l_shipdate) >  30 THEN 1 ELSE 0 END) AS BIGINT) AS slow_count,
       CAST(MAX(DATE_DIFF('day', o_orderdate, l_shipdate)) AS INTEGER) AS max_lag_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

# ---------------------------------------------------------------- q13
# Customer order-count distribution: LEFT OUTER join + two-level aggregate.


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""

# ---------------------------------------------------------------- q14
# Promo revenue share: conditional aggregation producing a ratio (single
# IEEE division of two exact decimal-derived doubles).


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = T(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (100.0 * F.sum(dec(promo, 4)).cast("double") / F.sum(dec(disc_price, 4)).cast("double")).alias(
                "promo_revenue_pct"
            )
        )
    )


_Q14_SQL = """
SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate <  TIMESTAMP '1997-10-01'
"""

# ---------------------------------------------------------------- q15
# Top supplier by revenue: CTE + agg + join back on the max (TPC-H Q15
# shape without the view).


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = T(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("total_revenue")
    )
    max_rev = rev.agg(F.max("total_revenue").alias("m"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == max_rev.m)
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey, {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""

# ---------------------------------------------------------------- q16
# Parts/supplier relationship: COUNT(DISTINCT) under a NOT-IN-style
# exclusion (left_anti join on the supplier side).


def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    bad_supp = T(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""

# ---------------------------------------------------------------- q17
# Small-quantity-order revenue: join against a per-part average (correlated
# scalar subquery decorrelated into an aggregate + join).


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (0.2 * davg("l_quantity", 2)).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == avg_qty.ap_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((dsum("l_extendedprice", 2) / 7.0).alias("avg_yearly"))
    )


_Q17_SQL = f"""
WITH avg_qty AS (
  SELECT l_partkey AS ap_partkey, 0.2 * ({sql_davg('l_quantity', 2)}) AS qty_threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT {sql_dsum('l_extendedprice', 2)} / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_qty ON l_partkey = ap_partkey
WHERE p_brand = 'Brand#3' AND l_quantity < qty_threshold
"""

# ---------------------------------------------------------------- q18
# Large-volume customers: HAVING on an exact decimal sum + join back.


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", 2).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


_Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM (
  SELECT l_orderkey, {sql_dsum('l_quantity', 2)} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {sql_dsum('l_quantity', 2)} > 200
)
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""

# ---------------------------------------------------------------- q22
# Dormant high-balance customers: scalar aggregate subquery + anti-join.


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-balance customers with no 1996 orders: scalar aggregate
    subquery (broadcast cross join) + anti-join against a filtered order
    set (every customer has *some* order in this data, so the anti-join is
    date-bounded to stay non-trivial)."""
    cust = T(spark, sf_dir, "customer")
    orders96 = T(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1996)
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal", 2).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders96, cust.c_custkey == orders96.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", 2).alias("totacctbal"),
        )
    )


_Q22_SQL = f"""
SELECT c_nationkey, COUNT(*) AS numcust, {sql_dsum('c_acctbal', 2)} AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT {sql_davg('c_acctbal', 2)} FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND EXTRACT(year FROM o_orderdate) = 1996)
GROUP BY c_nationkey
"""

# ---------------------------------------------------------------- window functions


def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice: ROW_NUMBER window. Fully
    deterministic ordering via (o_totalprice DESC, o_orderkey)."""
    orders = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_QWINDOW_TOP_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
  FROM orders
)
WHERE rn <= 3
"""


def q_window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend + previous order price: frame-based SUM
    and LAG. The running sum is an exact decimal accumulated in a fully
    deterministic order (o_orderdate, o_orderkey)."""
    orders = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec("o_totalprice", 2)).over(run).cast("double").alias("running_spend"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.row_number().over(w).cast("int").alias("order_seq"),
    )


_QWINDOW_RUN_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
       LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS order_seq
FROM orders
"""

# ---------------------------------------------------------------- rollup / cube


def q_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity", 2).alias("sum_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


_QROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       {sql_dsum('l_quantity', 2)} AS sum_qty,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("sum_price"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
    )


_QCUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 2)} AS sum_price,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

# ---------------------------------------------------------------- pivot / unpivot


def q_pivot_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: quantity matrix of return flag x line status. The pivoted
    value list is pinned (A/N/R), so the output schema is static — the
    precondition for pivot at scale (a dynamic value scan would need an
    extra pass). One shuffle on the group key; each cell is the exact
    decimal sum."""
    li = T(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum("l_quantity", 2))
    )
    return p.select(
        "l_linestatus",
        F.col("A").alias("qty_a"),
        F.col("N").alias("qty_n"),
        F.col("R").alias("qty_r"),
    )


_QPIVOT_SQL = f"""
SELECT l_linestatus,
       {sql_dsum("CASE WHEN l_returnflag = 'A' THEN l_quantity END", 2)} AS qty_a,
       {sql_dsum("CASE WHEN l_returnflag = 'N' THEN l_quantity END", 2)} AS qty_n,
       {sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END", 2)} AS qty_r
FROM lineitem GROUP BY l_linestatus
"""


def q_unpivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): per-status order stats widened by aggregation, then
    melted back to (status, measure, value) rows — the long format a
    metrics store ingests. Narrow transform after one aggregate."""
    orders = T(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        dsum("o_totalprice", 2).alias("sum_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    return wide.unpivot(
        "o_orderstatus",
        ["n_orders", "sum_price", "min_price", "max_price"],
        "measure",
        "value",
    )


_QUNPIVOT_SQL = f"""
WITH wide AS (
  SELECT o_orderstatus,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         {sql_dsum('o_totalprice', 2)} AS sum_price,
         MIN(o_totalprice) AS min_price,
         MAX(o_totalprice) AS max_price
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, measure, value
FROM wide
UNPIVOT (value FOR measure IN (n_orders, sum_price, min_price, max_price))
"""


# ---------------------------------------------------------------- full outer


def q_fullouter_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: daily order counts vs daily shipment counts —
    days that only ordered, only shipped, or both all survive. Two
    map-side-combined aggregates then one join of date-cardinality
    tables (tiny at any sf)."""
    # date_trunc keeps d a TIMESTAMP: Spark DATE surfaces as python
    # date objects while DuckDB DATE arrives as datetime64 — a dtype
    # mismatch under the driver's type-sensitive hash
    o = (
        T(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    s = (
        T(spark, sf_dir, "lineitem")
        .groupBy(F.date_trunc("day", "l_shipdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_shipped"))
    )
    return o.join(s, "d", "full_outer").select(
        "d",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_shipped", F.lit(0)).alias("n_shipped"),
    )


_QFULLOUTER_SQL = """
WITH o AS (SELECT date_trunc('day', o_orderdate) AS d, COUNT(*) AS n_orders
           FROM orders GROUP BY 1),
s AS (SELECT date_trunc('day', l_shipdate) AS d, COUNT(*) AS n_shipped
      FROM lineitem GROUP BY 1)
SELECT COALESCE(o.d, s.d) AS d,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(n_shipped, 0) AS n_shipped
FROM o FULL OUTER JOIN s ON o.d = s.d
"""


def q_window_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE deciles of customer lifetime spend (ties broken by custkey so
    bucket assignment is total-order deterministic), re-aggregated to one
    row per decile.

    Scale (round 7, the q_ev_rfm shape): the decile comes from a
    partition-parallel global rank (core.spark_engine.grouped_row_number
    with no group columns — range-partition, per-partition row_number,
    broadcast offsets) and exact integer NTILE-from-rank arithmetic
    (_util.ntile_from_rank),
    never an unpartitioned NTILE window funnelling the |customers| table
    through one task. Output and oracle unchanged."""
    from esvc_spark.core.spark_engine import grouped_row_number

    from ._util import ntile_from_rank

    spend = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(dsum("o_totalprice", 2).alias("spend"))
    )
    # |spend| = distinct custkeys ≤ |orders|: metadata-count size gate
    from esvc_spark.catalog import table_rows

    ranked = grouped_row_number(
        spark, spend, [], [F.desc("spend"), F.asc("o_custkey")], "_i",
        n_rows=table_rows(spark, sf_dir, "orders"),
    )
    # n from the rank frame (max rank = row count; checkpoint-pinned on
    # the two-phase path, a re-derived — deterministic — subtree on the
    # size-gated local path)
    n = ranked.agg(F.max("_i").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("decile", ntile_from_rank("_i", "_n", 10))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("spend", 2).alias("total_spend"),
            F.min("spend").alias("min_spend"),
            F.max("spend").alias("max_spend"),
        )
    )


_QDECILES_SQL = f"""
WITH spend AS (
  SELECT o_custkey, {sql_dsum('o_totalprice', 2)} AS spend
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT spend, NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
  FROM spend
)
SELECT decile, COUNT(*) AS n_customers,
       {sql_dsum('spend', 2)} AS total_spend,
       MIN(spend) AS min_spend, MAX(spend) AS max_spend
FROM tiled GROUP BY decile
"""


# ---------------------------------------------------------------- profiling


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile (the data-quality audit a pipeline
    runs on every new partition): per numeric column — rows, nulls,
    distincts, min/max. One pass over the scan; all measures are
    map-side-combinable aggregates, then a narrow unpivot to long form."""
    li = T(spark, sf_dir, "lineitem")
    wide = li.agg(
        *[
            a
            for c in _PROFILE_COLS
            for a in (
                F.count(F.lit(1)).alias(f"{c}__n"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias(f"{c}__nulls"),
                F.countDistinct(c).alias(f"{c}__distinct"),
                F.min(c).alias(f"{c}__min"),
                F.max(c).alias(f"{c}__max"),
            )
        ]
    )
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__n").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").cast("double").alias("vmin"),
            F.col(f"{c}__max").cast("double").alias("vmax"),
        )
        for c in _PROFILE_COLS
    ]
    return wide.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


_QPROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS vmin, CAST(MAX({c}) AS DOUBLE) AS vmax
FROM lineitem"""
    for c in _PROFILE_COLS
)


# ---------------------------------------------------------------- set operations


def q_setops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over yearly active-customer sets, reduced
    to tagged counts (one row per tag)."""
    orders = T(spark, sf_dir, "orders")
    c96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    c97 = orders.filter(F.year("o_orderdate") == 1997).select("o_custkey").distinct()
    both = c96.intersect(c97).agg(F.count(F.lit(1)).alias("n")).withColumn("tag", F.lit("both"))
    only96 = c96.exceptAll(c97).agg(F.count(F.lit(1)).alias("n")).withColumn("tag", F.lit("only_1996"))
    either = c96.union(c97).distinct().agg(F.count(F.lit(1)).alias("n")).withColumn("tag", F.lit("either"))
    return both.unionByName(only96).unionByName(either).select("tag", "n")


_QSETOPS_SQL = """
WITH c96 AS (SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996),
     c97 AS (SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997)
SELECT 'both' AS tag, COUNT(*) AS n FROM (SELECT * FROM c96 INTERSECT SELECT * FROM c97)
UNION ALL
SELECT 'only_1996' AS tag, COUNT(*) AS n FROM (SELECT * FROM c96 EXCEPT SELECT * FROM c97)
UNION ALL
SELECT 'either' AS tag, COUNT(*) AS n FROM (SELECT * FROM c96 UNION SELECT * FROM c97)
"""


# ---------------------------------------------------------------- q02
# TPC-H Q2 shape (min-cost supplier) adapted to this schema: there is no
# partsupp table, so the part↔supplier relation and its "supply cost" are
# derived from lineitem (per-(part,supplier) exact-decimal average sale
# price). Pattern exercised: decorrelated per-group MIN + join back +
# multi-dim join (supplier→nation→region) + deterministic top-k.


def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    supp = T(spark, sf_dir, "supplier")
    nat = T(spark, sf_dir, "nation")
    reg = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # semi-join the fact side down to the ~1% of parts that survive the
    # predicate BEFORE the aggregate: the shuffle input shrinks from all
    # of lineitem to just the qualifying parts' rows (same result — the
    # per-part min never mixes parts, and non-qualifying parts would be
    # dropped by the final inner join anyway)
    cost = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(davg("l_extendedprice", 2).alias("supply_cost"))
    )
    w_part = Window.partitionBy("l_partkey")
    best = cost.withColumn("min_cost", F.min("supply_cost").over(w_part)).filter(
        F.col("supply_cost") == F.col("min_cost")
    )
    return (
        best.join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey, "left_semi")
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "supply_cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_Q02_SQL = f"""
WITH cost AS (
  SELECT l_partkey, l_suppkey, {sql_davg('l_extendedprice', 2)} AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
min_cost AS (
  SELECT l_partkey AS mc_partkey, MIN(supply_cost) AS min_cost
  FROM cost GROUP BY l_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, supply_cost
FROM cost
JOIN min_cost ON l_partkey = mc_partkey AND supply_cost = min_cost
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
  AND n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""

# ---------------------------------------------------------------- q08
# TPC-H Q8 national market share: 7-table join (nation twice), per-year
# conditional-share ratio of exact decimal sums. The dimension chain
# (part, supplier, customer, nation×2, region) broadcasts; the
# lineitem⋈orders join is the only large shuffle.


def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("timestamp"))
    )
    part = T(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    cust = T(spark, sf_dir, "customer")
    supp = T(spark, sf_dir, "supplier")
    n1 = T(spark, sf_dir, "nation").alias("n1")  # customer nation
    n2 = T(spark, sf_dir, "nation").alias("n2")  # supplier nation
    reg = T(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("n2.n_name") == "NATION_7", vol).otherwise(F.lit(0.0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(reg), F.col("n1.n_regionkey") == reg.r_regionkey, "left_semi")
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (
                F.sum(dec(target, 4)).cast("double")
                / F.sum(dec(vol, 4)).cast("double")
            ).alias("mkt_share")
        )
    )


_Q08_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_7'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                     AS DECIMAL(18,4))) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY'
  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
  AND n1.n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'AMERICA')
GROUP BY 1
"""

# ---------------------------------------------------------------- q11
# TPC-H Q11 shape (value concentration): per-part sale value for one
# nation's suppliers, kept only where it exceeds a fraction of the
# nation-wide total — a scalar aggregate subquery realized as a broadcast
# cross join against a 1-row DataFrame.


def q11_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    nat = T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nation_li = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey, "left_semi")
    )
    per_part = nation_li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * F.col("l_quantity"), 4).alias("part_value")
    )
    total = per_part.agg(
        (F.sum(dec("part_value", 4)).cast("double") * 0.001).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


_Q11_SQL = f"""
WITH nation_li AS (
  SELECT l_partkey, l_extendedprice, l_quantity
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
),
per_part AS (
  SELECT l_partkey, {sql_dsum('l_extendedprice * l_quantity', 4)} AS part_value
  FROM nation_li GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > (SELECT {sql_dsum('part_value', 4)} * 0.001 FROM per_part)
"""

# ---------------------------------------------------------------- q19
# TPC-H Q19 discounted revenue: disjunction of three conjunctive
# brand/size/quantity clauses. One broadcast join; Catalyst pushes the
# common l_quantity bounds and the OR predicate below the join.


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    clause1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    clause2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    clause3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(clause1 | clause2 | clause3).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue")
    )


_Q19_SQL = f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""

# ---------------------------------------------------------------- q20
# TPC-H Q20 shape (excess-stock suppliers): nested semi-join chain —
# suppliers in one nation whose 1996 shipped volume of 'small%' parts
# exceeds a threshold. partsupp-free adaptation: shipped quantity from
# lineitem stands in for availqty.


def q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = T(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    supp = T(spark, sf_dir, "supplier")
    nat = T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(dsum("l_quantity", 2).alias("small_qty"))
        .filter(F.col("small_qty") > 100.0)
    )
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name")
    )


_Q20_SQL = f"""
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey
    HAVING {sql_dsum('l_quantity', 2)} > 100.0
  )
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_5')
ORDER BY s_name
"""

# ---------------------------------------------------------------- q21
# TPC-H Q21 shape (suppliers who kept waiting): correlated EXISTS +
# NOT-EXISTS with inequality — for finished orders, lineitems whose
# supplier shipped strictly last among >=2 suppliers on the order.
# l_shipdate stands in for the missing receipt/commit dates. Executed as
# a semi-join (another supplier exists) + anti-join (none shipped later).


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = T(spark, sf_dir, "supplier")
    nat = T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    li = T(spark, sf_dir, "lineitem")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    l3 = li.alias("l3")
    base = l1.join(
        orders, F.col("l1.l_orderkey") == orders.o_orderkey, "left_semi"
    )
    with_other = base.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    last_shipper = with_other.join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey"))
        & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
        "left_anti",
    )
    return (
        last_shipper.join(F.broadcast(supp), F.col("l1.l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey, "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_1')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the third grouping-analytics form next to
    rollup/cube): per (flag,status), per flag alone, and grand total —
    one shuffle, Catalyst expands the sets map-side."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice", 2).alias("sum_price"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    )


_QGSETS_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       {sql_dsum('l_extendedprice', 2)} AS sum_price,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


# -------------------------------------------------------- fuzzy matching
# Entity resolution: a "dirty" probe list (customer names with one
# deterministically deleted character — the external-spreadsheet
# scenario) matched back to the customer dimension by edit distance.
# Shape: the probe batch broadcasts, the dimension streams once through
# a length-banded Levenshtein filter — the canonical ER topology; at
# real scale the band predicate becomes a blocking key (length, prefix)
# equality join. Levenshtein is the classic integer DP, identical in
# Spark and DuckDB.

_FUZZY_MOD = 97  # every 97th customer contributes a dirty probe name


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sf-scale customer parquet is one split; without a repartition
    # every Levenshtein evaluation runs on a single core (measured 6.4 s
    # → ~0.5 s at sf0.1). On a real cluster the source's own splits set
    # this.
    cust = (
        T(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .repartition(spark.sparkContext.defaultParallelism, "c_custkey")
    )
    # delete one character at a key-derived position ≥ 10 (inside the
    # numeric suffix of 'Customer#000000123')
    probes = (
        cust.filter(F.col("c_custkey") % _FUZZY_MOD == 0)
        .select(
            F.col("c_custkey").alias("probe_key"),
            F.concat(
                F.expr("substring(c_name, 1, c_custkey % 8 + 9)"),
                F.expr("substring(c_name, c_custkey % 8 + 11, length(c_name))"),
            ).alias("dirty_name"),
        )
    )
    # Two-key blocking, the real ER design: a single-character edit with
    # a one-char length difference leaves EITHER the first 4 digits OR
    # the last 4 digits of the numeric suffix unchanged, so the union of
    # two equality joins has identical recall to the length-banded scan
    # — but evaluates Levenshtein on ~blocks² candidates instead of
    # |dim| × |probes| (6.4 s → sub-second at sf0.1). The oracle keeps
    # the banded formulation: same result set, simpler SQL.
    c_digits = F.substring("c_name", 10, 9)
    d_digits = F.expr("substring(dirty_name, 10, 8)")
    cust_b = cust.select(
        "c_custkey",
        "c_name",
        F.substring(c_digits, 1, 4).alias("k_pre"),
        F.substring(c_digits, 6, 4).alias("k_suf"),
    )
    probes_b = probes.select(
        "probe_key",
        "dirty_name",
        F.substring(d_digits, 1, 4).alias("k_pre"),
        F.substring(d_digits, 5, 4).alias("k_suf"),
    )
    cand = (
        cust_b.join(F.broadcast(probes_b.select("probe_key", "dirty_name", "k_pre")), "k_pre")
        .select("c_custkey", "c_name", "probe_key", "dirty_name")
        .unionByName(
            cust_b.join(
                F.broadcast(probes_b.select("probe_key", "dirty_name", "k_suf")), "k_suf"
            ).select("c_custkey", "c_name", "probe_key", "dirty_name")
        )
        .distinct()
    )
    j = (
        cand.filter(F.abs(F.length("c_name") - F.length("dirty_name")) <= 1)
        .withColumn(
            "edit_distance",
            F.levenshtein("c_name", "dirty_name").cast("int"),
        )
        .filter(F.col("edit_distance") <= 1)
    )
    return j.select(
        "probe_key",
        "dirty_name",
        F.col("c_custkey").alias("matched_key"),
        "c_name",
        "edit_distance",
        (F.col("c_custkey") == F.col("probe_key")).cast("int").alias("is_true_match"),
    )


_FUZZY_SQL = f"""
WITH probes AS (
  SELECT c_custkey AS probe_key,
         substr(c_name, 1, CAST(c_custkey % 8 + 9 AS INT))
           || substr(c_name, CAST(c_custkey % 8 + 11 AS INT), length(c_name))
           AS dirty_name
  FROM customer WHERE c_custkey % {_FUZZY_MOD} = 0
)
SELECT probe_key, dirty_name, c_custkey AS matched_key, c_name,
       CAST(levenshtein(c_name, dirty_name) AS INTEGER) AS edit_distance,
       CAST(c_custkey = probe_key AS INTEGER) AS is_true_match
FROM customer JOIN probes
  ON abs(length(c_name) - length(dirty_name)) <= 1
 AND levenshtein(c_name, dirty_name) <= 1
"""


# ----------------------------------------------------- RANGE-frame window
# Trailing 30-day spend per customer: a RANGE frame over the integer
# order-day (peers at the same day are all included — the semantics a
# ROWS frame gets wrong when a customer places several same-day orders).
# The sum stays DECIMAL through the frame, so DuckDB's segment-tree
# window evaluation and Spark's agree exactly.
#
# Scale: one shuffle on o_custkey + a per-customer sorted pass — the
# same cost envelope as any ordered window; the 30-day frame bound is a
# pointer walk, not a join.


def q_window_trailing_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # o_orderdate arrives TIMESTAMP_NTZ (like events.ts before
    # normalization); datediff on its DATE part is timezone-free in both
    # engines, unlike unix_micros (which rejects NTZ outright)
    orders = T(spark, sf_dir, "orders").withColumn(
        "day",
        F.expr(
            "datediff(cast(o_orderdate as date), date '1970-01-01')"
        ).cast("bigint"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-29, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "day",
        F.sum(dec("o_totalprice", 2)).over(w).cast("double")
        .alias("trailing_30d_spend"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("trailing_30d_orders"),
    )


_QWINDOW_TRAIL_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(o_orderdate::DATE - DATE '1970-01-01' AS BIGINT) AS day,
         o_totalprice
  FROM orders
)
SELECT o_custkey, o_orderkey, day,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY day
                  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS trailing_30d_spend,
       CAST(COUNT(*)
            OVER (PARTITION BY o_custkey ORDER BY day
                  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS trailing_30d_orders
FROM o
"""


# ------------------------------------------------------------- zone maps
# Data-layout effectiveness audit: how many row-group scans would a
# date-predicate workload touch under three physical orderings of
# lineitem — arrival order (l_orderkey, l_linenumber), shipdate-clustered,
# and a worst-case hash scatter? Rows are tiled into _ZM_CHUNKS equal
# chunks per layout (ntile over a fully-pinned total order — the row-group
# model), each chunk keeps a (min, max) shipdate zone map, and the
# workload is one 30-day range predicate per window of the date span. A
# chunk is scanned iff its zone overlaps the predicate; skip_ratio is the
# fraction of (chunk, predicate) cells pruned. This is the measurement
# behind every clustering/Z-order decision at 100 TB: it quantifies what
# parquet row-group pruning would actually deliver per layout.
#
# Scale shape: the tiling is one window per layout over a 3×-unioned
# narrow projection (one shuffle); zone maps aggregate 60k rows → 720;
# the overlap join is an annotated NLJ of 720 zones × ~85 broadcast
# predicates. All date math is integer days. The per-layout ntile is a
# per-layout-partition sort — fine for an audit (run it on a sample, as
# here); at production 100 TB the zone maps come free from the parquet
# footers (row-group min/max stats), no re-sort — this query is the
# decision tool that says whether rewriting the layout is worth it.

_ZM_CHUNKS = 240
_ZM_PRED_DAYS = 30


def q_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        F.expr(
            "datediff(cast(l_shipdate as date), date '1970-01-01')"
        ).cast("bigint").alias("day"),
        # arrival-order surrogate: unique, monotone in insertion order
        F.expr("l_orderkey * 8 + l_linenumber").alias("akey"),
        F.expr(
            "cast(conv(substring(md5(cast(l_orderkey * 8 + l_linenumber"
            " as string)), 1, 15), 16, 10) as bigint)"
        ).alias("hkey"),
    )
    rows = (
        li.select(F.lit("arrival").alias("layout"),
                  F.col("akey").alias("k1"), F.col("akey").alias("k2"), "day")
        .unionAll(
            li.select(F.lit("shipdate").alias("layout"),
                      F.col("day").alias("k1"), F.col("akey").alias("k2"),
                      "day")
        )
        .unionAll(
            li.select(F.lit("hash").alias("layout"),
                      F.col("hkey").alias("k1"), F.col("akey").alias("k2"),
                      "day")
        )
    )
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    # (k1, k2) has ties; day as the last sort key makes tied rows fully
    # interchangeable — chunk aggregates are then order-independent.
    # Chunking is partition-parallel (round 7): grouped_row_number +
    # exact integer NTILE-from-rank, never a per-layout window that
    # funnels each layout's full table through one task.
    from esvc_spark.core.spark_engine import grouped_row_number

    from ._util import ntile_from_rank

    # groups are balanced by construction (each layout = one lineitem
    # copy), so the largest group — the local path's one-task cost — is
    # exactly |lineitem|; below TWO_PHASE_MIN_ROWS the helper takes the
    # per-layout window (3 parallel tasks), above it the two-phase plan
    from esvc_spark.catalog import table_rows

    n_li = table_rows(spark, sf_dir, "lineitem")
    rk = grouped_row_number(
        spark, rows, ["layout"], ["k1", "k2", "day"], "_rk",
        max_group_rows=n_li,
    )
    # per-layout count = |lineitem| EXACTLY (each layout is one unionAll
    # copy of li by construction), so the NTILE denominator is the
    # parquet-footer count — round 11: the previous max(_rk) aggregate
    # re-evaluated the whole 3-layout rank subtree a second time (the
    # scan census read 14 lineitem scans in this one plan); zones is
    # persisted because the overlap join AND the n_chunks count consume
    # it (720 rows).
    zones = (
        rk.withColumn(
            "chunk",
            ntile_from_rank("_rk", f"CAST({n_li} AS BIGINT)", _ZM_CHUNKS),
        )
        .groupBy("layout", "chunk")
        .agg(F.min("day").alias("zmin"), F.max("day").alias("zmax"))
    ).transform(_tp)
    span = T(spark, sf_dir, "lineitem").agg(
        F.expr(
            "min(datediff(cast(l_shipdate as date), date '1970-01-01'))"
        ).cast("bigint").alias("dmin"),
        F.expr(
            "max(datediff(cast(l_shipdate as date), date '1970-01-01'))"
        ).cast("bigint").alias("dmax"),
    )
    preds = span.select(
        F.explode(
            F.expr(f"sequence(0, (dmax - dmin) div {_ZM_PRED_DAYS})")
        ).alias("p"),
        "dmin",
    ).select(
        (F.col("dmin") + F.col("p") * _ZM_PRED_DAYS).alias("pmin"),
        (F.col("dmin") + F.col("p") * _ZM_PRED_DAYS + _ZM_PRED_DAYS - 1)
        .alias("pmax"),
    )
    scanned = (
        zones.join(
            F.broadcast(preds),  # ~85-row broadcast side: annotated NLJ
            (F.col("zmin") <= F.col("pmax")) & (F.col("zmax") >= F.col("pmin")),
        )
        .groupBy("layout")
        .agg(F.count(F.lit(1)).cast("bigint").alias("chunks_scanned"))
    )
    sizes = zones.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks")
    )
    npred = preds.agg(F.count(F.lit(1)).cast("bigint").alias("n_preds"))
    return (
        sizes.join(scanned, "layout")
        .join(F.broadcast(npred))  # single-row broadcast NLJ
        .select(
            "layout",
            "n_chunks",
            "n_preds",
            "chunks_scanned",
            (
                F.lit(1.0).cast("double")
                - F.col("chunks_scanned").cast("double")
                / (F.col("n_chunks") * F.col("n_preds")).cast("double")
            ).alias("skip_ratio"),
        )
    )


_QZONEMAP_SQL = f"""
WITH li AS (
  SELECT CAST(l_shipdate::DATE - DATE '1970-01-01' AS BIGINT) AS day,
         l_orderkey * 8 + l_linenumber AS akey,
         CAST(('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber
                                       AS VARCHAR)), 1, 15)) AS BIGINT)
           AS hkey
  FROM lineitem
),
rows_ AS (
  SELECT 'arrival' AS layout, akey AS k1, akey AS k2, day FROM li
  UNION ALL
  SELECT 'shipdate', day, akey, day FROM li
  UNION ALL
  SELECT 'hash', hkey, akey, day FROM li
),
zones AS (
  SELECT layout, chunk, MIN(day) AS zmin, MAX(day) AS zmax
  FROM (SELECT layout, day,
               NTILE({_ZM_CHUNKS}) OVER (PARTITION BY layout
                                         ORDER BY k1, k2, day) AS chunk
        FROM rows_)
  GROUP BY 1, 2
),
span AS (
  SELECT CAST(MIN(l_shipdate::DATE - DATE '1970-01-01') AS BIGINT) AS dmin,
         CAST(MAX(l_shipdate::DATE - DATE '1970-01-01') AS BIGINT) AS dmax
  FROM lineitem
),
preds AS (
  SELECT dmin + p * {_ZM_PRED_DAYS} AS pmin,
         dmin + p * {_ZM_PRED_DAYS} + {_ZM_PRED_DAYS - 1} AS pmax
  FROM span, unnest(range(0, (dmax - dmin) // {_ZM_PRED_DAYS} + 1)) t(p)
),
scanned AS (
  SELECT layout, CAST(COUNT(*) AS BIGINT) AS chunks_scanned
  FROM zones z JOIN preds p ON z.zmin <= p.pmax AND z.zmax >= p.pmin
  GROUP BY 1
),
sizes AS (
  SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM zones GROUP BY 1
),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_preds FROM preds)
SELECT layout, n_chunks, n_preds, chunks_scanned,
       CAST(1 AS DOUBLE) - CAST(chunks_scanned AS DOUBLE)
         / CAST(n_chunks * n_preds AS DOUBLE) AS skip_ratio
FROM sizes JOIN scanned USING (layout), np
"""


# --------------------------------------------------------------- skyline
# Pareto skyline: the customers not dominated on (total spend, order
# count) — p dominates q iff p is ≥ on both axes and > on at least one.
# The multi-objective "best customers" / "best configs" operator that a
# nested-loop formulation makes O(n²); here it is algebraic:
#   1. aggregate per customer (exact DECIMAL spend — the money grid);
#   2. per distinct spend keep only the max count (dominated within tie);
#   3. sort distinct spends descending: a point survives iff its count
#      beats the running max over all strictly-higher spends (those are
#      ≥-and-> on spend, so any count ≥ ours would dominate);
#   4. join survivors back to customers (exact duplicates — same spend
#      and count — don't dominate each other and all ship).
#
# Scale shape: one per-customer aggregate, one per-spend aggregate, a
# PARTITION-LOCAL skyline prefilter (round 7 — the extension the r6
# comment only named), then the global window over the prefilter's
# survivors. The local pass is the same running-max rule applied within
# each partition (a point dominated by a higher-spend point in its OWN
# partition is dominated globally, so the filter is a strict superset —
# semantics and output unchanged, proven by the unchanged oracle), so
# the only single-task stage sees ~|local staircases| rows, not
# |distinct spends|.


def q_skyline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(dec("o_totalprice", 2)).alias("spend_d"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )
    grp = per.groupBy("spend_d").agg(F.max("n_orders").alias("ymax"))
    lw = (
        Window.partitionBy(F.spark_partition_id())
        .orderBy(F.desc("spend_d"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = (
        grp.withColumn("lmax", F.max("ymax").over(lw))
        .filter(F.col("lmax").isNull() | (F.col("ymax") > F.col("lmax")))
        .drop("lmax")
    )
    w = (
        Window.orderBy(F.desc("spend_d"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        pre.withColumn("runmax", F.max("ymax").over(w))
        .filter(F.col("runmax").isNull() | (F.col("ymax") > F.col("runmax")))
        # sky derives from per: re-alias the join keys so the self-join
        # does not hit Spark's conflicting-attributes resolution
        .select(F.col("spend_d").alias("s_spend"), F.col("ymax").alias("s_y"))
    )
    return per.join(
        F.broadcast(sky),
        (F.col("spend_d") == F.col("s_spend"))
        & (F.col("n_orders") == F.col("s_y")),
    ).select(
        "o_custkey",
        F.col("spend_d").cast("double").alias("total_spend"),
        "n_orders",
    )


_QSKYLINE_SQL = """
WITH per AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_d,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
grp AS (SELECT spend_d, MAX(n_orders) AS ymax FROM per GROUP BY 1),
sky AS (
  SELECT spend_d, ymax
  FROM (SELECT spend_d, ymax,
               MAX(ymax) OVER (ORDER BY spend_d DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS runmax
        FROM grp)
  WHERE runmax IS NULL OR ymax > runmax
)
SELECT p.o_custkey, CAST(p.spend_d AS DOUBLE) AS total_spend, p.n_orders
FROM per p JOIN sky s ON p.spend_d = s.spend_d AND p.n_orders = s.ymax
"""


# ---------------------------------------------------------- data quality
# Declarative data-quality audit (the Deequ/expectations pattern): each
# row is one constraint over one table — range conformance, completeness,
# key uniqueness, referential integrity, value positivity — with the row
# count, violation count, violation fraction, and a 0/1 pass flag. The
# gate a production pipeline runs before publishing a batch; at 100 TB
# each check is a single scan-bound aggregate (the referential check is
# one anti-join with the dimension side broadcast), and all checks per
# table can share one scan.

def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table as _T

    li = _T(spark, sf_dir, "lineitem")
    orders = _T(spark, sf_dir, "orders")
    cust = _T(spark, sf_dir, "customer")
    ev = _T(spark, sf_dir, "events")

    def check(df, tbl, name, bad_col):
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(bad_col.cast("int")).cast("bigint").alias("n_bad"),
        )

    rows = (
        check(
            li, "lineitem", "quantity_in_1_50",
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
        )
        .unionAll(
            check(li, "lineitem", "shipdate_complete",
                  F.col("l_shipdate").isNull())
        )
        .unionAll(
            orders.agg(
                F.lit("orders").alias("tbl"),
                F.lit("orderkey_unique").alias("check_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey")))
                .cast("bigint")
                .alias("n_bad"),
            )
        )
        .unionAll(
            orders.join(
                F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"))),
                "o_custkey",
                "left_anti",
            ).agg(
                F.lit("orders").alias("tbl"),
                F.lit("custkey_ref_integrity").alias("check_name"),
                F.lit(0).cast("bigint").alias("n_rows"),  # patched below
                F.count(F.lit(1)).cast("bigint").alias("n_bad"),
            )
        )
        .unionAll(
            check(
                cust, "customer", "acctbal_in_bounds",
                (F.col("c_acctbal") < -1000) | (F.col("c_acctbal") > 10000),
            )
        )
        .unionAll(
            check(ev, "events", "value_positive", F.col("value") <= 0)
        )
    )
    # the anti-join row's n_rows is the full orders count, not the
    # orphan count: patch it in from a broadcast single-row aggregate
    totals = orders.agg(F.count(F.lit(1)).cast("bigint").alias("o_total"))
    return (
        rows.join(F.broadcast(totals))  # single-row broadcast NLJ
        .select(
            "tbl",
            "check_name",
            F.when(
                F.col("check_name") == "custkey_ref_integrity",
                F.col("o_total"),
            ).otherwise(F.col("n_rows")).alias("n_rows"),
            "n_bad",
        )
        .select(
            "tbl",
            "check_name",
            "n_rows",
            "n_bad",
            (F.col("n_bad").cast("double") / F.col("n_rows").cast("double"))
            .alias("bad_fraction"),
            F.when(F.col("n_bad") == 0, 1).otherwise(0).alias("passed"),
        )
    )


_QDQ_SQL = """
WITH rows_ AS (
  SELECT 'lineitem' AS tbl, 'quantity_in_1_50' AS check_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
  FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'shipdate_complete', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'orders', 'orderkey_unique', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders', 'custkey_ref_integrity',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
         CAST(COUNT(*) AS BIGINT)
  FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'customer', 'acctbal_in_bounds', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN c_acctbal < -1000 OR c_acctbal > 10000
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'events', 'value_positive', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
)
SELECT tbl, check_name, n_rows, n_bad,
       CAST(n_bad AS DOUBLE) / CAST(n_rows AS DOUBLE) AS bad_fraction,
       CASE WHEN n_bad = 0 THEN 1 ELSE 0 END AS passed
FROM rows_
"""


# ------------------------------------------------ ingest contract gate
# The round-6 NULL/finite-numeric ingest contract (OPERATORS.md:10-26),
# made EXECUTABLE (VERDICT r6 #3): a Deequ-style gate over the three
# pipeline tables asserting exactly what every downstream query assumes
# — identity/payload fields NOT NULL (doc_id, text, ts, vec_id,
# embedding) and unique ids, embeddings fixed-width with FINITE
# non-null elements, event values finite-or-NULL. Optional fields
# (lang, source, label, value, props, user_id, event_type) are
# NULL-allowed — deliberately absent from the battery. A violating
# corpus surfaces as n_bad > 0 / passed = 0 rows, never as a crash 200
# queries later (tests/test_ingest_contract.py proves the gate fires on
# each violation class).
#
# Scale shape: ONE aggregate pass per table (all checks fused into a
# single map-side-combinable agg row, unpivoted with stack), so the
# gate costs three scans regardless of check count — the shape a 100 TB
# pre-training ingest runs on every delivery.

_DQIC_CHECKS = {
    "documents": (
        "doc_id_not_null", "doc_id_unique", "text_not_null",
        "n_chars_matches_text",
    ),
    "embeddings": (
        "vec_id_not_null", "vec_id_unique", "embedding_not_null",
        "embedding_dim_64", "embedding_finite",
    ),
    "events": (
        "event_id_not_null", "event_id_unique", "ts_not_null",
        "value_finite_or_null",
    ),
}


def q_dq_ingest_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")
    ev = T(spark, sf_dir, "events")
    inf = F.lit(float("inf"))

    def b(cond) -> F.Column:
        # NULL predicate results count as bad via the caller's coalesce;
        # the outer coalesce makes SUM over ZERO rows report 0 bad (a
        # zero-row delivery must gate passed=1 like DuckDB's
        # COUNT(*) FILTER, not NULL — ADVICE r7)
        return F.coalesce(F.sum(cond.cast("int")), F.lit(0)).cast("bigint")

    def uniq(key: str) -> F.Column:
        # COUNT(key) (not COUNT(*)) so a NULL id is charged only to the
        # not_null check, never double-counted as a duplicate
        return (F.count(F.col(key)) - F.count_distinct(F.col(key))).cast(
            "bigint"
        )

    aggs = {
        "documents": docs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            b(F.col("doc_id").isNull()).alias("doc_id_not_null"),
            uniq("doc_id").alias("doc_id_unique"),
            b(F.col("text").isNull()).alias("text_not_null"),
            b(
                ~F.coalesce(
                    F.col("n_chars") == F.length("text"), F.lit(False)
                )
            ).alias("n_chars_matches_text"),
        ),
        "embeddings": emb.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            b(F.col("vec_id").isNull()).alias("vec_id_not_null"),
            uniq("vec_id").alias("vec_id_unique"),
            b(F.col("embedding").isNull()).alias("embedding_not_null"),
            b(
                ~F.coalesce(F.size("embedding") == 64, F.lit(False))
            ).alias("embedding_dim_64"),
            b(
                F.coalesce(
                    F.exists(
                        "embedding",
                        lambda x: x.isNull()
                        | F.isnan(x)
                        | (F.abs(x) == inf),
                    ),
                    F.lit(True),
                )
            ).alias("embedding_finite"),
        ),
        "events": ev.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            b(F.col("event_id").isNull()).alias("event_id_not_null"),
            uniq("event_id").alias("event_id_unique"),
            b(F.col("ts").isNull()).alias("ts_not_null"),
            b(
                F.col("value").isNotNull()
                & (F.isnan("value") | (F.abs("value") == inf))
            ).alias("value_finite_or_null"),
        ),
    }
    parts = []
    for tbl, checks in _DQIC_CHECKS.items():
        pairs = ", ".join(f"'{c}', {c}" for c in checks)
        parts.append(
            aggs[tbl].selectExpr(
                f"'{tbl}' AS tbl",
                f"stack({len(checks)}, {pairs}) AS (check_name, n_bad)",
                "n_rows",
            )
        )
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionAll(p)
    return rows.select(
        "tbl",
        "check_name",
        "n_rows",
        "n_bad",
        # n_rows = 0 → bad_fraction 0.0 (not NaN): an empty delivery has
        # zero violations by definition, and both dialects must agree
        F.when(F.col("n_rows") == 0, F.lit(0.0))
        .otherwise(
            F.col("n_bad").cast("double") / F.col("n_rows").cast("double")
        )
        .alias("bad_fraction"),
        F.when(F.col("n_bad") == 0, 1).otherwise(0).alias("passed"),
    )


def _dqic_sql() -> str:
    exprs = {
        "doc_id_not_null": "COUNT(*) FILTER (doc_id IS NULL)",
        "doc_id_unique": "COUNT(doc_id) - COUNT(DISTINCT doc_id)",
        "text_not_null": "COUNT(*) FILTER (text IS NULL)",
        "n_chars_matches_text": (
            "COUNT(*) FILTER (NOT COALESCE(n_chars = length(text), FALSE))"
        ),
        "vec_id_not_null": "COUNT(*) FILTER (vec_id IS NULL)",
        "vec_id_unique": "COUNT(vec_id) - COUNT(DISTINCT vec_id)",
        "embedding_not_null": "COUNT(*) FILTER (embedding IS NULL)",
        "embedding_dim_64": (
            "COUNT(*) FILTER (NOT COALESCE(len(embedding) = 64, FALSE))"
        ),
        "embedding_finite": (
            "COUNT(*) FILTER (COALESCE(len(list_filter(embedding, "
            "x -> x IS NULL OR isnan(x) OR isinf(x))) > 0, TRUE))"
        ),
        "event_id_not_null": "COUNT(*) FILTER (event_id IS NULL)",
        "event_id_unique": "COUNT(event_id) - COUNT(DISTINCT event_id)",
        "ts_not_null": "COUNT(*) FILTER (ts IS NULL)",
        "value_finite_or_null": (
            "COUNT(*) FILTER (value IS NOT NULL AND "
            "(isnan(value) OR isinf(value)))"
        ),
    }
    ctes, selects = [], []
    for tbl, checks in _DQIC_CHECKS.items():
        cols = ", ".join(
            f"CAST({exprs[c]} AS BIGINT) AS {c}" for c in checks
        )
        ctes.append(
            f"agg_{tbl} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"{cols} FROM {tbl})"
        )
        for c in checks:
            selects.append(
                f"SELECT '{tbl}' AS tbl, '{c}' AS check_name, n_rows, "
                f"{c} AS n_bad FROM agg_{tbl}"
            )
    body = "\nUNION ALL\n".join(selects)
    return (
        "WITH " + ",\n".join(ctes) + ",\nrows_ AS (\n" + body + "\n)\n"
        "SELECT tbl, check_name, n_rows, n_bad,\n"
        "       CASE WHEN n_rows = 0 THEN CAST(0 AS DOUBLE)\n"
        "            ELSE CAST(n_bad AS DOUBLE) / CAST(n_rows AS DOUBLE)\n"
        "       END AS bad_fraction,\n"
        "       CASE WHEN n_bad = 0 THEN 1 ELSE 0 END AS passed\nFROM rows_"
    )


_DQIC_SQL = _dqic_sql()


# ------------------------------------------------------- runtime filter
# Bloom-pruned join (the "runtime filter" every warehouse engine injects
# at scale): the selective dimension side (BUILDING customers with
# acctbal > 7000) is compressed into a deterministic k=3 / m=2048 Bloom
# filter (63-bit-packed words via bit_or), the fact side (orders) is
# pre-filtered by membership BEFORE the join, and the audit reports what
# the filter delivered: rows pruned ahead of the shuffle, false-positive
# pass-through, and zero false drops (Bloom never loses a true match).
# This is the decision metric for enabling runtime filters on a 100 TB
# fact scan — the filter build is a constant-size bit_or aggregate, the
# words ship broadcast, and the probe is a narrow scan-side expression.

_RF_K = 3
_RF_M = 2048  # bits
_RF_WORDS = -(-_RF_M // 63)  # 63 usable bits per signed-64 word


def _rf_bit(i: int, col: str, dialect: str = "spark") -> str:
    if dialect == "spark":
        return (
            f"CAST(conv(substr(md5(concat('rf{i}:', CAST({col} AS STRING))), "
            f"1, 15), 16, 10) AS BIGINT) % {_RF_M}"
        )
    return (
        f"CAST(('0x' || substr(md5('rf{i}:' || CAST({col} AS VARCHAR)), "
        f"1, 15)) AS BIGINT) % {_RF_M}"
    )


def q_bloom_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    dim = cust.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 7000)
    ).select("c_custkey")
    bits = dim.select(
        "c_custkey",
        *[F.expr(_rf_bit(i, "c_custkey")).alias(f"b{i}") for i in range(_RF_K)],
    )
    for w in range(_RF_WORDS):
        ors = " | ".join(
            f"CASE WHEN CAST(b{i} div 63 AS INT) = {w} "
            f"THEN shiftleft(CAST(1 AS BIGINT), CAST(b{i} % 63 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END"
            for i in range(_RF_K)
        )
        bits = bits.withColumn(f"w{w}", F.expr(ors))
    filt = bits.agg(
        *[F.expr(f"bit_or(w{w})").alias(f"w{w}") for w in range(_RF_WORDS)]
    )
    ndim = dim.agg(F.count(F.lit(1)).cast("bigint").alias("n_dim_keys"))
    probe = orders.select("o_custkey").join(F.broadcast(filt)).select(
        "o_custkey",
        *[F.col(f"w{w}") for w in range(_RF_WORDS)],
        *[F.expr(_rf_bit(i, "o_custkey")).alias(f"b{i}") for i in range(_RF_K)],
    )
    maybe = None
    for i in range(_RF_K):
        w_expr = " ".join(
            f"WHEN CAST(b{i} div 63 AS INT) = {w} THEN w{w}"
            for w in range(_RF_WORDS)
        )
        t = F.expr(
            f"(shiftright(CASE {w_expr} END, CAST(b{i} % 63 AS INT)) & 1) = 1"
        )
        maybe = t if maybe is None else (maybe & t)
    # probe's lineage includes dim (via filt): re-alias the dim key so
    # the join does not hit conflicting-attributes resolution
    truth = dim.select(
        F.col("c_custkey").alias("d_key"), F.lit(1).alias("is_match")
    )
    verdicts = probe.withColumn("maybe", maybe).join(
        F.broadcast(truth), F.col("o_custkey") == F.col("d_key"), "left"
    )
    agg = verdicts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fact_rows"),
        F.sum(F.when(F.col("maybe"), 1).otherwise(0)).cast("bigint")
        .alias("n_bloom_pass"),
        F.sum(F.coalesce("is_match", F.lit(0))).cast("bigint")
        .alias("n_true_match"),
        F.sum(
            F.when(~F.col("maybe") & F.col("is_match").isNotNull(), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_false_drops"),
    )
    return agg.join(F.broadcast(ndim)).select(
        "n_dim_keys",
        "n_fact_rows",
        "n_bloom_pass",
        "n_true_match",
        (F.col("n_bloom_pass") - F.col("n_true_match")).alias("n_false_pass"),
        "n_false_drops",
        (
            F.lit(1).cast("double")
            - F.col("n_bloom_pass").cast("double")
            / F.col("n_fact_rows").cast("double")
        ).alias("pruned_fraction"),
        (
            (F.col("n_bloom_pass") - F.col("n_true_match")).cast("double")
            / (F.col("n_fact_rows") - F.col("n_true_match")).cast("double")
        ).alias("fp_passthrough"),
    )


def _bloom_join_sql() -> str:
    bit_cols_c = ", ".join(
        f"{_rf_bit(i, 'c_custkey', 'duckdb')} AS b{i}" for i in range(_RF_K)
    )
    bit_cols_o = ", ".join(
        f"{_rf_bit(i, 'o_custkey', 'duckdb')} AS b{i}" for i in range(_RF_K)
    )
    word_exprs = ", ".join(
        "bit_or(" + " | ".join(
            f"CASE WHEN CAST(b{i} // 63 AS INT) = {w} "
            f"THEN (CAST(1 AS BIGINT) << CAST(b{i} % 63 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END"
            for i in range(_RF_K)
        ) + f") AS w{w}"
        for w in range(_RF_WORDS)
    )
    tests = " AND ".join(
        "((CASE "
        + " ".join(
            f"WHEN CAST(b{i} // 63 AS INT) = {w} THEN w{w}"
            for w in range(_RF_WORDS)
        )
        + f" END >> CAST(b{i} % 63 AS INT)) & 1) = 1"
        for i in range(_RF_K)
    )
    return f"""
WITH dim AS (
  SELECT c_custkey FROM customer
  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 7000
),
dbits AS (SELECT c_custkey, {bit_cols_c} FROM dim),
filt AS MATERIALIZED (SELECT {word_exprs} FROM dbits),
pbits AS (SELECT o_custkey, {bit_cols_o} FROM orders),
verdicts AS MATERIALIZED (
  SELECT p.o_custkey, ({tests}) AS maybe,
         (d.c_custkey IS NOT NULL) AS is_match
  FROM pbits p CROSS JOIN filt
  LEFT JOIN dim d ON d.c_custkey = p.o_custkey
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_fact_rows,
         CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_pass,
         CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_match,
         CAST(SUM(CASE WHEN NOT maybe AND is_match THEN 1 ELSE 0 END)
              AS BIGINT) AS n_false_drops
  FROM verdicts
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dim) AS n_dim_keys,
       n_fact_rows, n_bloom_pass, n_true_match,
       n_bloom_pass - n_true_match AS n_false_pass, n_false_drops,
       CAST(1 AS DOUBLE) - CAST(n_bloom_pass AS DOUBLE)
         / CAST(n_fact_rows AS DOUBLE) AS pruned_fraction,
       CAST(n_bloom_pass - n_true_match AS DOUBLE)
         / CAST(n_fact_rows - n_true_match AS DOUBLE) AS fp_passthrough
FROM agg
"""


# --------------------------------------------------------- join-view IVM
# Incremental maintenance of a JOIN view (ΔV = ΔF ⋈ D for an append-only
# fact and static dimension): the materialized per-segment revenue view
# over customer ⋈ orders is maintained by aggregating ONLY the delta
# batch through the join and merging state — Δ-sized work per refresh —
# then audited against the full recompute in the same result (the
# consistency column is the IVM correctness invariant, not an oracle
# trick: mergeable states means maintained ≡ recomputed exactly, which
# only holds because the measures are DECIMAL/BIGINT — a double SUM
# would drift between the two orders of summation). At 100 TB the delta
# path is the only affordable one; this query is its proof shape.

_IVM_MOD = 4


def q_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    def view(of):
        return (
            of.join(
                F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum(dec("o_totalprice", 2)).alias("spend_d"),
            )
        )

    base_v = view(orders.filter(F.col("o_orderkey") % _IVM_MOD != 0))
    delta_v = view(orders.filter(F.col("o_orderkey") % _IVM_MOD == 0)).select(
        F.col("c_mktsegment"),
        F.col("n_orders").alias("d_orders"),
        F.col("spend_d").alias("d_spend"),
    )
    maintained = (
        base_v.join(delta_v, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            (
                F.coalesce("n_orders", F.lit(0))
                + F.coalesce("d_orders", F.lit(0))
            ).cast("bigint").alias("n_orders_maint"),
            (
                F.coalesce(F.col("spend_d"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("d_spend"), F.lit(0).cast("decimal(18,2)"))
            ).alias("spend_maint_d"),
        )
    )
    full_v = view(orders).select(
        F.col("c_mktsegment"),
        F.col("n_orders").alias("n_orders_full"),
        F.col("spend_d").alias("spend_full_d"),
    )
    return maintained.join(full_v, "c_mktsegment").select(
        "c_mktsegment",
        "n_orders_maint",
        F.col("spend_maint_d").cast("double").alias("spend_maint"),
        "n_orders_full",
        F.col("spend_full_d").cast("double").alias("spend_full"),
        F.when(
            (F.col("n_orders_maint") == F.col("n_orders_full"))
            & (F.col("spend_maint_d") == F.col("spend_full_d")),
            1,
        ).otherwise(0).alias("consistent"),
    )


_QIVM_SQL = f"""
WITH v AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_d,
         CASE WHEN o_orderkey % {_IVM_MOD} = 0 THEN 'delta'
              ELSE 'base' END AS part
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c_mktsegment, part
),
maintained AS (
  SELECT c_mktsegment,
         CAST(SUM(n_orders) AS BIGINT) AS n_orders_maint,
         SUM(spend_d) AS spend_maint_d
  FROM v GROUP BY c_mktsegment
),
full_v AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_orders_full,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_full_d
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c_mktsegment
)
SELECT m.c_mktsegment, m.n_orders_maint,
       CAST(m.spend_maint_d AS DOUBLE) AS spend_maint,
       f.n_orders_full,
       CAST(f.spend_full_d AS DOUBLE) AS spend_full,
       CASE WHEN m.n_orders_maint = f.n_orders_full
                 AND m.spend_maint_d = f.spend_full_d
            THEN 1 ELSE 0 END AS consistent
FROM maintained m JOIN full_v f USING (c_mktsegment)
"""


# ------------------------------------------------------------- Benford audit
# First-significant-digit audit of o_totalprice against Benford's law —
# the forensic data-quality check for fabricated or truncated numeric
# columns. The expected shares log10(1 + 1/d) are transcendental, so they
# are injected as IDENTICAL Python double literals into both dialects
# (no engine ever evaluates a log); digits come from the exact integer
# floor, so the classification is pure string arithmetic. The chi-square
# total over the 9 digit rows is an order-pinned sequential fold (digit
# order), keeping the double sum bit-identical. Scale shape: one scan to
# a 9-row histogram; everything after is constant-size.

_BENFORD_P = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import ofold_sum

    orders = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = orders.select(
        F.substring(
            F.expr("CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING)"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    hist = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    tot = hist.agg(F.sum("n_obs").cast("bigint").alias("n"))
    exp_share = F.when(
        F.col("digit") == 1, F.lit(_BENFORD_P[1])
    )
    for d in range(2, 10):
        exp_share = exp_share.when(F.col("digit") == d, F.lit(_BENFORD_P[d]))
    terms = (
        hist.join(F.broadcast(tot))  # single-row cross join
        .select(
            "digit",
            "n_obs",
            exp_share.alias("exp_share"),
            (F.col("n_obs").cast("double") / F.col("n").cast("double"))
            .alias("obs_share"),
            (
                (
                    F.col("n_obs").cast("double")
                    - F.col("n").cast("double") * exp_share
                )
                * (
                    F.col("n_obs").cast("double")
                    - F.col("n").cast("double") * exp_share
                )
                / (F.col("n").cast("double") * exp_share)
            ).alias("chi2_term"),
        )
    )
    total = terms.agg(ofold_sum("digit", "chi2_term").alias("chi2_total"))
    return terms.join(F.broadcast(total)).select(
        "digit", "n_obs", "exp_share", "obs_share", "chi2_term", "chi2_total"
    )


def _benford_sql() -> str:
    from ._util import sql_ofold_sum

    cases = " ".join(
        f"WHEN digit = {d} THEN {_BENFORD_P[d]!r}" for d in range(1, 10)
    )
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice > 0
),
hist AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM hist),
terms AS (
  SELECT digit, n_obs,
         (CASE {cases} END) AS exp_share,
         CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) AS obs_share,
         (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * (CASE {cases} END))
           * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * (CASE {cases} END))
           / (CAST(n AS DOUBLE) * (CASE {cases} END)) AS chi2_term
  FROM hist, tot
),
total AS (
  SELECT {sql_ofold_sum('digit', 'chi2_term')} AS chi2_total FROM terms
)
SELECT digit, n_obs, exp_share, obs_share, chi2_term, chi2_total
FROM terms, total
"""


# ----------------------------------------------------------- Z-order layout
# Multi-dimensional data-layout audit: the q_zonemap_skipping methodology
# extended to TWO predicate dimensions (order day x customer key). Rows
# are tiled into {_ZO_CHUNKS} row groups under three physical orderings —
# arrival, day-clustered, and Z-ORDERED (bits of the two equi-width
# 64-bucket dims interleaved, the Delta/Iceberg OPTIMIZE ZORDER BY curve)
# — then per-chunk (min,max) zone maps on BOTH dims are evaluated against
# a 2-D box workload and a 1-D day workload. The output quantifies the
# Z-order trade: near-day-clustered skipping on 1-D scans PLUS custkey
# skipping that a single-dim sort cannot give. All bucket/interleave math
# is integer and engine-identical. Scale shape: three window-tiled passes
# (the audit's cost, not the layout's), bounded zone/predicate lattices.

_ZO_CHUNKS = 240
_ZO_BITS = 6  # 64 buckets per dimension
_ZO_PRED_DAYS = 90
_ZO_CUST_SLICES = 8


def _zo_interleave(db: str, cb: str, dialect: str) -> str:
    """Bit-interleave two {_ZO_BITS}-bit bucket expressions (day bits at
    odd positions, custkey bits at even) — one template, two dialects."""
    terms = []
    for i in range(_ZO_BITS):
        if dialect == "spark":
            terms.append(
                f"shiftleft(shiftright({db}, {i}) & 1, {2 * i + 1})"
            )
            terms.append(f"shiftleft(shiftright({cb}, {i}) & 1, {2 * i})")
        else:
            terms.append(f"((({db} >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"((({cb} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    nb = 1 << _ZO_BITS
    orders = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("akey"),
        F.col("o_custkey").alias("ckey"),
        F.expr(
            "datediff(cast(o_orderdate as date), date '1970-01-01')"
        ).cast("bigint").alias("day"),
    )
    span = orders.agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax"),
        F.min("ckey").alias("cmin"), F.max("ckey").alias("cmax"),
    )
    keyed = orders.join(F.broadcast(span)).select(
        "akey", "ckey", "day",
        F.expr(f"((day - dmin) * {nb}) div (dmax - dmin + 1)").alias("db"),
        F.expr(f"((ckey - cmin) * {nb}) div (cmax - cmin + 1)").alias("cb"),
    ).withColumn("z", F.expr(_zo_interleave("db", "cb", "spark")))
    rows = (
        keyed.select(F.lit("arrival").alias("layout"),
                     F.col("akey").alias("k1"), "akey", "day", "ckey")
        .unionAll(
            keyed.select(F.lit("day").alias("layout"),
                         F.col("day").alias("k1"), "akey", "day", "ckey")
        )
        .unionAll(
            keyed.select(F.lit("zorder").alias("layout"),
                         F.col("z").alias("k1"), "akey", "day", "ckey")
        )
    )
    # partition-parallel chunking (round 7, the zonemap shape):
    # grouped_row_number + exact NTILE-from-rank instead of a per-layout
    # window over the whole orders copy
    from esvc_spark.core.spark_engine import grouped_row_number

    from ._util import ntile_from_rank

    # balanced groups (each layout = one orders copy): largest group =
    # |orders|, the local path's one-task bound (zonemap rationale)
    from esvc_spark.catalog import table_rows

    rk = grouped_row_number(
        spark, rows, ["layout"], ["k1", "akey"], "_rk",
        max_group_rows=table_rows(spark, sf_dir, "orders"),
    )
    # per-layout counts from the rank frame (zonemap shape; pinned on
    # the two-phase path, re-derived deterministically on the local path)
    nl = rk.groupBy("layout").agg(F.max("_rk").alias("_n"))
    zones = (
        rk.join(F.broadcast(nl), "layout")
        .withColumn("chunk", ntile_from_rank("_rk", "_n", _ZO_CHUNKS))
        .groupBy("layout", "chunk")
        .agg(
            F.min("day").alias("dlo"), F.max("day").alias("dhi"),
            F.min("ckey").alias("clo"), F.max("ckey").alias("chi"),
        )
    )
    pd_ = span.select(
        F.explode(
            F.expr(f"sequence(0, (dmax - dmin) div {_ZO_PRED_DAYS})")
        ).alias("p"),
        "dmin",
    ).select(
        (F.col("dmin") + F.col("p") * _ZO_PRED_DAYS).alias("pdlo"),
        (F.col("dmin") + F.col("p") * _ZO_PRED_DAYS + _ZO_PRED_DAYS - 1)
        .alias("pdhi"),
    )
    pc = span.select(
        F.explode(F.expr(f"sequence(0, {_ZO_CUST_SLICES - 1})")).alias("q"),
        "cmin", "cmax",
    ).select(
        (
            F.col("cmin")
            + F.expr(f"(q * (cmax - cmin + 1)) div {_ZO_CUST_SLICES}")
        ).alias("pclo"),
        (
            F.col("cmin")
            + F.expr(f"((q + 1) * (cmax - cmin + 1)) div {_ZO_CUST_SLICES}")
            - 1
        ).alias("pchi"),
    )
    span_c = span.select(F.col("cmin").alias("pclo"), F.col("cmax").alias("pchi"))
    preds = (
        pd_.join(F.broadcast(pc)).withColumn("wclass", F.lit("box"))
        .unionByName(
            pd_.join(F.broadcast(span_c)).withColumn("wclass", F.lit("day_1d"))
        )
    )
    scanned = (
        zones.join(
            F.broadcast(preds),  # bounded predicate-lattice NLJ, annotated
            (F.col("dlo") <= F.col("pdhi")) & (F.col("dhi") >= F.col("pdlo"))
            & (F.col("clo") <= F.col("pchi")) & (F.col("chi") >= F.col("pclo")),
        )
        .groupBy("layout", "wclass")
        .agg(F.count(F.lit(1)).cast("bigint").alias("chunks_scanned"))
    )
    npred = preds.groupBy("wclass").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_preds")
    )
    sizes = zones.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks")
    )
    return (
        scanned.join(F.broadcast(npred), "wclass")
        .join(F.broadcast(sizes), "layout")
        .select(
            "layout", "wclass", "n_chunks", "n_preds", "chunks_scanned",
            (
                F.lit(1.0).cast("double")
                - F.col("chunks_scanned").cast("double")
                / (F.col("n_chunks") * F.col("n_preds")).cast("double")
            ).alias("skip_ratio"),
        )
    )


def _zorder_sql() -> str:
    nb = 1 << _ZO_BITS
    return f"""
WITH orders_k AS (
  SELECT o_orderkey AS akey, o_custkey AS ckey,
         datediff('day', DATE '1970-01-01',
                  CAST(o_orderdate AS DATE)) AS day
  FROM orders
),
span AS (
  SELECT MIN(day) AS dmin, MAX(day) AS dmax,
         MIN(ckey) AS cmin, MAX(ckey) AS cmax
  FROM orders_k
),
keyed AS (
  SELECT akey, ckey, day,
         ((day - dmin) * {nb}) // (dmax - dmin + 1) AS db,
         ((ckey - cmin) * {nb}) // (cmax - cmin + 1) AS cb
  FROM orders_k, span
),
zk AS (
  SELECT akey, ckey, day,
         {_zo_interleave('db', 'cb', 'duckdb')} AS z
  FROM keyed
),
rows_ AS (
  SELECT 'arrival' AS layout, akey AS k1, akey, day, ckey FROM zk
  UNION ALL
  SELECT 'day', day, akey, day, ckey FROM zk
  UNION ALL
  SELECT 'zorder', z, akey, day, ckey FROM zk
),
zones AS (
  SELECT layout, chunk, MIN(day) AS dlo, MAX(day) AS dhi,
         MIN(ckey) AS clo, MAX(ckey) AS chi_
  FROM (
    SELECT layout, day, ckey,
           ntile({_ZO_CHUNKS}) OVER (PARTITION BY layout
                                     ORDER BY k1, akey) AS chunk
    FROM rows_
  ) GROUP BY 1, 2
),
pd_ AS (
  SELECT dmin + t.i * {_ZO_PRED_DAYS} AS pdlo,
         dmin + t.i * {_ZO_PRED_DAYS} + {_ZO_PRED_DAYS} - 1 AS pdhi
  FROM span, unnest(range(0, (dmax - dmin) // {_ZO_PRED_DAYS} + 1)) t(i)
),
pc AS (
  SELECT cmin + (t.q * (cmax - cmin + 1)) // {_ZO_CUST_SLICES} AS pclo,
         cmin + ((t.q + 1) * (cmax - cmin + 1)) // {_ZO_CUST_SLICES} - 1
           AS pchi
  FROM span, unnest(range(0, {_ZO_CUST_SLICES})) t(q)
),
preds AS (
  SELECT pdlo, pdhi, pclo, pchi, 'box' AS wclass FROM pd_, pc
  UNION ALL
  SELECT pdlo, pdhi, cmin, cmax, 'day_1d' FROM pd_, span
),
scanned AS (
  SELECT layout, wclass, CAST(COUNT(*) AS BIGINT) AS chunks_scanned
  FROM zones z JOIN preds p
    ON z.dlo <= p.pdhi AND z.dhi >= p.pdlo
   AND z.clo <= p.pchi AND z.chi_ >= p.pclo
  GROUP BY 1, 2
),
npred AS (
  SELECT wclass, CAST(COUNT(*) AS BIGINT) AS n_preds FROM preds GROUP BY 1
),
sizes AS (
  SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM zones GROUP BY 1
)
SELECT s.layout, s.wclass, sizes.n_chunks, npred.n_preds, s.chunks_scanned,
       CAST(1.0 AS DOUBLE) - CAST(s.chunks_scanned AS DOUBLE)
         / CAST(sizes.n_chunks * npred.n_preds AS DOUBLE) AS skip_ratio
FROM scanned s JOIN npred USING (wclass) JOIN sizes USING (layout)
"""


# ------------------------------------------------- histogram selectivity
# Optimizer-statistics audit: a 32-bucket EQUI-HEIGHT histogram on
# o_totalprice (boundaries picked positionally — exact data values, no
# interpolation in the build) scored against truth on an 8-predicate
# range workload with the textbook uniform-within-bucket estimator. The
# per-predicate q-error is what a cost-based optimizer's row estimates
# are graded on; ±1-row bucket heights are carried exactly and the
# 32-term estimate sum is an order-pinned fold, so both engines agree to
# the bit. Scale shape: one global rank window builds the histogram (the
# audit's cost; a production ANALYZE samples instead), then everything is
# a 32×8 lattice; truth is one scan against the broadcast predicate list.

_HS_BUCKETS = 32
_HS_PREDS = 8


def q_histogram_selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import ofold_sum

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("v")
    )
    # partition-parallel global rank (round 7, the q_ev_rfm machinery):
    # the previous unpartitioned row_number funnelled |orders| through
    # one task; the boundary picks only need exact ranks, which the
    # two-phase prefix sum provides at any scale; below the size gate
    # one small window does. n comes from the rank frame (max rank =
    # row count; pinned on the two-phase path, re-derived
    # deterministically on the local path).
    from esvc_spark.core.spark_engine import grouped_row_number

    from esvc_spark.catalog import table_rows

    ranked = grouped_row_number(
        spark, orders, [], ["v", "o_orderkey"], "rn",
        n_rows=table_rows(spark, sf_dir, "orders"),
    )
    n_tot = ranked.agg(F.max("rn").alias("n"))
    # boundary rows: rn = (n*k) div B for k = 1..B (positional picks)
    ks = spark.range(1, _HS_BUCKETS + 1).select(F.col("id").alias("k"))
    marks = (
        ks.join(F.broadcast(n_tot))
        .select("k", F.expr(f"(n * k) div {_HS_BUCKETS}").alias("rn"))
    )
    hist = (
        ranked.join(F.broadcast(marks), "rn")
        .select("k", F.col("v").alias("ub"), F.col("rn").alias("hi_rn"))
    )
    wb = Window.orderBy("k")
    buckets = hist.select(
        "k",
        F.coalesce(F.lag("ub").over(wb), F.lit(None).cast("double"))
        .alias("lb"),
        "ub",
        (
            F.col("hi_rn")
            - F.coalesce(F.lag("hi_rn").over(wb), F.lit(0))
        ).cast("bigint").alias("height"),
    )
    span = orders.agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"))
    preds = (
        spark.range(0, _HS_PREDS)
        .select(F.col("id").alias("p"))
        .join(F.broadcast(span))
        .select(
            "p",
            (
                F.col("vmin")
                + F.col("p").cast("double")
                * (F.col("vmax") - F.col("vmin"))
                / float(_HS_PREDS)
            ).alias("plo"),
            (
                F.col("vmin")
                + (F.col("p") + 1).cast("double")
                * (F.col("vmax") - F.col("vmin"))
                / float(_HS_PREDS)
            ).alias("phi"),
        )
    )
    # uniform-within-bucket overlap estimate; first bucket's lb = vmin
    frac = F.when(
        F.col("ub") == F.coalesce(F.col("lb"), F.col("vmin")),
        F.when(
            (F.col("ub") >= F.col("plo")) & (F.col("ub") < F.col("phi")), 1.0
        ).otherwise(0.0),
    ).otherwise(
        F.greatest(
            F.lit(0.0),
            (
                F.least(F.col("phi"), F.col("ub"))
                - F.greatest(F.col("plo"), F.coalesce("lb", F.col("vmin")))
            )
            / (F.col("ub") - F.coalesce("lb", F.col("vmin"))),
        )
    )
    est = (
        buckets.join(F.broadcast(preds))
        .join(F.broadcast(span))
        .select(
            "p", "plo", "phi", "k",
            (F.least(frac, F.lit(1.0)) * F.col("height").cast("double"))
            .alias("term"),
        )
        .groupBy("p", "plo", "phi")
        .agg(ofold_sum("k", "term").alias("est_rows"))
    )
    truth = (
        orders.join(
            F.broadcast(preds),
            (F.col("v") >= F.col("plo")) & (F.col("v") < F.col("phi")),
        )
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_rows"))
    )
    return (
        est.join(truth, "p", "left")
        .select(
            "p",
            "plo",
            "phi",
            "est_rows",
            F.coalesce("true_rows", F.lit(0)).cast("bigint")
            .alias("true_rows"),
            F.when(
                F.coalesce("true_rows", F.lit(0)) == 0, F.lit(0.0)
            ).otherwise(
                F.greatest(
                    F.col("est_rows") / F.col("true_rows").cast("double"),
                    F.col("true_rows").cast("double")
                    / F.greatest(F.col("est_rows"), F.lit(1e-9)),
                )
            ).alias("q_error"),
        )
    )


def _histogram_selectivity_sql() -> str:
    from ._util import sql_ofold_sum

    return f"""
WITH o AS (SELECT o_orderkey, o_totalprice AS v FROM orders),
n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM o),
ranked AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY v, o_orderkey) AS rn FROM o
),
marks AS (
  SELECT t.k, (n * t.k) // {_HS_BUCKETS} AS rn
  FROM n_tot, unnest(range(1, {_HS_BUCKETS} + 1)) t(k)
),
hist AS (
  SELECT k, v AS ub, marks.rn AS hi_rn
  FROM ranked JOIN marks USING (rn)
),
buckets AS (
  SELECT k, LAG(ub) OVER (ORDER BY k) AS lb, ub,
         CAST(hi_rn - COALESCE(LAG(hi_rn) OVER (ORDER BY k), 0) AS BIGINT)
           AS height
  FROM hist
),
span AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM o),
preds AS (
  SELECT t.p,
         vmin + CAST(t.p AS DOUBLE) * (vmax - vmin) / {float(_HS_PREDS)}
           AS plo,
         vmin + CAST(t.p + 1 AS DOUBLE) * (vmax - vmin) / {float(_HS_PREDS)}
           AS phi
  FROM span, unnest(range(0, {_HS_PREDS})) t(p)
),
terms AS (
  SELECT p, plo, phi, k,
         LEAST(
           CASE WHEN ub = COALESCE(lb, vmin)
                THEN CASE WHEN ub >= plo AND ub < phi
                          THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
                ELSE GREATEST(CAST(0 AS DOUBLE),
                       (LEAST(phi, ub) - GREATEST(plo, COALESCE(lb, vmin)))
                         / (ub - COALESCE(lb, vmin)))
           END, CAST(1 AS DOUBLE)) * CAST(height AS DOUBLE) AS term
  FROM buckets, preds, span
),
est AS (
  SELECT p, plo, phi, {sql_ofold_sum('k', 'term')} AS est_rows
  FROM terms GROUP BY 1, 2, 3
),
truth AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS true_rows
  FROM o JOIN preds ON v >= plo AND v < phi
  GROUP BY 1
)
SELECT e.p, e.plo, e.phi, e.est_rows,
       COALESCE(t.true_rows, 0) AS true_rows,
       CASE WHEN COALESCE(t.true_rows, 0) = 0 THEN CAST(0 AS DOUBLE)
            ELSE GREATEST(e.est_rows / CAST(t.true_rows AS DOUBLE),
                          CAST(t.true_rows AS DOUBLE)
                            / GREATEST(e.est_rows, 1e-9))
       END AS q_error
FROM est e LEFT JOIN truth t USING (p)
"""


# -------------------------------------------------- join-cardinality audit
# The optimizer's independence assumption, quantified: for the
# many-to-many join events ⋈ orders ON user_id = o_custkey, compare the
# uniform estimate |R|·|S| / max(d_R, d_S) (what a CBO computes from NDV
# statistics) against the true size Σ_k n_R(k)·n_S(k) (computable from
# per-key counts WITHOUT materializing the join). The q-error is the
# factor by which key skew breaks the uniform assumption — the number
# that decides whether a 100 TB join plan mis-sizes its shuffle. All
# counts are exact integers; two divisions at the edge.


def q_join_card_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    orders = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    r = ev.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("nr"))
    s = orders.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("ns"))
    stats = (
        r.join(s, "k", "full_outer")
        .agg(
            F.sum(F.coalesce("nr", F.lit(0))).cast("bigint").alias("n_r"),
            F.sum(F.coalesce("ns", F.lit(0))).cast("bigint").alias("n_s"),
            F.sum(F.when(F.col("nr").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("d_r"),
            F.sum(F.when(F.col("ns").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("d_s"),
            F.sum(
                F.coalesce("nr", F.lit(0)) * F.coalesce("ns", F.lit(0))
            ).cast("bigint").alias("true_size"),
        )
    )
    est = F.col("n_r").cast("double") * F.col("n_s").cast("double") / F.greatest(
        F.col("d_r"), F.col("d_s")
    ).cast("double")
    return stats.select(
        "n_r",
        "n_s",
        "d_r",
        "d_s",
        est.alias("est_uniform"),
        "true_size",
        F.when(F.col("true_size") == 0, F.lit(0.0)).otherwise(
            F.greatest(
                est / F.col("true_size").cast("double"),
                F.col("true_size").cast("double") / est,
            )
        ).alias("q_error"),
    )


_JOIN_CARD_SQL = """
WITH r AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS nr
           FROM events GROUP BY 1),
s AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS ns
      FROM orders GROUP BY 1),
stats AS (
  SELECT CAST(SUM(COALESCE(nr, 0)) AS BIGINT) AS n_r,
         CAST(SUM(COALESCE(ns, 0)) AS BIGINT) AS n_s,
         CAST(SUM(CASE WHEN nr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS d_r,
         CAST(SUM(CASE WHEN ns IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS d_s,
         CAST(SUM(COALESCE(nr, 0) * COALESCE(ns, 0)) AS BIGINT) AS true_size
  FROM r FULL OUTER JOIN s USING (k)
)
SELECT n_r, n_s, d_r, d_s,
       CAST(n_r AS DOUBLE) * CAST(n_s AS DOUBLE)
         / CAST(GREATEST(d_r, d_s) AS DOUBLE) AS est_uniform,
       true_size,
       CASE WHEN true_size = 0 THEN CAST(0 AS DOUBLE)
            ELSE GREATEST(
              (CAST(n_r AS DOUBLE) * CAST(n_s AS DOUBLE)
                 / CAST(GREATEST(d_r, d_s) AS DOUBLE))
                / CAST(true_size AS DOUBLE),
              CAST(true_size AS DOUBLE)
                / (CAST(n_r AS DOUBLE) * CAST(n_s AS DOUBLE)
                     / CAST(GREATEST(d_r, d_s) AS DOUBLE)))
       END AS q_error
FROM stats
"""


# --------------------------------------------------------- encoding advisor
# Columnar-encoding advisor (the heuristic behind parquet/ORC writer
# encoding choices): for each candidate column of `orders`, under both
# arrival order and column-sorted order, measure the dictionary size
# (NDV), run count (RLE viability), and the exact encoded-size estimates
#   plain   = n · width
#   dict    = n · ceil(log2 d) bits / 8 + dict entries · width
#   rle+dict= runs · (ceil(log2 d) + run-length varint≈2 bytes)
# — all integers, ceil(log2) via the length of the binary string, so the
# advice ("sort this column, RLE wins 40×") is engine-exact. Scale shape:
# per column one NDV aggregate + a PARTITION-PARALLEL run count under
# each ordering (two-phase: within-range-partition lag + a P-row
# boundary correction, see _ordered_runs — round 7 removed the
# unpartitioned lag window); output is |columns|×|orderings| rows.

_ENC_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey")


def _ordered_runs(
    spark: SparkSession, base: DataFrame, key: str,
    n_rows: int | None = None,
):
    """Two-phase run detection (round 7): range-partition on the
    ordering key (core.spark_engine._range_partitioned, the step the
    two-phase prefix-sum helpers use), count run starts WITHIN each
    partition (every partition's first row counts as a start), then
    subtract one for each partition boundary whose neighboring values
    are equal. That correction is computed on the driver from P rows
    (each partition's first and last value), because it is returned as
    a Python int. Replaces the unpartitioned lag window that funnelled
    the whole table through one task. Returns
    (per-row frame with new_run/width, boundary correction count).

    `n_rows` (round 8): a cheap upper bound on |base|; at or below
    core.spark_engine.TWO_PHASE_MIN_ROWS one small lag window beats the
    six per-ordering checkpoint+collect cycles (the r7 cost:
    q_encoding_advisor 0.61 → 3.55 s at sf0.1), correction = 0."""
    from esvc_spark.core.spark_engine import _range_partitioned, _use_local

    def within_runs(frame: DataFrame, w) -> DataFrame:
        # one run-start predicate for BOTH paths — the gate must never
        # let the two formulations drift
        return frame.select(
            "v",
            F.when(
                F.lag("v").over(w).isNull()
                | (F.lag("v").over(w) != F.col("v")),
                1,
            ).otherwise(0).alias("new_run"),
            F.length("v").alias("width"),
        )

    if _use_local(n_rows):
        return within_runs(base, Window.orderBy(key, "ak")), 0
    part = _range_partitioned(spark, base, [F.col(key), F.col("ak")])
    within = within_runs(part, Window.partitionBy("_pid").orderBy(key, "ak"))
    okey = F.struct(F.col(key).alias("k1"), F.col("ak").alias("k2"))
    edges = sorted(
        part.groupBy("_pid")
        .agg(
            F.min_by("v", okey).alias("first_v"),
            F.max_by("v", okey).alias("last_v"),
        )
        .collect(),
        key=lambda r: r["_pid"],
    )
    correction = sum(
        1 for a, b in zip(edges, edges[1:]) if a["last_v"] == b["first_v"]
    )
    return within, correction


def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esvc_spark.catalog import table_rows

    orders = T(spark, sf_dir, "orders")
    n_ord = table_rows(spark, sf_dir, "orders")
    out = None
    for col in _ENC_COLS:
        base = orders.select(
            F.col("o_orderkey").alias("ak"), F.col(col).cast("string").alias("v")
        )
        for ordering, key in (("arrival", "ak"), ("sorted", "v")):
            within, correction = _ordered_runs(spark, base, key, n_rows=n_ord)
            runs = within.agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.count_distinct("v").cast("bigint").alias("d"),
                (F.sum("new_run") - F.lit(correction)).cast("bigint")
                .alias("runs"),
                F.sum("width").cast("bigint").alias("plain_bytes"),
            ).select(
                F.lit(col).alias("column_name"),
                F.lit(ordering).alias("ordering"),
                "n",
                "d",
                "runs",
                "plain_bytes",
                # bits per dict code: ceil(log2 d) = length(bin(d-1)) for d>1
                F.expr(
                    "CASE WHEN d <= 1 THEN CAST(1 AS BIGINT)"
                    " ELSE CAST(length(bin(d - 1)) AS BIGINT) END"
                ).alias("code_bits"),
            )
            out = runs if out is None else out.unionByName(runs)
    dict_entry_bytes = F.col("d") * 16  # avg entry estimate, fixed both sides
    return out.select(
        "column_name",
        "ordering",
        "n",
        "d",
        "runs",
        "plain_bytes",
        "code_bits",
        # integer div, never /+cast (Spark truncates, DuckDB rounds)
        F.expr("(n * code_bits + 7) div 8").alias("dict_bytes_codes"),
        (F.expr("(n * code_bits + 7) div 8") + dict_entry_bytes)
        .alias("dict_bytes"),
        (
            F.col("runs") * F.expr("(code_bits + 7) div 8")
            + F.col("runs") * 2
            + dict_entry_bytes
        ).alias("rle_dict_bytes"),
    )


def _encoding_advisor_sql() -> str:
    parts = []
    for col in _ENC_COLS:
        for ordering, key in (("arrival", "ak"), ("sorted", "v")):
            parts.append(f"""
SELECT '{col}' AS column_name, '{ordering}' AS ordering,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS d,
       CAST(SUM(new_run) AS BIGINT) AS runs,
       CAST(SUM(width) AS BIGINT) AS plain_bytes
FROM (
  SELECT v, length(v) AS width,
         CASE WHEN LAG(v) OVER (ORDER BY {key}, ak) IS NULL
                   OR LAG(v) OVER (ORDER BY {key}, ak) <> v
              THEN 1 ELSE 0 END AS new_run
  FROM (SELECT o_orderkey AS ak, CAST({col} AS VARCHAR) AS v FROM orders)
)""")
    union = " UNION ALL ".join(parts)
    return f"""
WITH stats AS ({union}),
coded AS (
  SELECT *,
         CASE WHEN d <= 1 THEN CAST(1 AS BIGINT)
              ELSE CAST(length(printf('%b', d - 1)) AS BIGINT) END AS code_bits
  FROM stats
)
SELECT column_name, ordering, n, d, runs, plain_bytes, code_bits,
       (n * code_bits + 7) // 8 AS dict_bytes_codes,
       (n * code_bits + 7) // 8 + d * 16 AS dict_bytes,
       runs * ((code_bits + 7) // 8) + runs * 2 + d * 16 AS rle_dict_bytes
FROM coded
"""


# --------------------------------------------------- partition pruning
# End-to-end partition-layout audit through the sink/source layer: write
# events Hive-partitioned by day (sources/io.py write_sink layout), read
# back with a literal day predicate — Catalyst resolves it as a
# PartitionFilter, so the scan lists exactly ONE day directory and never
# opens the other 29 — and aggregate that day. The target day is
# min(day)+2, computed identically by the oracle from the flat table.
# This is the layout decision that matters most at 100 TB: a daily
# time-partitioned event log turns every time-bounded query from a full
# scan into a touched-partitions scan, for free, declaratively.
#
# The returned frame is localCheckpoint'd (the temp partitioned copy is
# removed before returning) — listed in plan_audit._IMPERATIVE; the
# pruning itself is asserted by tests/test_plans.py on a live plan.


def q_part_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    ev = T(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    work = tempfile.mkdtemp(prefix="esvc_prune_")
    try:
        path = os.path.join(work, "events_by_day")
        ev.write.partitionBy("day").parquet(path)
        target = ev.agg(F.date_add(F.min("day"), 2)).collect()[0][0]
        pruned = spark.read.parquet(path).filter(F.col("day") == F.lit(target))
        return (
            # day travels as TIMESTAMP in the result (q_fullouter_daily
            # convention: Spark DATE arrives as pandas object, not M8)
            pruned.withColumn("day", F.col("day").cast("timestamp"))
            .groupBy("day", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.count_distinct("user_id").alias("n_users"),
                dsum("value", 2).alias("sum_value"),
            )
            # tiny (one row per event type): materialize eagerly so the
            # temp partitioned copy can be removed before returning
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


_PART_PRUNE_SQL = """
WITH target AS (SELECT MIN(CAST(ts AS DATE)) + 2 AS day FROM events)
SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {sum_value} AS sum_value
FROM events
WHERE CAST(ts AS DATE) = (SELECT day FROM target)
GROUP BY 1, 2
""".format(sum_value=sql_dsum("value", 2))


# ----------------------------------------------------- bucketed join
# Co-located join audit through the sink layer's bucketed path
# (sources/io.py write_sink bucket_by): orders and customer are written
# bucketed 8 ways on the custkey join key (sorted within buckets), then
# joined with broadcast disabled — Spark plans a SortMergeJoin with NO
# exchange on either side (bucket-to-bucket, asserted live in
# tests/test_plans.py). This is THE big-fact-join strategy at 100 TB:
# bucketing both fact tables on the join key at write time removes the
# dominant shuffle from every subsequent join on that key.
#
# The audit aggregates the joined result per market segment; the oracle
# is the plain flat join. Scoped conf + temp tables -> localCheckpoint
# and listed in plan_audit._IMPERATIVE (q_esvc_editor_large precedent).

_BJA_BUCKETS = 8


def q_bucket_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid

    work = tempfile.mkdtemp(prefix="esvc_bucket_")
    # uuid-suffixed catalog names (the stream_ sink convention) so two
    # concurrent callers sharing a metastore never clobber each other's
    # temp bucketed tables (ADVICE r6).
    run_id = uuid.uuid4().hex[:12]
    t_orders = f"bja_orders_{run_id}"
    t_customer = f"bja_customer_{run_id}"
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for name, df, key in (
            (t_orders, T(spark, sf_dir, "orders"), "o_custkey"),
            (t_customer, T(spark, sf_dir, "customer"), "c_custkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.mode("overwrite")
                .option("path", os.path.join(work, name))
                .bucketBy(_BJA_BUCKETS, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.table(t_orders)
        c = spark.table(t_customer)
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.count_distinct("o_custkey").alias("n_customers"),
                dsum("o_totalprice", 2).alias("total_spend"),
            )
            # tiny (one row per segment): materialize eagerly so the temp
            # bucketed tables can be dropped before returning
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        for name in (t_orders, t_customer):
            try:
                spark.sql(f"DROP TABLE IF EXISTS {name}")
            except Exception:
                pass
        shutil.rmtree(work, ignore_errors=True)


_BUCKET_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       {total_spend} AS total_spend
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""".format(total_spend=sql_dsum("o_totalprice", 2))


QUERIES = {
    "q_bucket_join_audit": q_bucket_join_audit,
    "q_part_prune_audit": q_part_prune_audit,
    "q_fuzzy_match": q_fuzzy_match,
    "q_window_trailing_spend": q_window_trailing_spend,
    "q_zonemap_skipping": q_zonemap_skipping,
    "q_skyline_customers": q_skyline_customers,
    "q_dq_checks": q_dq_checks,
    "q_dq_ingest_contract": q_dq_ingest_contract,
    "q_bloom_join_filter": q_bloom_join_filter,
    "q_ivm_join": q_ivm_join,
    "q_benford_audit": q_benford_audit,
    "q_zorder_layout": q_zorder_layout,
    "q_histogram_selectivity": q_histogram_selectivity,
    "q_encoding_advisor": q_encoding_advisor,
    "q_join_card_audit": q_join_card_audit,
    "q01_pricing_summary": q01_pricing_summary,
    "q02_min_cost_supplier": q02_min_cost_supplier,
    "q_grouping_sets": q_grouping_sets,
    "q08_market_share": q08_market_share,
    "q11_value_concentration": q11_value_concentration,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q20_excess_stock": q20_excess_stock,
    "q21_waiting_supplier": q21_waiting_supplier,
    "q03_shipping_priority": q03_shipping_priority,
    "q04_order_priority": q04_order_priority,
    "q05_local_supplier_volume": q05_local_supplier_volume,
    "q06_forecast_revenue": q06_forecast_revenue,
    "q07_volume_shipping": q07_volume_shipping,
    "q09_product_profit": q09_product_profit,
    "q10_returned_items": q10_returned_items,
    "q12_ship_lag": q12_ship_lag,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_share": q14_promo_share,
    "q15_top_supplier": q15_top_supplier,
    "q16_parts_supplier": q16_parts_supplier,
    "q17_small_quantity": q17_small_quantity,
    "q18_large_orders": q18_large_orders,
    "q22_dormant_customers": q22_dormant_customers,
    "q_window_top_orders": q_window_top_orders,
    "q_window_running_spend": q_window_running_spend,
    "q_rollup_returns": q_rollup_returns,
    "q_cube_orders": q_cube_orders,
    "q_setops_customers": q_setops_customers,
    "q_pivot_returns": q_pivot_returns,
    "q_unpivot_orders": q_unpivot_orders,
    "q_fullouter_daily": q_fullouter_daily,
    "q_window_deciles": q_window_deciles,
    "q_profile_lineitem": q_profile_lineitem,
}

ORACLES = {
    "q_bucket_join_audit": _BUCKET_JOIN_SQL,
    "q_part_prune_audit": _PART_PRUNE_SQL,
    "q_window_trailing_spend": _QWINDOW_TRAIL_SQL,
    "q_fuzzy_match": _FUZZY_SQL,
    "q01_pricing_summary": _Q01_SQL,
    "q02_min_cost_supplier": _Q02_SQL,
    "q08_market_share": _Q08_SQL,
    "q11_value_concentration": _Q11_SQL,
    "q19_disjunctive_revenue": _Q19_SQL,
    "q20_excess_stock": _Q20_SQL,
    "q21_waiting_supplier": _Q21_SQL,
    "q03_shipping_priority": _Q03_SQL,
    "q04_order_priority": _Q04_SQL,
    "q05_local_supplier_volume": _Q05_SQL,
    "q06_forecast_revenue": _Q06_SQL,
    "q07_volume_shipping": _Q07_SQL,
    "q09_product_profit": _Q09_SQL,
    "q10_returned_items": _Q10_SQL,
    "q12_ship_lag": _Q12_SQL,
    "q13_customer_distribution": _Q13_SQL,
    "q14_promo_share": _Q14_SQL,
    "q15_top_supplier": _Q15_SQL,
    "q16_parts_supplier": _Q16_SQL,
    "q17_small_quantity": _Q17_SQL,
    "q18_large_orders": _Q18_SQL,
    "q22_dormant_customers": _Q22_SQL,
    "q_window_top_orders": _QWINDOW_TOP_SQL,
    "q_window_running_spend": _QWINDOW_RUN_SQL,
    "q_rollup_returns": _QROLLUP_SQL,
    "q_cube_orders": _QCUBE_SQL,
    "q_grouping_sets": _QGSETS_SQL,
    "q_setops_customers": _QSETOPS_SQL,
    "q_pivot_returns": _QPIVOT_SQL,
    "q_unpivot_orders": _QUNPIVOT_SQL,
    "q_fullouter_daily": _QFULLOUTER_SQL,
    "q_window_deciles": _QDECILES_SQL,
    "q_profile_lineitem": _QPROFILE_SQL,
    "q_zonemap_skipping": _QZONEMAP_SQL,
    "q_skyline_customers": _QSKYLINE_SQL,
    "q_dq_checks": _QDQ_SQL,
    "q_dq_ingest_contract": _DQIC_SQL,
    "q_bloom_join_filter": _bloom_join_sql(),
    "q_ivm_join": _QIVM_SQL,
    "q_benford_audit": _benford_sql(),
    "q_zorder_layout": _zorder_sql(),
    "q_histogram_selectivity": _histogram_selectivity_sql(),
    "q_encoding_advisor": _encoding_advisor_sql(),
    "q_join_card_audit": _JOIN_CARD_SQL,
}
