"""Relational declared queries: joins, aggregates, windows, set operations,
the SQL/UDF API surface (pandas, Arrow and Python UDTFs, LATERAL joins,
recursive CTEs), and temporal maintenance (CDC upsert, SCD2, as-of joins).

The reference's relational surface is pandas projection/filter/join/groupby
(SURVEY.md §2.2-§2.7); the oracle gate additionally needs the classic
TPC-H-style operators over the driver star schema. Each query is the
Spark-first expression of one operator family; the oracle SQL lives next to
it so column names/rounding stay in lockstep.

Scale notes on the recurring shapes:
- fact⋈dim joins broadcast the dim side explicitly (nation/region are
  size-invariant; customer at 100 TB still ~GBs → AQE decides);
- fact⋈fact joins (lineitem⋈orders) shuffle on the join key — at 100 TB
  both sides would be bucketed by orderkey to make this shuffle-free;
- top-k is orderBy+limit, which Spark executes as TakeOrderedAndProject
  (per-partition heap + driver merge — no global sort);
- every aggregate is partial+final (map-side combine) for free.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F, types as T

from ..operators import dedup as D, text as X
from ..operators.cdc import apply_cdc
from ..operators.joins import asof_join
from ..sources import load_table
from .dedup_text import _TOKS
from .registry import query


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 6)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                                   AS avg_price,
           ROUND(AVG(l_discount), 6)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1 shape: scan→filter→groupBy→multi-agg→sort (SURVEY §7.2)",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= _ts("2000-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q02_top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    description="global top-k: TakeOrderedAndProject, no full sort (SURVEY §2.6)",
)
def q02_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q03_discount_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    description="TPC-H Q6 shape: tight conjunctive filter fully pushed to parquet scan (SURVEY §2.2)",
)
def q03_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


@query(
    "q04_top_customers",
    oracle="""
    SELECT c_custkey, c_name, ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n_orders
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    description="fact⋈dim equi-join + agg + top-k (SURVEY §2.3/§2.4)",
)
def q04_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q05_regional_revenue",
    oracle="""
    SELECT r_name, n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
    description="TPC-H Q5 shape: multi-way join, small dims broadcast (SURVEY §2.3)",
)
def q05_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("r_name", "n_name")
    )


@query(
    "q06_nations_per_region",
    oracle="""
    SELECT r_name, COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
    description="broadcast dim⋈dim join (SURVEY §2.3)",
)
def q06_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
        .orderBy("r_name")
    )


@query(
    "q07_semi_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    description="left-semi join (EXISTS) (SURVEY §2.3)",
)
def q07_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "q08_anti_join",
    oracle="""
    SELECT n_name, COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT'
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name ORDER BY n_name
    """,
    description="left-anti join (NOT EXISTS with filtered subquery) + broadcast dim (SURVEY §2.3)",
)
def q08_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # filtered anti-join side: an unfiltered one matches every customer at
    # sf>=0.01 (10 orders per customer), which would make the check vacuous
    recent_urgent = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderdate") >= _ts("2000-01-01"))
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(recent_urgent, cust.c_custkey == recent_urgent.o_custkey, "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_name")
    )


@query(
    "q09_order_count_histogram",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS n_orders
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
    GROUP BY n_orders ORDER BY n_orders
    """,
    description="left outer join preserving zero-order customers, two-level agg (SURVEY §2.3/§2.4)",
)
def q09_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # aggregate-below-join: collapse orders to (custkey, count) BEFORE
    # touching customers, so the join carries one row per ordering
    # customer instead of one per order (at 100 TB: the orders shuffle
    # is map-side-combined to customer cardinality, and the fact table
    # never rides through the join). COUNT over a LEFT join of the raw
    # rows is the same number with the null group counted as 0.
    per_cust = (
        cust.join(
            orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("_cnt")),
            cust.c_custkey == F.col("o_custkey"),
            "left",
        )
        .select(F.coalesce(F.col("_cnt"), F.lit(0)).alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers")).orderBy("n_orders")


@query(
    "q10_topk_per_group",
    oracle="""
    SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders WHERE o_custkey <= 100)
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    description="per-group top-k via ranking window — replaces the reference's groupby.apply(sample) shape (kaggle.py:424; SURVEY §2.6)",
)
def q10_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    )


@query(
    "q11_running_spend",
    oracle="""
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
           CAST(DATEDIFF('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS days_since_prev
    FROM orders WHERE o_custkey <= 50
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    description="analytic windows: running sum + lag (SURVEY §2.5 'absent in reference' row)",
)
def q11_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn(
            "running_spend",
            F.round(F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2),
        )
        .withColumn(
            "days_since_prev",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("long"),
        )
        .withColumn("order_date", F.date_format("o_orderdate", "yyyy-MM-dd"))
        .select("o_custkey", "o_orderkey", "order_date", "running_spend", "days_since_prev")
        .orderBy("o_custkey", "order_date", "o_orderkey")
    )


@query(
    "q12_rollup_customers",
    oracle="""
    SELECT COALESCE(r_name, 'ALL') AS region_name, COALESCE(n_name, 'ALL') AS nation_name,
           COUNT(*) AS n_customers, ROUND(SUM(c_acctbal), 2) AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY region_name, nation_name
    """,
    description="ROLLUP hierarchical aggregate (SURVEY §2.4 'absent in reference' row)",
)
def q12_rollup_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
            "total_acctbal",
        )
        .orderBy("region_name", "nation_name")
    )


@query(
    "q13_cube_lineitem",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag, COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n_items
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
    description="CUBE aggregate over all grouping-set combinations (SURVEY §2.4)",
)
def q13_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n_items"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_items",
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "q14_set_operations",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
    SELECT 'both' AS tag, nk FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
    UNION ALL
    SELECT 'cust_only' AS tag, nk FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
    UNION ALL
    SELECT 'supp_only' AS tag, nk FROM (SELECT nk FROM sn EXCEPT SELECT nk FROM cn)
    ORDER BY tag, nk
    """,
    description="INTERSECT / EXCEPT / UNION ALL set operators (SURVEY §2.7)",
)
def q14_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    sn = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    both = cn.intersect(sn).select(F.lit("both").alias("tag"), "nk")
    cust_only = cn.subtract(sn).select(F.lit("cust_only").alias("tag"), "nk")
    supp_only = sn.subtract(cn).select(F.lit("supp_only").alias("tag"), "nk")
    return both.unionByName(cust_only).unionByName(supp_only).orderBy("tag", "nk")


@query(
    "q15_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="exact distinct aggregation (SURVEY §2.4; approx_count_distinct is the scale path)",
)
def q15_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q16_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2) AS total_f,
           ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 2) AS total_o,
           ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END), 2) AS total_p
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    description="pivot / conditional aggregation (np.where shape, kaggle.py:218-225; SURVEY §2.2)",
)
def q16_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("o_totalprice"))
    )
    return pivoted.select(
        "o_orderpriority",
        F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("total_f"),
        F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("total_o"),
        F.round(F.coalesce(F.col("P"), F.lit(0.0)), 2).alias("total_p"),
    ).orderBy("o_orderpriority")


@query(
    "q17_brand_having",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_parts, ROUND(AVG(p_retailprice), 6) AS avg_price
    FROM part GROUP BY p_brand HAVING COUNT(*) > 5 ORDER BY p_brand
    """,
    description="groupBy + HAVING post-aggregate filter (SURVEY §2.4)",
)
def q17_brand_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.round(F.avg("p_retailprice"), 6).alias("avg_price"))
        .filter(F.col("n_parts") > 5)
        .orderBy("p_brand")
    )


@query(
    "q18_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice), 2) AS total_small_qty_price, COUNT(*) AS n_lines
    FROM lineitem l
    JOIN (SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty FROM lineitem GROUP BY l_partkey) a
      ON l.l_partkey = a.pk
    WHERE l.l_quantity < 0.5 * a.avg_qty
    """,
    description="TPC-H Q17 shape: aggregate subquery joined back to the fact (SURVEY §2.3)",
)
def q18_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # avg over integral quantities: integer-exact double sums → bit-identical
    # across engines, so the 0.5*avg comparison can't flip rows.
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(avg_qty, li.l_partkey == avg_qty.pk)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("total_small_qty_price"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q19_monthly_priority_orders",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
           COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY order_year, order_month
    ORDER BY order_year, order_month
    """,
    description="IN-list predicate + calendar-part grouping (dt.year/dt.month shape, kaggle.py:203-214)",
)
def q19_monthly_priority_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy("order_year", "order_month")
    )


@query(
    "q20_json_props",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(AVG(CAST(props->>'$.k' AS DOUBLE)), 6) AS avg_k,
           CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="JSON extraction from string props (SURVEY §2.8 array/json row; events table)",
)
def q20_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(k.cast("double")), 6).alias("avg_k"),
            F.sum(k.cast("int")).alias("sum_k"),
        )
        .orderBy("event_type")
    )


@query(
    "q21_hourly_events",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM events GROUP BY window_start ORDER BY window_start
    """,
    description="tumbling event-time window, batch parity of the streaming op (SURVEY §2.11)",
)
def q21_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("window_start")
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .orderBy("window_start")
    )


@query(
    "q22_string_functions",
    oracle="""
    SELECT p_type, COUNT(*) AS n_parts,
           MIN(UPPER(p_name)) AS first_name,
           CAST(MAX(LENGTH(p_name)) AS BIGINT) AS max_name_len
    FROM part WHERE p_name LIKE '%a%'
    GROUP BY p_type ORDER BY p_type
    """,
    description="string scalar functions + LIKE predicate (SURVEY §2.8)",
)
def q22_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%a%"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min(F.upper("p_name")).alias("first_name"),
            F.max(F.length("p_name")).cast("long").alias("max_name_len"),
        )
        .orderBy("p_type")
    )


@query(
    "q23_union_years",
    oracle="""
    SELECT src, yr, n FROM (
      SELECT 'lineitem' AS src, CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr, COUNT(*) AS n
      FROM lineitem GROUP BY yr
      UNION ALL
      SELECT 'orders' AS src, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr, COUNT(*) AS n
      FROM orders GROUP BY yr
    ) ORDER BY src, yr
    """,
    description="union-all of heterogeneous aggregates (pd.concat axis=0 shape, kaggle.py:415-416; SURVEY §2.7)",
)
def q23_union_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.year("l_shipdate").alias("yr"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("lineitem").alias("src"), "yr", "n")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("orders").alias("src"), "yr", "n")
    )
    return li.unionByName(orders).orderBy("src", "yr")


@query(
    "q24_price_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY bucket ORDER BY bucket
    """,
    description="histogram binning via floor-div (plt.hist shape, kaggle.py:862-870; SURVEY §2.4)",
)
def q24_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.floor(F.col("o_totalprice") / 50000).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("bucket")
    )


_PRICE_BANDS = [
    ("budget", 0.0, 933.0),
    ("mid", 933.0, 966.0),
    ("premium", 966.0, 1e9),
]
_BANDS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _PRICE_BANDS)


@query(
    "a064_range_join",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES {_BANDS_SQL})
    SELECT band, COUNT(*) AS n_parts, ROUND(AVG(p_retailprice), 6) AS avg_price
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band ORDER BY band
    """,
    description="non-equi (theta/range) join against a broadcast literal dim (SURVEY §2.3 range-join row)",
)
def a064_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.round(F.avg("p_retailprice"), 6).alias("avg_price"))
        .orderBy("band")
    )


@query(
    "a065_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="exact interpolated percentiles (np.median shape, kaggle.py:851; SURVEY §2.4). percentile_approx is the 100TB path; exact here for oracle parity",
)
def a065_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("l_extendedprice", F.lit(0.99)), 6).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "a066_ntile_quartiles",
    oracle="""
    WITH q AS (
      SELECT c_mktsegment, c_acctbal,
             NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile
      FROM customer)
    SELECT c_mktsegment, CAST(quartile AS INTEGER) AS quartile,
           COUNT(*) AS n_customers, ROUND(AVG(c_acctbal), 6) AS avg_bal
    FROM q GROUP BY c_mktsegment, quartile ORDER BY c_mktsegment, quartile
    """,
    description="ntile ranking window (SURVEY §2.5 ranking row)",
)
def a066_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_mktsegment", "quartile")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.round(F.avg("c_acctbal"), 6).alias("avg_bal"))
        .orderBy("c_mktsegment", "quartile")
    )


@query(
    "a067_map_column_ops",
    oracle="""
    SELECT event_type,
           CAST(SUM(len(json_keys(props))) AS BIGINT) AS total_keys,
           ROUND(SUM(CASE event_type WHEN 'purchase' THEN 3.0 WHEN 'signup' THEN 2.0
                     WHEN 'click' THEN 1.0 ELSE 0.5 END * value), 6) AS weighted_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="map-typed column ops: from_json to map, map_keys, create_map literal lookup (SURVEY §2.8 map/json row)",
)
def a067_map_column_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    props_map = F.from_json("props", T.MapType(T.StringType(), T.DoubleType()))
    weights = F.create_map(
        F.lit("purchase"), F.lit(3.0), F.lit("signup"), F.lit(2.0), F.lit("click"), F.lit(1.0)
    )
    weight = F.coalesce(F.element_at(weights, F.col("event_type")), F.lit(0.5))
    return (
        ev.withColumn("n_keys", F.size(F.map_keys(props_map)))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("n_keys").cast("long")).alias("total_keys"),
            F.round(F.sum(weight * F.col("value")), 6).alias("weighted_value"),
        )
        .orderBy("event_type")
    )


@query(
    "a068_pandas_udf_parity",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(o_totalprice * (1.0 + 0.1 * (o_orderkey % 7))), 2) AS adjusted_total
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    description="Arrow-vectorized scalar pandas_udf (SURVEY §2.12 escape hatch) computing a deterministic adjustment, oracle-checked against pure SQL",
)
def a068_pandas_udf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf(T.DoubleType())
    def adjust(price: pd.Series, key: pd.Series) -> pd.Series:
        # exact-in-double arithmetic only (no transcendentals): bit-equal
        # to the SQL expression in the oracle
        return price * (1.0 + 0.1 * (key % 7))

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.round(F.sum(adjust("o_totalprice", "o_orderkey")), 2).alias("adjusted_total"))
        .orderBy("o_orderpriority")
    )


@query(
    "a0175_mapinarrow_parity",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice * (1.0 + 0.05 * (o_orderkey % 4))), 2) AS arrow_total
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    description="mapInArrow parity (the last §2.12 Python-boundary API next to scalar pandas_udf a068, grouped-map a071, mapInPandas q113, cogroup a0174, UDTF): per-batch pyarrow.compute arithmetic on raw RecordBatches — zero pandas conversion, the minimal-overhead path for columnar Python logic — with exact-in-double arithmetic so the aggregate hash-matches the pure-SQL oracle bit-for-bit",
)
def a0175_mapinarrow_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def score_batches(batches):
        for b in batches:
            price = b.column("o_totalprice")
            key = b.column("o_orderkey")
            # 1.0 + 0.05 * (key % 4): exact-in-double (0.05 * k is exact
            # for k in 0..3 after one rounding, same literal in the SQL)
            adj = pc.add(
                pc.multiply(
                    price,
                    pc.add(
                        pc.multiply(
                            pc.cast(pc.bit_wise_and(key, 3), pa.float64()), pa.scalar(0.05)
                        ),
                        pa.scalar(1.0),
                    ),
                ),
                pa.scalar(0.0),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("o_orderpriority"), adj], ["o_orderpriority", "adjusted"]
            )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    scored = orders.mapInArrow(score_batches, "o_orderpriority string, adjusted double")
    return (
        scored.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("adjusted"), 2).alias("arrow_total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "a069_full_outer_join",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY nk),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY nk)
    SELECT COALESCE(c.nk, s.nk) AS nk,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    ORDER BY nk
    """,
    description="full outer join with null-fill on both sides (SURVEY §2.3)",
)
def a069_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        cust.join(supp, cust.nk_c == supp.nk_s, "full_outer")
        .select(
            F.coalesce("nk_c", "nk_s").alias("nk"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nk")
    )


@query(
    "a071_group_apply",
    oracle="""
    WITH g AS (SELECT l_returnflag, l_linestatus,
                      MIN(l_quantity) AS mn, MAX(l_quantity) AS mx
               FROM lineitem GROUP BY l_returnflag, l_linestatus)
    SELECT l.l_returnflag, l.l_linestatus, COUNT(*) AS n,
           ROUND(SUM((l_quantity - mn) / (mx - mn)), 4) AS norm_sum
    FROM lineitem l JOIN g USING (l_returnflag, l_linestatus)
    GROUP BY l.l_returnflag, l.l_linestatus
    ORDER BY l.l_returnflag, l.l_linestatus
    """,
    description="applyInPandas grouped-map (the reference's groupby().apply shape, kaggle.py:424; SURVEY §2.12): per-group min-max normalize + reduce, Arrow-batched",
)
def a071_group_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    def normalize_group(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf["l_quantity"]
        span = q.max() - q.min()
        norm = (q - q.min()) / span if span > 0 else q * 0.0
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "l_linestatus": [pdf["l_linestatus"].iloc[0]],
                "n": [len(pdf)],
                "norm_sum": [round(float(norm.sum()), 4)],
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus", "l_quantity")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .applyInPandas(
            normalize_group,
            schema="l_returnflag string, l_linestatus string, n long, norm_sum double",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "a072_correlated_subquery",
    oracle="""
    WITH nation_avg AS (SELECT c_nationkey AS nk, AVG(c_acctbal) AS navg
                        FROM customer GROUP BY c_nationkey)
    SELECT c_mktsegment, COUNT(*) AS n_above_avg,
           ROUND(AVG(c_acctbal), 6) AS avg_bal_above
    FROM customer JOIN nation_avg ON c_nationkey = nk
    WHERE c_acctbal > navg
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    description="correlated scalar subquery (customers above their nation's average balance) — expressed as its decorrelated join form, the plan Catalyst rewrites to (SURVEY §2.3/§4)",
)
def a072_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation_avg = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(F.avg("c_acctbal").alias("navg"))
    return (
        cust.join(nation_avg, cust.c_nationkey == nation_avg.nk)
        .filter(F.col("c_acctbal") > F.col("navg"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_above_avg"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal_above"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "a073_exists_late_lineitem",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    description="TPC-H Q4 shape: EXISTS with a cross-table date condition -> left-semi join on a non-trivial predicate (SURVEY §2.3)",
)
def a073_exists_late_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "a074_trailing_range_window",
    oracle="""
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
                          epoch(CAST(o_orderdate AS DATE)) AS sec,
                          SUM(o_totalprice) AS rev
                   FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'
                   GROUP BY d, sec)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           ROUND(rev, 2) AS day_revenue,
           ROUND(SUM(rev) OVER (ORDER BY sec
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2) AS trailing_7d
    FROM daily ORDER BY day
    """,
    description="RANGE-frame window: 7-day trailing revenue over a value-based frame (rangeBetween), vs the row-based frames of q11 (SURVEY §2.5 frames row). The unpartitioned window runs AFTER the per-day aggregate, so its input is bounded by the calendar (one row per day), never the data",
)
def a074_trailing_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp")
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum("o_totalprice").alias("rev")
    ).withColumn("sec", F.unix_timestamp(F.col("d").cast("timestamp")))
    # unpartitioned window is safe here: input is the DAILY rollup
    # (bounded by the calendar — a few thousand rows at any SF); the
    # scale path for row-level trailing sums is a range self-join
    w = W.orderBy("sec").rangeBetween(-604800, 0)
    return (
        daily.withColumn("trailing_7d", F.round(F.sum("rev").over(w), 2))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round("rev", 2).alias("day_revenue"),
            "trailing_7d",
        )
        .orderBy("day")
    )


@query(
    "a075_disjunctive_predicates",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 15)
       OR (p_type = 'ECONOMY' AND l_discount >= 0.05)
    """,
    description="TPC-H Q19 shape: disjunction of conjunctive bands across the join — Catalyst pushes the common parts and keeps the OR as a join filter (SURVEY §2.2)",
)
def a075_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 15))
        | ((F.col("p_type") == "ECONOMY") & (F.col("l_discount") >= 0.05))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "a076_shipping_priority",
    oracle="""
    SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15'
      AND l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, order_date, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    description="TPC-H Q3 shape: segment filter + date window on both fact sides, grouped revenue top-k (SURVEY §2.3/§2.6)",
)
def a076_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "a077_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT))
                 AS BIGINT) / 10000.0, 2) AS revenue,
           n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    description="TPC-H Q10 shape: returned-item revenue per customer, broadcast nation dim, top-k (SURVEY §2.3)",
)
def a077_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # integer-scaled money sum: the per-line product is ONE IEEE op
        # (bit-identical across engines), its rounding to integer 1/100-cents
        # is therefore identical, and integer sums are exact — immune to the
        # summation-order cent-boundary flips a raw double SUM can hit
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0).cast("long")
                )
                / 10000.0,
                2,
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "a078_order_gaps",
    oracle="""
    WITH g AS (
      SELECT c_mktsegment,
             DATEDIFF('day', o_orderdate,
                      LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey)) AS gap_days
      FROM orders JOIN customer ON o_custkey = c_custkey)
    SELECT c_mktsegment, COUNT(gap_days) AS n_gaps,
           ROUND(AVG(gap_days), 6) AS avg_gap_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
    FROM g GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    description="lead() window: inter-order gap distribution per segment (SURVEY §2.5 lag/lead row)",
)
def a078_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .withColumn("gap_days", F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate")))
    )
    return (
        gaps.groupBy("c_mktsegment")
        .agg(
            F.count("gap_days").alias("n_gaps"),
            F.round(F.avg("gap_days"), 6).alias("avg_gap_days"),
            F.max("gap_days").cast("long").alias("max_gap_days"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "a080_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    ORDER BY returnflag, linestatus
    """,
    description="explicit GROUPING SETS (neither rollup nor cube) via the SQL entry point (SURVEY §2.4)",
)
def a080_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gs")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY returnflag, linestatus
        """
    )


@query(
    "a081_cume_dist",
    oracle="""
    WITH r AS (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             CUME_DIST() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS cd,
             PERCENT_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS pr
      FROM customer)
    SELECT c_mktsegment,
           COUNT(*) AS n_top_decile,
           ROUND(MIN(c_acctbal), 2) AS decile_floor,
           ROUND(AVG(pr), 6) AS avg_pct_rank
    FROM r WHERE cd >= 0.9
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    description="cume_dist / percent_rank analytic windows (SURVEY §2.5 ranking row)",
)
def a081_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return (
        cust.withColumn("cd", F.cume_dist().over(w))
        .withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("cd") >= 0.9)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_top_decile"),
            F.round(F.min("c_acctbal"), 2).alias("decile_floor"),
            F.round(F.avg("pr"), 6).alias("avg_pct_rank"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "a082_approx_aggregates",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS parts_within_rel_err,
           TRUE AS p50_within_rel_err
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="approximate aggregates — approx_count_distinct (HLL, rsd=0.02) and percentile_approx (quantile sketch, accuracy=1000): the 100 TB substitutes for q15/q65's exact operators. Hash-checkable via error-bound booleans (VERDICT r3 item 2): Spark computes approx AND exact side by side and emits approx-within-documented-bound flags; the oracle pins the exact columns and expects TRUE. HLL bound = 2.5x rsd (5%); sketch bound = 1% relative value error (rank error n/1000 on a smooth price distribution)",
)
def a082_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    approx_parts = F.approx_count_distinct("l_partkey", rsd=0.02)
    exact_parts = F.countDistinct("l_partkey")
    approx_p50 = F.percentile_approx("l_extendedprice", 0.5, 1000)
    exact_p50 = F.expr("percentile(l_extendedprice, 0.5)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_parts.alias("exact_parts"),
            (F.abs(approx_parts - exact_parts) / exact_parts <= F.lit(0.05)).alias(
                "parts_within_rel_err"
            ),
            (F.abs(approx_p50 - exact_p50) / exact_p50 <= F.lit(0.01)).alias(
                "p50_within_rel_err"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "a089_trailing_range_join",
    oracle="""
    WITH daily AS (SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS d,
                          SUM(o_totalprice) AS rev
                   FROM orders GROUP BY ck, d),
    t AS (SELECT a.ck, a.d, ROUND(SUM(b.rev), 2) AS trailing_7d
          FROM daily a JOIN daily b ON a.ck = b.ck AND b.d BETWEEN a.d - 6 AND a.d
          GROUP BY a.ck, a.d)
    SELECT strftime(date_trunc('month', d), '%Y-%m-%d') AS month,
           COUNT(*) AS n_rows,
           ROUND(MAX(trailing_7d), 2) AS max_trailing,
           ROUND(SUM(trailing_7d), 2) AS sum_trailing
    FROM t GROUP BY month ORDER BY month
    """,
    description="row-level 7-day trailing sum as a RANGE SELF-JOIN — the scale path q74's docstring names: equi-join on the entity key (shuffle partitioned by customer, no global window anywhere) + bounded date-range predicate; per-customer daily revenue rolled up monthly (SURVEY §2.5 frames at scale)",
)
def a089_trailing_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_custkey").alias("ck"), F.to_date("o_orderdate").alias("d")
    ).agg(F.sum("o_totalprice").alias("rev"))
    a, b = daily.alias("a"), daily.alias("b")
    trailing = (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck"))
            & (F.col("b.d") >= F.date_sub(F.col("a.d"), 6))
            & (F.col("b.d") <= F.col("a.d")),
        )
        .groupBy(F.col("a.ck").alias("ck"), F.col("a.d").alias("d"))
        .agg(F.round(F.sum("b.rev"), 2).alias("trailing_7d"))
    )
    return (
        trailing.groupBy(F.date_format(F.trunc("d", "month"), "yyyy-MM-dd").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.max("trailing_7d"), 2).alias("max_trailing"),
            F.round(F.sum("trailing_7d"), 2).alias("sum_trailing"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# q148 — blocked fuzzy record linkage (entity resolution): a "dirty"
# customer feed with deterministic typos is matched back to the clean
# dimension via BLOCKING (last-4-digit key, robust to the prefix
# perturbations) + Levenshtein verification inside each block + best-
# match selection. The scale contract of every real ER pipeline: the
# expensive edit-distance runs only on block-collision candidates
# (O(n * block_width)), never all-pairs; the clean side joins broadcast.
# Typo classes (key % 3): 0 = drop one char, 1 = transpose two chars,
# 2 = unchanged — all expressible as identical substring surgery in
# both engines, so the oracle reproduces the dirty feed exactly.
# ---------------------------------------------------------------------------


@query(
    "a0148_fuzzy_join",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey AS d_key,
             CASE CAST(c_custkey % 3 AS INTEGER)
               WHEN 0 THEN substr(c_name, 1, 5) || substr(c_name, 7)
               WHEN 1 THEN substr(c_name, 1, 3) || substr(c_name, 5, 1)
                         || substr(c_name, 4, 1) || substr(c_name, 6)
               ELSE c_name END AS d_name,
             CAST(c_custkey % 3 AS INTEGER) AS typo_class
      FROM customer),
    cand AS (
      SELECT d.d_key, d.d_name, d.typo_class, c.c_custkey, c.c_name,
             levenshtein(d.d_name, c.c_name) AS lev
      FROM dirty d JOIN customer c
        ON right(d.d_name, 4) = right(c.c_name, 4)
      WHERE levenshtein(d.d_name, c.c_name) <= 2),
    best AS (
      SELECT d_key, typo_class, c_custkey, lev,
             ROW_NUMBER() OVER (PARTITION BY d_key ORDER BY lev, c_custkey) AS rn
      FROM cand),
    m AS (SELECT * FROM best WHERE rn = 1)
    SELECT typo_class,
           CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN c_custkey = d_key THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           ROUND(AVG(lev), 6) AS avg_lev
    FROM m GROUP BY typo_class ORDER BY typo_class
    """,
    description="blocked fuzzy record linkage (entity resolution): a dirty feed with deterministic typo classes (char drop / transposition / clean) matched to the customer dimension by last-4-digit BLOCKING + Levenshtein <= 2 verification inside blocks + lowest-(distance, key) best-match selection — edit distance runs only on block-collision candidates (O(n x block width), never all-pairs), the clean dimension is broadcast, and per-class match/accuracy stats quantify the linkage; typos are identical substring surgery in both engines so the oracle rebuilds the same dirty feed",
)
def a0148_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    name = F.col("c_name")
    dirty = cust.select(
        F.col("c_custkey").alias("d_key"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(F.substring(name, 1, 5), F.expr("substr(c_name, 7)")),
        )
        .when(
            F.col("c_custkey") % 3 == 1,
            F.concat(
                F.substring(name, 1, 3),
                F.substring(name, 5, 1),
                F.substring(name, 4, 1),
                F.expr("substr(c_name, 6)"),
            ),
        )
        .otherwise(name)
        .alias("d_name"),
        (F.col("c_custkey") % 3).cast("int").alias("typo_class"),
    )
    clean = cust.select("c_custkey", "c_name", F.expr("right(c_name, 4)").alias("blk"))
    cand = (
        dirty.withColumn("blk", F.expr("right(d_name, 4)"))
        .join(F.broadcast(clean), "blk")
        .withColumn("lev", F.levenshtein("d_name", "c_name"))
        .filter(F.col("lev") <= 2)
    )
    best = cand.withColumn(
        "rn", F.row_number().over(W.partitionBy("d_key").orderBy("lev", "c_custkey"))
    ).filter(F.col("rn") == 1)
    return (
        best.groupBy("typo_class")
        .agg(
            F.count("*").alias("n_matched"),
            F.sum((F.col("c_custkey") == F.col("d_key")).cast("long")).alias("n_correct"),
            F.round(F.avg("lev"), 6).alias("avg_lev"),
        )
        .orderBy("typo_class")
    )


# ---------------------------------------------------------------------------
# q153 — hierarchical rollup (the recursive-CTE workload): a synthetic
# customer hierarchy (parent = k // 10, a forest over the real customer
# keys whose depth is digits(max custkey) - 1) is traversed to find
# every node's ROOT and DEPTH, then order spend rolls up per root
# subtree. Spark has no recursive CTE — the traversal is a fixed-depth
# iterative broadcast self-join over the edge dimension (the standard
# Spark hierarchy pattern), with the unroll depth derived from max(k)
# at plan time so the plan stays exact at any SF. The DuckDB oracle
# uses a real WITH RECURSIVE, so the hash proves the unrolled iteration
# reproduces true recursive semantics.
# ---------------------------------------------------------------------------

@query(
    "a0153_hierarchy_rollup",
    oracle="""
    WITH RECURSIVE nodes AS (SELECT DISTINCT c_custkey AS k FROM customer),
    edges AS (SELECT k, k // 10 AS parent FROM nodes WHERE k >= 10),
    roots AS (SELECT k FROM nodes WHERE k < 10),
    walk AS (
      SELECT k, k AS root, 0 AS depth FROM roots
      UNION ALL
      SELECT e.k, w.root, w.depth + 1
      FROM edges e JOIN walk w ON e.parent = w.k),
    spend AS (SELECT o_custkey AS k, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
              FROM orders GROUP BY o_custkey),
    rolled AS (
      SELECT w.root, COUNT(*) AS n_nodes, MAX(w.depth) AS max_depth,
             ROUND(SUM(COALESCE(sp, 0)), 2) AS subtree_spend
      FROM walk w LEFT JOIN spend s ON s.k = w.k
      GROUP BY w.root)
    SELECT CAST(root AS BIGINT) AS root, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(max_depth AS BIGINT) AS max_depth, subtree_spend
    FROM rolled ORDER BY root
    """,
    description="hierarchical rollup — the recursive-CTE workload on an engine without recursive CTEs: a synthetic customer forest (parent = key div 10 over the real keys) traversed by fixed-depth iterative broadcast self-joins over the dimension-sized edge frame (the standard Spark hierarchy unroll; the unroll depth is derived from max custkey at plan time so the plan stays exact at any SF), then per-root subtree spend in exact DECIMAL; the DuckDB oracle runs a true WITH RECURSIVE, so the hash match proves the unrolled iteration reproduces genuine recursive semantics",
)
def a0153_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nodes = cust.select(F.col("c_custkey").alias("k")).distinct()
    # the edge frame is customer-dimension-sized; checkpoint once for the
    # unrolled iterations instead of re-deriving per level
    edges = (
        nodes.filter(F.col("k") >= 10)
        .select("k", (F.col("k") / 10).cast("long").alias("parent"))
        .localCheckpoint(eager=False)
    )
    # Unroll depth DERIVED from the data, not hard-coded: parent = k // 10,
    # so a node's depth is digits(k) - 1 and the forest depth is
    # digits(max k) - 1.  One scalar agg over the dimension (cheap at any
    # SF) keeps the unroll exact when custkey grows a decade — a fixed
    # constant here would silently drop deeper nodes at sf >= 1.
    max_k = nodes.agg(F.max("k")).first()[0] or 1
    hier_depth = max(1, len(str(max_k)) - 1)
    walk = nodes.filter(F.col("k") < 10).select(
        "k", F.col("k").alias("root"), F.lit(0).alias("depth")
    )
    frontier = walk
    for _ in range(hier_depth):
        frontier = (
            edges.join(
                F.broadcast(frontier.select(F.col("k").alias("parent"), "root", "depth")),
                "parent",
            )
            .select("k", "root", (F.col("depth") + 1).alias("depth"))
        )
        walk = walk.unionByName(frontier)
    spend = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sp")
    )
    return (
        walk.join(spend, "k", "left")
        .groupBy("root")
        .agg(
            F.count("*").alias("n_nodes"),
            F.max("depth").cast("long").alias("max_depth"),
            F.round(F.sum(F.coalesce(F.col("sp"), F.lit(0).cast("decimal(18,2)"))), 2).alias(
                "subtree_spend"
            ),
        )
        .select(F.col("root").cast("long").alias("root"), "n_nodes", "max_depth", "subtree_spend")
        .orderBy("root")
    )


# ---------------------------------------------------------------------------
# q162 — grouped-aggregate pandas UDF (the last cell of the §2.12 UDF
# matrix: scalar pandas_udf = q68, grouped-map applyInPandas = q71,
# mapInPandas = q70, UDTF = chunk_text; this is PandasUDFType.
# GROUPED_AGG): a 10% two-sided trimmed mean of order value per
# priority — the robust location statistic with no native Spark
# aggregate. The UDF receives each group's values as ONE pandas Series
# via Arrow (no row-at-a-time Python), sorts, drops floor(n/10) from
# each tail, and means the rest; the trim rule is exact integer
# arithmetic so both engines trim identical row sets.
# ---------------------------------------------------------------------------


@query(
    "a0162_trimmed_mean_udaf",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders)
    SELECT o_orderpriority, CAST(ANY_VALUE(n) AS BIGINT) AS n_orders,
           ROUND(AVG(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                          THEN o_totalprice END), 6) AS trimmed_mean
    FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    description="grouped-aggregate pandas UDF (PandasUDFType.GROUPED_AGG — completes the §2.12 UDF matrix alongside scalar q68, grouped-map q71, mapInPandas q70, and the chunk UDTF): 10% two-sided trimmed mean of order value per priority, each group's values arriving as ONE Arrow-backed pandas Series (never row-at-a-time); floor(n/10) trimmed per tail by exact integer arithmetic so both engines drop identical row sets; the robust location aggregate Spark lacks natively",
)
def a0162_trimmed_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:

    @F.pandas_udf(T.DoubleType())
    def trimmed_mean(v: pd.Series) -> float:
        s = v.sort_values(kind="mergesort").reset_index(drop=True)
        k = len(s) // 10
        kept = s.iloc[k : len(s) - k] if len(s) > 2 * k else s
        return float(kept.mean())

    orders = load_table(spark, sf_dir, "orders")
    # Spark disallows mixing a GROUPED_AGG pandas UDF with built-in
    # aggregates in one agg() — the plain count runs as its own tiny
    # aggregate and joins back on the #priorities-row key.
    tm = orders.groupBy("o_orderpriority").agg(
        F.round(trimmed_mean("o_totalprice"), 6).alias("trimmed_mean")
    )
    n = orders.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))
    return (
        n.join(F.broadcast(tm), "o_orderpriority")
        .select("o_orderpriority", "n_orders", "trimmed_mean")
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# a0172 — VARIANT semi-structured ops (Spark 4 open variant encoding):
# the modern replacement for string-walking JSON with get_json_object.
# parse_json materializes the props column ONCE into the binary variant
# form; every subsequent variant_get is a typed offset lookup, not a
# re-parse — the shape that makes wide semi-structured scans at 100 TB
# cheap (and what Delta/Iceberg shred into columns). Exercises typed
# extraction, try_variant_get's NULL-on-miss contract, schema_of_variant
# introspection, and a construct -> extract round-trip.
# ---------------------------------------------------------------------------


@query(
    "a0172_variant_json_ops",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(COUNT(*) AS BIGINT) AS n_missing_null,
           'OBJECT<k: BIGINT>' AS vschema,
           CAST(COUNT(*) AS BIGINT) AS n_roundtrip
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="Spark 4 VARIANT ops over the events props JSON: parse_json into the binary variant encoding once, typed variant_get extraction (no per-access string re-parse), try_variant_get NULL-on-miss pinned for every row, schema_of_variant introspection pinned to its literal, and a construct->extract round-trip (to_json(named_struct) -> parse_json -> variant_get) proving the codec is lossless; the DuckDB oracle recomputes the same aggregates with native JSON functions, so a wrong extraction path, type mapping, or null contract fails the hash",
)
def a0172_variant_json_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    t = ev.select("event_type", v.alias("v"))
    v2 = F.parse_json(
        F.to_json(
            F.named_struct(
                F.lit("t"), F.col("event_type"),
                F.lit("k"), F.expr("variant_get(v, '$.k', 'bigint')"),
            )
        )
    )
    return (
        t.withColumn("v2", v2)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("variant_get(v, '$.k', 'bigint')")).alias("sum_k"),
            F.sum(
                F.expr("try_variant_get(v, '$.missing', 'int')").isNull().cast("long")
            ).alias("n_missing_null"),
            F.max(F.expr("schema_of_variant(v)")).alias("vschema"),
            F.sum(
                (F.expr("variant_get(v2, '$.t', 'string')") == F.col("event_type")).cast("long")
            ).alias("n_roundtrip"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# a0173 — NATIVE recursive CTE (Spark 4.1 WITH RECURSIVE): the true
# recursive form of a0153's iterative unroll, run by Spark's own
# recursion operator instead of hand-unrolled joins — the engine
# feature a0153 documents as historically missing. Same synthetic
# customer forest (parent = key div 10), but the walk also builds the
# materialized path string, and the result is a per-depth census with
# min/max paths — so the hash pins recursion termination, per-level
# fan-out, AND the exact concatenation order against DuckDB's native
# WITH RECURSIVE.
# ---------------------------------------------------------------------------


@query(
    "a0173_recursive_cte_paths",
    oracle="""
    WITH RECURSIVE nodes AS (SELECT DISTINCT c_custkey AS k FROM customer),
    edges AS (SELECT k, k // 10 AS parent FROM nodes WHERE k >= 10),
    walk AS (
      SELECT k, k AS root, 0 AS depth, CAST(k AS VARCHAR) AS path
      FROM nodes WHERE k < 10
      UNION ALL
      SELECT e.k, w.root, w.depth + 1, w.path || '/' || CAST(e.k AS VARCHAR)
      FROM edges e JOIN walk w ON e.parent = w.k)
    SELECT CAST(depth AS BIGINT) AS depth, COUNT(*) AS n_nodes,
           COUNT(DISTINCT root) AS n_roots,
           MIN(path) AS min_path, MAX(path) AS max_path
    FROM walk GROUP BY depth ORDER BY depth
    """,
    description="native WITH RECURSIVE (Spark 4.1) over the a0153 customer forest, carrying materialized path strings through the recursion; per-depth census (node count, distinct roots, lexicographic min/max path) hash-matched against DuckDB's native recursive CTE — recursion that terminates wrongly, drops a level, or concatenates paths in the wrong order fails the hash; a0153 keeps the iterative-unroll form for engines/versions without the feature",
)
def a0173_recursive_cte_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_rcte")
    return spark.sql(
        """
        WITH RECURSIVE walk(k, root, depth, path) AS (
          SELECT k, k AS root, 0 AS depth, CAST(k AS STRING) AS path
          FROM (SELECT DISTINCT c_custkey AS k FROM customer_rcte) WHERE k < 10
          UNION ALL
          SELECT e.k, w.root, w.depth + 1, CONCAT(w.path, '/', CAST(e.k AS STRING))
          FROM (SELECT k, k DIV 10 AS parent
                FROM (SELECT DISTINCT c_custkey AS k FROM customer_rcte)
                WHERE k >= 10) e
          JOIN walk w ON e.parent = w.k)
        SELECT CAST(depth AS BIGINT) AS depth, COUNT(*) AS n_nodes,
               COUNT(DISTINCT root) AS n_roots,
               MIN(path) AS min_path, MAX(path) AS max_path
        FROM walk GROUP BY depth ORDER BY depth
        """
    )


_INS_OFFSET = 10_000_000_000


@query(
    "a097_cdc_upsert",
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp
                  FROM orders),
    ch AS (
      SELECT k, 'U' AS op, 1 AS seq, st, tp * 1.1 AS tp FROM base WHERE k % 10 = 0
      UNION ALL SELECT k, 'U', 2, st, tp * 1.2 FROM base WHERE k % 30 = 0
      UNION ALL SELECT k, 'D', 3, NULL, NULL FROM base WHERE k % 17 = 3
      UNION ALL SELECT k + {_INS_OFFSET}, 'I', 1, 'N', 999.99 FROM base WHERE k % 23 = 5),
    latest AS (SELECT * FROM ch
               QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) = 1),
    applied AS (
      SELECT b.k, b.st, b.tp FROM base b LEFT JOIN latest l ON b.k = l.k
      WHERE l.k IS NULL
      UNION ALL
      SELECT k, st, tp FROM latest WHERE op <> 'D')
    SELECT st AS o_orderstatus, COUNT(*) AS n_rows,
           ROUND(SUM(tp), 2) AS sum_totalprice
    FROM applied GROUP BY st ORDER BY st
    """,
    description="CDC upsert apply (Delta-MERGE semantics on plain DataFrames): a synthesized I/U/D change feed with conflicting per-key sequences — latest-wins ranking over the feed, anti-join drop, union upserts; exercises update-then-delete and double-update conflicts (operators/cdc.py)",
)
def a097_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
    )
    k = F.col("k")
    changes = (
        base.filter(k % 10 == 0)
        .select("k", F.lit("U").alias("op"), F.lit(1).alias("seq"), "st", (F.col("tp") * 1.1).alias("tp"))
        .unionByName(
            base.filter(k % 30 == 0).select(
                "k", F.lit("U").alias("op"), F.lit(2).alias("seq"), "st", (F.col("tp") * 1.2).alias("tp")
            )
        )
        .unionByName(
            base.filter(k % 17 == 3).select(
                "k",
                F.lit("D").alias("op"),
                F.lit(3).alias("seq"),
                F.lit(None).cast("string").alias("st"),
                F.lit(None).cast("double").alias("tp"),
            )
        )
        .unionByName(
            base.filter(k % 23 == 5).select(
                (k + _INS_OFFSET).alias("k"),
                F.lit("I").alias("op"),
                F.lit(1).alias("seq"),
                F.lit("N").alias("st"),
                F.lit(999.99).alias("tp"),
            )
        )
    )
    applied = apply_cdc(base, changes, key="k", op_col="op", seq_col="seq")
    return (
        applied.groupBy(F.col("st").alias("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("tp"), 2).alias("sum_totalprice"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "a098_asof_join",
    oracle="""
    WITH clicks AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
    views AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view')
    SELECT c.user_id % 10 AS cohort, COUNT(*) AS n_clicks,
           COUNT(v.value) AS n_matched,
           ROUND(SUM(COALESCE(v.value, 0)), 2) AS sum_asof_value
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    GROUP BY cohort ORDER BY cohort
    """,
    description="as-of join (temporal join primitive Spark lacks; DuckDB native ASOF JOIN as the oracle): every click joined to the user's most recent view at-or-before it — implemented as union + one last-non-null window per key (single shuffle, linear scan; deliberately NOT the quadratic range-join form), per-cohort rollup",
)
def a098_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    views = events.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = asof_join(clicks, views, on="user_id")
    return (
        joined.groupBy((F.col("user_id") % 10).alias("cohort"))
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.count("value").alias("n_matched"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("sum_asof_value"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# q152 — SCD Type-2 history build from the q97 change feed: where q97
# APPLIES changes (latest-wins current state), q152 MATERIALIZES the
# full validity history — every non-delete version gets
# [eff_from, eff_to) bounds via LEAD over the per-key change sequence,
# a version is CURRENT iff nothing (update or tombstone) supersedes it.
# One window over (key, seq) — the warehouse dimension-history pattern
# (Kimball SCD2) on plain DataFrames. The report pins version counts,
# current/closed splits, and the exact-decimal sum of current prices
# per status, so a wrong LEAD frame, a tombstone that fails to close
# history, or an insert misversioned as an update all flip the hash.
# ---------------------------------------------------------------------------


@query(
    "a0152_scd2_history",
    oracle=f"""
    WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp
                  FROM orders),
    ch AS (
      SELECT k, 'I' AS op, 0 AS seq, st, tp FROM base
      UNION ALL SELECT k, 'U', 1, st, tp * 1.1 FROM base WHERE k % 10 = 0
      UNION ALL SELECT k, 'U', 2, st, tp * 1.2 FROM base WHERE k % 30 = 0
      UNION ALL SELECT k, 'D', 3, NULL, NULL FROM base WHERE k % 17 = 3
      UNION ALL SELECT k + {_INS_OFFSET}, 'I', 1, 'N', 999.99 FROM base WHERE k % 23 = 5),
    v AS (
      SELECT k, op, seq, st, tp,
             LEAD(seq) OVER (PARTITION BY k ORDER BY seq) AS eff_to
      FROM ch),
    hist AS (SELECT * FROM v WHERE op <> 'D')
    SELECT st AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(SUM(CASE WHEN eff_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
           CAST(SUM(CASE WHEN eff_to IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
           ROUND(SUM(CASE WHEN eff_to IS NULL
                          THEN CAST(tp AS DECIMAL(18,4)) ELSE 0 END), 2) AS current_price_sum
    FROM hist GROUP BY st ORDER BY o_orderstatus
    """,
    description="SCD Type-2 dimension history build (Kimball pattern) from a conflicting I/U/D change feed: every non-delete version gets [eff_from, eff_to) validity via LEAD over the per-key sequence, tombstones close history without creating versions, current = unsuperseded; per-status version/current/closed counts plus the exact-DECIMAL sum of current prices — the materialized-history complement to q97's latest-wins apply; one key-partitioned window, shuffle only on the key",
)
def a0152_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
    )
    k = F.col("k")
    ch = (
        base.select("k", F.lit("I").alias("op"), F.lit(0).alias("seq"), "st", "tp")
        .unionByName(
            base.filter(k % 10 == 0).select(
                "k", F.lit("U").alias("op"), F.lit(1).alias("seq"), "st",
                (F.col("tp") * 1.1).alias("tp"),
            )
        )
        .unionByName(
            base.filter(k % 30 == 0).select(
                "k", F.lit("U").alias("op"), F.lit(2).alias("seq"), "st",
                (F.col("tp") * 1.2).alias("tp"),
            )
        )
        .unionByName(
            base.filter(k % 17 == 3).select(
                "k", F.lit("D").alias("op"), F.lit(3).alias("seq"),
                F.lit(None).cast("string").alias("st"),
                F.lit(None).cast("double").alias("tp"),
            )
        )
        .unionByName(
            base.filter(k % 23 == 5).select(
                (k + _INS_OFFSET).alias("k"), F.lit("I").alias("op"),
                F.lit(1).alias("seq"), F.lit("N").alias("st"),
                F.lit(999.99).alias("tp"),
            )
        )
    )
    v = ch.withColumn("eff_to", F.lead("seq").over(W.partitionBy("k").orderBy("seq")))
    hist = v.filter(F.col("op") != "D")
    return (
        hist.groupBy(F.col("st").alias("o_orderstatus"))
        .agg(
            F.count("*").alias("n_versions"),
            F.sum(F.col("eff_to").isNull().cast("long")).alias("n_current"),
            F.sum(F.col("eff_to").isNotNull().cast("long")).alias("n_closed"),
            F.round(
                F.sum(
                    F.when(
                        F.col("eff_to").isNull(), F.col("tp").cast("decimal(18,4)")
                    ).otherwise(F.lit(0).cast("decimal(18,4)"))
                ),
                2,
            ).alias("current_price_sum"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# a0174 — cogrouped-pandas as-of join: the COGROUP flavor of the UDF
# surface (SURVEY §2.12) that a098's native window formulation renders
# unnecessary — kept as a first-class operator because it is the shape
# teams port pandas merge_asof code into first, and the driver hash
# proves it agrees with DuckDB's native ASOF JOIN (and therefore with
# a098). Each user's click/view partitions ship to ONE python worker as
# two Arrow batches; pandas merge_asof runs per key. Scale: state is
# bounded per key, the shuffle is the same single exchange a
# groupBy(user_id) pays; a098's window form stays the hot path.
# ---------------------------------------------------------------------------


@query(
    "a0174_cogroup_asof_join",
    oracle="""
    WITH clicks AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
    views AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view')
    SELECT c.user_id % 10 AS cohort, COUNT(*) AS n_clicks,
           COUNT(v.value) AS n_matched,
           ROUND(SUM(COALESCE(v.value, 0)), 2) AS sum_asof_value
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    GROUP BY cohort ORDER BY cohort
    """,
    description="cogrouped applyInPandas as-of join (the §2.12 cogroup UDF shape): clicks and views cogrouped per user ship as two Arrow batches to one pandas merge_asof call per key (backward, exact matches allowed, NaN->NULL restored for Spark count/sum semantics); per-cohort rollup hash-matched against DuckDB's native ASOF JOIN — the same oracle a098's native union+window formulation passes, so the two implementations are pinned equal",
)
def a0174_cogroup_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    # Both cogroup children derive from the SAME scan, and Catalyst
    # conflates the shared ts attribute across them — the right Arrow
    # batch then arrives WITHOUT its ts column (observed: right columns
    # ['user_id', 'value']). Renaming the right side's shared columns
    # breaks the attribute sharing so both frames ship whole.
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"), "value"
    )

    def asof_pd(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame({"user_id": pd.Series(dtype="int64"),
                                 "value": pd.Series(dtype="float64")})
        if right.empty:
            # a key with clicks but no views: cogroup hands over an
            # empty (possibly column-less) frame — every click unmatched
            return pd.DataFrame({"user_id": left["user_id"],
                                 "value": [None] * len(left)})
        # sort by (ts, payload) so the backward match among equal-ts
        # view rows picks the max payload tuple — asof_join's tie rule
        left = left.sort_values(["ts", "event_id"], kind="mergesort")
        right = right.sort_values(["v_ts", "value"], kind="mergesort")
        out = pd.merge_asof(left, right.drop(columns=["v_user"]),
                            left_on="ts", right_on="v_ts",
                            direction="backward", allow_exact_matches=True)
        # merge_asof emits NaN for no-match; restore NULL so Spark's
        # count/sum(null) semantics (and the oracle's) apply
        out["value"] = out["value"].astype(object).where(out["value"].notna(), None)
        return out[["user_id", "value"]]

    joined = (
        clicks.groupBy("user_id")
        .cogroup(views.groupBy("v_user"))
        .applyInPandas(asof_pd, "user_id long, value double")
    )
    return (
        joined.groupBy((F.col("user_id") % 10).alias("cohort"))
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.count("value").alias("n_matched"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("sum_asof_value"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# q129 — incremental materialized-view maintenance (the lakehouse MV /
# CDC-refresh contract): a pre-aggregated base view absorbs a new data
# increment WITHOUT rescanning base data — counts and sums add, derived
# averages recompute from the merged sums. The DuckDB oracle computes
# the aggregate DIRECTLY over the full table, so the hash match itself
# proves increment-merge == full-recompute (the q126 proof pattern, for
# exact aggregates). Only linearly-maintainable aggregates participate;
# distinct counts need the q117 HLL sketch — that boundary is the whole
# design point.
# ---------------------------------------------------------------------------


@query(
    "q129_incremental_view",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           ROUND(SUM(l_quantity) / COUNT(*), 6) AS avg_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="incremental materialized-view maintenance: base view (l_orderkey % 10 <> 0) pre-aggregated once, the increment (% 10 = 0) aggregated alone, merged by pure addition with averages re-derived from merged sums — the oracle aggregates the FULL table directly, so the hash match proves increment-merge == full-recompute without base rescan; only linearly-maintainable aggregates participate (distinct counts route to the q117 HLL sketch)",
)
def q129_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count("*").alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_price"),
        )

    base = agg(li.filter(F.col("l_orderkey") % 10 != 0))
    inc = agg(li.filter(F.col("l_orderkey") % 10 == 0))
    merged = (
        base.unionByName(inc)
        .groupBy("l_returnflag")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_qty").alias("sum_qty"),
            F.sum("sum_price").alias("sum_price"),
        )
    )
    return merged.select(
        "l_returnflag",
        "n_rows",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_price", 2).alias("sum_price"),
        F.round(F.col("sum_qty") / F.col("n_rows"), 6).alias("avg_qty"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# a0143 — grouped applyInArrow parity (Spark 4's Arrow-native grouped
# map, the zero-pandas sibling of applyInPandas): per-group OLS slope
# computed inside the Arrow UDF with numpy on the columnar batch, next
# to the same slope from the native regr_slope expression. The Arrow
# path must agree with the JVM expression to 1e-9 — pinned as an
# oracle-expected boolean — while the hashed slope column itself comes
# from the native expression (cross-engine float discipline: the hash
# never depends on Python accumulation order).
# ---------------------------------------------------------------------------


@query(
    "a0143_applyinarrow_parity",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(value, EXTRACT(hour FROM ts)), 6) AS slope,
           TRUE AS arrow_matches_native
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="grouped applyInArrow (Spark 4 Arrow-native grouped map, the zero-pandas sibling of applyInPandas): per-event-type OLS slope computed with numpy over the raw Arrow batch, joined against the identical slope from the native regr_slope expression; agreement to 1e-9 pinned as an oracle-expected boolean while the HASHED slope column comes from the JVM expression (the hash never depends on Python float accumulation order)",
)
def a0143_applyinarrow_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("double").alias("x"), F.col("value").alias("y")
    )

    def slope_of(tbl: pa.Table) -> pa.Table:
        import numpy as np

        x = tbl.column("x").to_numpy(zero_copy_only=False).astype("float64")
        y = tbl.column("y").to_numpy(zero_copy_only=False).astype("float64")
        xm, ym = x.mean(), y.mean()
        den = ((x - xm) ** 2).sum()
        slope = float(((x - xm) * (y - ym)).sum() / den) if den else float("nan")
        et = tbl.column("event_type")[0].as_py()
        return pa.table(
            {"event_type": [et], "n": [len(x)], "slope_arrow": [slope]}
        )

    arrow = ev.groupBy("event_type").applyInArrow(
        slope_of, schema="event_type string, n long, slope_arrow double"
    )
    native = ev.groupBy("event_type").agg(F.regr_slope("y", "x").alias("slope_native"))
    return (
        arrow.join(native, "event_type")
        .select(
            "event_type",
            "n",
            F.round("slope_native", 6).alias("slope"),
            (F.abs(F.col("slope_arrow") - F.col("slope_native")) < 1e-9).alias(
                "arrow_matches_native"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# a0119 (ex-a0192) — Python UDTF (Spark 4's pyspark.sql.functions.udtf), driven
# through its hardest shape: a LATERAL-correlated table function call
# in SQL, one invocation per input row. The UDTF emits a context-window
# chunk plan per document; eval() is a generator, so rows stream out
# Arrow-batched. The oracle reproduces the identical plan with
# generate_series — the hash pins the UDTF's row semantics, not just
# its schema.
# ---------------------------------------------------------------------------

_UDTF_CHUNK = 32


@query(
    "a0119_python_udtf_chunks",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, len({_TOKS}) AS n_tok FROM documents),
    pl AS (SELECT source, doc_id, n_tok,
                  CAST(s AS BIGINT) // {_UDTF_CHUNK} + 1 AS chunk_idx,
                  LEAST({_UDTF_CHUNK}, n_tok - CAST(s AS BIGINT)) AS width
           FROM d, unnest(range(0, GREATEST(n_tok, 0), {_UDTF_CHUNK})) t(s)
           WHERE n_tok > 0)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(width) AS BIGINT) AS total_width,
           CAST(SUM(CASE WHEN width < {_UDTF_CHUNK} THEN 1 ELSE 0 END) AS BIGINT) AS n_ragged,
           CAST(MAX(chunk_idx) AS BIGINT) AS max_chunks_per_doc
    FROM pl GROUP BY source ORDER BY source
    """,
    description="Python UDTF (Spark 4 pyspark.sql.functions.udtf) in its hardest shape — a LATERAL-correlated table-function call in SQL, invoked once per document row: the UDTF's generator eval() streams a 32-token context-window chunk plan (chunk_idx, start, width) per doc; per-source chunk totals, ragged-tail counts and max depth are hash-pinned against a generate_series oracle, so the UDTF's row SEMANTICS (not just schema) are under the hash",
)
def a0119_python_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx bigint, start bigint, width bigint")
    class ChunkPlan:
        def eval(self, n_tokens, chunk):
            if n_tokens is None or n_tokens <= 0:
                return
            idx, start = 1, 0
            while start < n_tokens:
                yield (idx, start, min(chunk, n_tokens - start))
                idx += 1
                start += chunk

    spark.udtf.register("adm_chunk_plan", ChunkPlan)
    docs = load_table(spark, sf_dir, "documents")

    docs.select("doc_id", "source", F.size(X.tokens("text")).alias("n_tok")).createOrReplaceTempView(
        "adm_udtf_docs"
    )
    return spark.sql(
        f"""
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(c.width) AS BIGINT) AS total_width,
               CAST(SUM(CASE WHEN c.width < {_UDTF_CHUNK} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ragged,
               CAST(MAX(c.chunk_idx) AS BIGINT) AS max_chunks_per_doc
        FROM adm_udtf_docs d, LATERAL adm_chunk_plan(d.n_tok, {_UDTF_CHUNK}) c
        GROUP BY source ORDER BY source
        """
    )


# ---------------------------------------------------------------------------
# a0120 (ex-a0193) — correlated LATERAL subquery with ORDER BY + LIMIT (Spark 4
# SQL): the per-row top-k dependent join, the SQL-standard form of
# "top 2 orders for every customer". Catalyst decorrelates it into a
# ranked window join, so the plan shards by the correlation key — the
# query pins both the SQL surface and the decorrelation semantics.
# ---------------------------------------------------------------------------


@query(
    "a0120_lateral_topk_join",
    oracle="""
    WITH t AS (
      SELECT c.c_mktsegment, x.o_totalprice
      FROM customer c,
      LATERAL (SELECT o_totalprice FROM orders o WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) x)
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_top_orders,
           ROUND(SUM(o_totalprice), 2) AS top2_revenue,
           ROUND(ROUND(SUM(o_totalprice), 2) / COUNT(*), 6) AS avg_top_order,
           ROUND(MAX(o_totalprice), 2) AS best_order
    FROM t GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    description="correlated LATERAL subquery with ORDER BY + LIMIT (Spark 4 SQL surface): per-customer top-2 orders as a dependent join — Catalyst decorrelates the lateral into a ranked window join sharded on the correlation key (never a per-row re-execution); per-segment rollup of the top-2 revenue pinned against DuckDB's native LATERAL",
)
def a0120_lateral_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("adm_lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("adm_lat_orders")
    return spark.sql(
        """
        WITH t AS (
          SELECT c.c_mktsegment, x.o_totalprice
          FROM adm_lat_customer c,
          LATERAL (SELECT o_totalprice FROM adm_lat_orders o
                   WHERE o.o_custkey = c.c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) x)
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_top_orders,
               ROUND(SUM(o_totalprice), 2) AS top2_revenue,
               -- avg from the ROUNDED sum: a raw AVG of 2-decimal money can
               -- land on the .xx5 rounding knife-edge, where partial-agg
               -- accumulation order flips the last digit run-to-run
               ROUND(ROUND(SUM(o_totalprice), 2) / COUNT(*), 6) AS avg_top_order,
               ROUND(MAX(o_totalprice), 2) AS best_order
        FROM t GROUP BY c_mktsegment ORDER BY c_mktsegment
        """
    )


# ---------------------------------------------------------------------------
# a0082 — Bloom-filter semi-join reduction (the runtime-filter pattern
# every distributed engine applies to selective joins): the BUILDING-
# segment customer keys collapse to a 4096-bit Bloom bitmap (m/64 = 64
# long words, a driver-bounded literal); the orders fact probes it as a
# PURE PROJECTION inside the scan's codegen span — no join, no shuffle
# — and only bloom-passing rows would reach the real join. The query
# audits exactly what the optimizer would want to know: pass rate,
# true-semi-join rate, and the measured false-positive rate vs the
# (1−e^(−kn/m))^k theory. Bloom machinery shared with q115
# (operators/dedup.py bloom_*, single-digest k<=4 positions).
# ---------------------------------------------------------------------------

_BSJ_M, _BSJ_K = 4096, 3


def _bsj_pos_sql(g: str, j: str) -> str:
    return f"CAST(CONCAT('0x', substr(md5({g}), 1 + 8 * {j}, 8)) AS BIGINT) % {_BSJ_M}"


# Scale rule (100 TB): m scales with DISTINCT probe keys (constant
# bits/key at fixed fpr) — at 100 TB size m from an approx distinct count
# and keep k = m/n*ln2; the filter stays a broadcast bitset as long as
# m/8 fits an executor broadcast, else switch to the partitioned-bitset
# variant (q115's layout).
@query(
    "a0082_bloom_semijoin",
    oracle=f"""
    WITH dim AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key, c_custkey
                 FROM customer WHERE c_mktsegment = 'BUILDING'),
    bl AS (SELECT DISTINCT {_bsj_pos_sql('key', 'r.j')} AS pos
           FROM dim CROSS JOIN range(0, {_BSJ_K}) r(j)),
    probe AS (
      SELECT o_orderkey, o_custkey,
             SUM(CASE WHEN {_bsj_pos_sql("CAST(o_custkey AS VARCHAR)", 'r.j')}
                          IN (SELECT pos FROM bl) THEN 1 ELSE 0 END) AS h
      FROM orders CROSS JOIN range(0, {_BSJ_K}) r(j)
      GROUP BY 1, 2
    ),
    m AS (
      SELECT COUNT(*) * 1.0 AS n_fact,
             SUM(CASE WHEN h = {_BSJ_K} THEN 1 ELSE 0 END) * 1.0 AS n_pass,
             SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM dim) THEN 1 ELSE 0 END) * 1.0 AS n_true
      FROM probe
    )
    SELECT CAST(n_fact AS BIGINT) AS n_fact,
           CAST((SELECT COUNT(*) FROM dim) AS BIGINT) AS n_dim,
           CAST(n_pass AS BIGINT) AS n_pass_bloom,
           CAST(n_true AS BIGINT) AS n_true_semi,
           CAST(n_pass - n_true AS BIGINT) AS n_false_pos,
           ROUND((n_pass - n_true) / (n_fact - n_true), 6) AS fp_rate,
           ROUND(n_pass / n_fact, 6) AS pass_rate,
           ROUND(POWER(1.0 - EXP(-{_BSJ_K}.0 * (SELECT COUNT(*) FROM dim) / {_BSJ_M}.0), {_BSJ_K}.0), 6) AS fpr_theory
    FROM m
    """,
    description=f"Bloom-filter semi-join reduction audit (the runtime-filter pattern for selective joins): BUILDING-segment customer keys collapse to a {_BSJ_M}-bit bitmap ({_BSJ_M // 64} long words, driver-bounded literal) probed as a PURE PROJECTION in the orders scan's codegen span — no join, no shuffle on the fact side; reports pass rate, true semi-join rate, measured FP rate vs the (1−e^(−kn/m))^k theory; bloom machinery shared with q115",
)
def a0082_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").cast("string").alias("key"), "c_custkey"
    )
    bits = D.bloom_bits(D.bloom_bitset(dim, "key", _BSJ_M, _BSJ_K), _BSJ_M)
    n_dim = dim.count()  # scalar: dim-side cardinality (bounded)
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    passes = D.bloom_maybe(F.col("o_custkey").cast("string"), bits, _BSJ_M, _BSJ_K)
    truth = orders.join(
        # dim is a data-grown customer subset: merge-pin, AQE upgrades to
        # broadcast at runtime while small (the q130 sf10 lesson)
        dim.select("c_custkey").distinct().hint("merge"),
        orders.o_custkey == F.col("c_custkey"),
        "left",
    ).select(
        passes.cast("int").alias("p"), F.col("c_custkey").isNotNull().cast("int").alias("t")
    )
    m = truth.agg(
        (F.count("*") * 1.0).alias("n_fact"),
        (F.sum("p") * 1.0).alias("n_pass"),
        (F.sum("t") * 1.0).alias("n_true"),
    )

    fpr_theory = round(
        (1.0 - math.exp(-_BSJ_K * n_dim / _BSJ_M)) ** _BSJ_K, 6
    )
    return m.select(
        F.col("n_fact").cast("long").alias("n_fact"),
        F.lit(n_dim).cast("long").alias("n_dim"),
        F.col("n_pass").cast("long").alias("n_pass_bloom"),
        F.col("n_true").cast("long").alias("n_true_semi"),
        (F.col("n_pass") - F.col("n_true")).cast("long").alias("n_false_pos"),
        F.round((F.col("n_pass") - F.col("n_true")) / (F.col("n_fact") - F.col("n_true")), 6).alias("fp_rate"),
        F.round(F.col("n_pass") / F.col("n_fact"), 6).alias("pass_rate"),
        F.lit(fpr_theory).alias("fpr_theory"),
    )
