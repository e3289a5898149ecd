"""Remaining TPC-H query shapes (Q2,Q4,Q6-Q11,Q13,Q15,Q16,Q19-Q21) over the
driver fixtures.

The fixtures are TPC-H-*ish*: there is no partsupp table and lineitem has no
commit/receipt dates, so the queries that depend on them are ADAPTED — same
plan shape (the part that matters for an engine), different predicate
source, each deviation documented on the query:

- partsupp-based (Q2/Q9/Q11/Q16/Q20) pivot on the lineitem↔supplier↔part
  linkage instead, with s_acctbal / p_retailprice standing in for supply
  cost metrics;
- lateness (Q4/Q21) is defined as l_shipdate > o_orderdate + N days
  instead of receipt-vs-commit.

Scale posture matches ``plans.relational``: dimensions broadcast, facts
shuffle once on their natural key, aggregates are map-side partial,
LIMIT + ORDER BY plans TakeOrdered, and every money sum is decimal-exact
(functions.numeric) so the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, dsum_expr, dsum_sql
from ..sources.batch import load_table
from .relational import _REV_SQL, _revenue_expr


# ---------------------------------------------------------------------------
# Q2 — minimum-metric supplier (correlated MIN subquery, decorrelated)
# ---------------------------------------------------------------------------

def q2_min_metric_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier(s) with the
    MINIMUM metric among those who can supply it, in one region.

    Adaptation: "can supply" = shipped it at least once (lineitem linkage —
    there is no partsupp), metric = s_acctbal (no ps_supplycost). The shape
    is the classic correlated-scalar-MIN decorrelation: distinct
    (part, supplier) pairs → per-part MIN → join back on equality. All
    dimension joins broadcast; the only fact shuffle is the pair dedup.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 25)
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    pairs = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "n_name", "s_acctbal")
        .dropDuplicates(["p_partkey", "s_suppkey"])
    )
    mins = pairs.groupBy(F.col("p_partkey").alias("pk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        pairs.join(
            mins,
            (pairs.p_partkey == mins.pk) & (pairs.s_acctbal == mins.min_bal),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
WITH pairs AS (
  SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, n_name, s_acctbal
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size < 25
),
mins AS (SELECT p_partkey, MIN(s_acctbal) AS min_bal FROM pairs GROUP BY p_partkey)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM pairs JOIN mins USING (p_partkey)
WHERE s_acctbal = min_bal
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS semi-join + aggregate)
# ---------------------------------------------------------------------------

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a window with at least one "late" line,
    counted per priority. Lateness adapted to shipdate > orderdate + 60
    days (no commit/receipt dates). EXISTS = LEFT SEMI join — the orders
    side is never duplicated by multi-line matches."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change (pure scan-filter-aggregate)
# ---------------------------------------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the purest pushdown test — every predicate reaches the
    parquet scan, the aggregate is one partial-agg pass, no join at all."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.02, 0.04)
        & (F.col("l_quantity") < 24.0)
    )
    disc_rev = F.col("l_extendedprice").cast("decimal(12,2)") * F.col(
        "l_discount"
    ).cast("decimal(3,2)")
    return li.agg(dsum_expr(disc_rev).alias("revenue"))


Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24.0
"""


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations (dual-dimension join + year agg)
# ---------------------------------------------------------------------------

def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flow between two nations per year, with the
    nation table joined TWICE under different roles (supplier side vs
    customer side) — both broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), customer.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(n2), supplier.s_nationkey == F.col("s_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum_expr(_revenue_expr()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         {_REV_SQL} AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND ((n2.n_name = 'NATION_1' AND n1.n_name = 'NATION_2')
      OR (n2.n_name = 'NATION_2' AND n1.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# Q8 — national market share (conditional ratio over a wide join)
# ---------------------------------------------------------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's revenue for one
    part type, per order year. Both the conditional and total sums come
    from the SAME partial aggregation; the ratio divides two already-exact
    doubles, so it is bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nation_rev = F.when(
        F.col("supp_nation") == "NATION_5", _revenue_expr()
    ).otherwise(F.lit(0).cast("decimal(12,2)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), customer.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n2), supplier.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            dsum_expr(nation_rev).alias("nation_revenue"),
            dsum_expr(_revenue_expr()).alias("total_revenue"),
        )
        .select(
            "o_year",
            (F.col("nation_revenue") / F.col("total_revenue")).alias("mkt_share"),
            "nation_revenue",
            "total_revenue",
        )
        .orderBy("o_year")
    )


Q8_SQL = f"""
SELECT o_year, nation_revenue / total_revenue AS mkt_share,
       nation_revenue, total_revenue
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(SUM(CASE WHEN n2.n_name = 'NATION_5' THEN {_REV_SQL}
                       ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS nation_revenue,
         CAST(SUM({_REV_SQL}) AS DOUBLE) AS total_revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1
)
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# Q9 — product type profit (multi-join + derived measure per nation/year)
# ---------------------------------------------------------------------------

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per year for parts
    matching a name pattern. Adaptation: cost = 60% of p_retailprice ×
    quantity (no ps_supplycost) — the measure stays a decimal expression
    over joined columns, which is the point of the shape."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cost = (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.lit(0.6).cast("decimal(3,2)")
        * F.col("l_quantity").cast("decimal(12,2)")
    )
    profit = _revenue_expr() - cost
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(dsum_expr(profit).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = f"""
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
       CAST(SUM({_REV_SQL}
                - CAST(p_retailprice AS DECIMAL(12,2))
                  * CAST(0.6 AS DECIMAL(3,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# Q10 — returned item reporting (join + agg + top-20)
# ---------------------------------------------------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers ranked by revenue lost to returns in a
    half-year window. Aggregate keys include the enrichment columns so the
    plan is join → ONE shuffle agg → TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-07-01 00:00:00").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum_expr(_revenue_expr()).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q11 — important stock identification (agg + scalar-subquery HAVING)
# ---------------------------------------------------------------------------

def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value restricted to one nation's
    suppliers, kept when above a FRACTION OF THE GLOBAL TOTAL (scalar
    subquery → one-row broadcast cross join). Adaptation: value = shipped
    revenue via lineitem (no partsupp)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    scoped = (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
    )
    per_part = scoped.groupBy("l_partkey").agg(
        dsum_expr(_revenue_expr()).alias("part_value")
    )
    total = scoped.agg(dsum_expr(_revenue_expr()).alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > 0.002 * F.col("total_value"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


Q11_SQL = f"""
WITH scoped AS (
  SELECT l_partkey, {_REV_SQL} AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
)
SELECT l_partkey, CAST(SUM(v) AS DOUBLE) AS part_value
FROM scoped
GROUP BY l_partkey
HAVING CAST(SUM(v) AS DOUBLE) >
       0.002 * (SELECT CAST(SUM(v) AS DOUBLE) FROM scoped)
ORDER BY part_value DESC, l_partkey
"""


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (left join + double aggregation)
# ---------------------------------------------------------------------------

def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: histogram of customers by order count — the left join
    keeps zero-order customers (count of a null key column = 0), then a
    second aggregation builds the distribution. Filter adapted to
    o_orderpriority (no comment column)."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# Q15 — top supplier (agg + scalar MAX subquery equality)
# ---------------------------------------------------------------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) whose quarterly revenue equals the maximum —
    the revenue "view" is computed once, its MAX is a one-row broadcast,
    and the equality is exact because both sides are the same decimal-sum
    doubles."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum_expr(_revenue_expr()).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supplier), F.col("supplier_no") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, CAST(SUM({_REV_SQL}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q16 — parts/supplier relationship count (NOT IN + anti join + COUNT DISTINCT)
# ---------------------------------------------------------------------------

Q16_SIZES = [1, 4, 9, 14, 19, 24, 29, 34]


def q16_parts_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    with NOT-IN brand/type screens and an excluded-supplier anti join.
    Adaptations: linkage via lineitem (no partsupp); "complaint" suppliers
    = negative account balance (no comment column)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        ~F.col("p_brand").isin("Brand#1", "Brand#2")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(Q16_SIZES)
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(excluded), li.l_suppkey == excluded.s_suppkey, "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = f"""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
  AND p_type <> 'PROMO'
  AND p_size IN ({', '.join(str(s) for s in Q16_SIZES)})
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (disjunctive multi-clause join predicate)
# ---------------------------------------------------------------------------

def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of three (brand, size-range, quantity-range)
    conjunctions evaluated inside the part join (container adapted to
    p_size ranges). Catalyst keeps the disjunction as a join post-filter on
    the broadcast join — one pass over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    clause = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1.0, 11.0)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10.0, 20.0)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20.0, 30.0)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(clause)
        .agg(dsum_expr(_revenue_expr()).alias("revenue"))
    )


Q19_SQL = f"""
SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1.0 AND 11.0)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10.0 AND 20.0)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20.0 AND 30.0)
"""


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (nested aggregation + semi join chain)
# ---------------------------------------------------------------------------

def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved a significant share of a
    name-matched part's volume in a year. Adaptation: "significant" =
    their 1998 shipped quantity of a 'red%' part exceeds 50% of that
    part's total 1998 volume (no partsupp availqty). Nested aggregation →
    fraction filter → DISTINCT supplier keys → semi join to supplier."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    red = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    scoped = li.join(F.broadcast(red), li.l_partkey == red.p_partkey).select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    per_supp_part = scoped.groupBy("l_partkey", "l_suppkey").agg(
        dsum("l_quantity").alias("supp_qty")
    )
    per_part = scoped.groupBy(F.col("l_partkey").alias("pk")).agg(
        dsum("l_quantity").alias("part_qty")
    )
    big_supps = (
        per_supp_part.join(per_part, per_supp_part.l_partkey == per_part.pk)
        .filter(F.col("supp_qty") > 0.5 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(big_supps, supplier.s_suppkey == big_supps.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


Q20_SQL = f"""
WITH scoped AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
),
per_supp_part AS (
  SELECT l_partkey, l_suppkey, {dsum_sql('l_quantity')} AS supp_qty
  FROM scoped GROUP BY l_partkey, l_suppkey
),
per_part AS (
  SELECT l_partkey AS pk, {dsum_sql('l_quantity')} AS part_qty
  FROM scoped GROUP BY l_partkey
),
big AS (
  SELECT DISTINCT l_suppkey
  FROM per_supp_part JOIN per_part ON l_partkey = pk
  WHERE supp_qty > 0.5 * part_qty
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM big)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting alone (semi + anti self-joins)
# ---------------------------------------------------------------------------

def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: per finished multi-supplier order, the lines whose
    supplier was late while EVERY other supplier was on time — an EXISTS
    (another supplier contributed) plus a NOT EXISTS (another supplier was
    also late), both as one-shuffle self-joins on the order key. Lateness
    adapted to shipdate > orderdate + 90 days."""
    orders_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    late = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            orders_f,
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    other = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    lone_late = (
        late.join(
            other,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        lone_late.join(
            F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


Q21_SQL = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY
)
SELECT s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


QUERIES = {
    q2_min_metric_supplier: Q2_SQL,
    q4_order_priority: Q4_SQL,
    q6_forecast_revenue: Q6_SQL,
    q7_volume_shipping: Q7_SQL,
    q8_market_share: Q8_SQL,
    q9_product_profit: Q9_SQL,
    q10_returned_items: Q10_SQL,
    q11_important_stock: Q11_SQL,
    q13_customer_distribution: Q13_SQL,
    q15_top_supplier: Q15_SQL,
    q16_parts_supplier_cnt: Q16_SQL,
    q19_discounted_revenue: Q19_SQL,
    q20_part_promotion: Q20_SQL,
    q21_waiting_supplier: Q21_SQL,
}
