"""Relational query library (reference parity + TPC-H-shaped surface).

Each query is a pure function ``(spark, sf_dir) -> DataFrame``, registered
in ``QUERIES`` with its matching ANSI-SQL oracle (run by the driver under
DuckDB).
Column names and types are aligned on both sides; all large floating sums go
through the decimal-exact helpers in ``functions.numeric`` so values are
bit-identical across engines and across parallelism levels.

Reference-op coverage (SURVEY.md §2): cast-with-default (O2/O12/O21 →
``q_cast_default_json``), limit/top-k (O3/O19/O23 → ``q_topk_orders``),
JSON decode (O8 → ``q_cast_default_json``), multi-path UNION ALL (O11 →
``q_union_all``), null-drop (O13 → ``q_null_drop``), column-prune select
(O14 → every query), mean-impute (O15 → ``q_mean_impute``), parameter sweep
+ BETWEEN + sort (O24-O27 → ``q_sweep_hours``). Joins/aggregates/windows/
rollup/distinct are the TPC-H-shaped surface the fixtures exist for
(SURVEY.md §7 M1).

Scale posture (100 TB): every aggregation here is a partial (map-side)
aggregation followed by one key shuffle; dimension joins (region, nation,
supplier, customer at TPC-H ratios) sit under Spark's broadcast threshold
so Catalyst plans BroadcastHashJoin — no shuffle of the fact table for
dimension enrichment; fact-fact joins (orders⋈lineitem) are shuffle
hash/sort-merge joins on the join key, which AQE re-plans at runtime for
skew. Filters are plain column predicates → pushed to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import davg, davg_sql, dsum, dsum_expr, dsum_sql
from ..sources.batch import load_table, parallelize_scan


def _revenue_expr() -> F.Column:
    """Exact decimal l_extendedprice * (1 - l_discount); see functions.numeric."""
    return F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)


# ---------------------------------------------------------------------------
# TPC-H-shaped aggregate / join queries
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate, 6 groups.

    The flagship full-scan aggregation: predicate pushes to parquet, partial
    agg per partition, 6-key shuffle. This is the plan that must stay a
    single pass at 100 TB — and does, because nothing here needs a second
    shuffle.
    """
    li = parallelize_scan(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp")
    )
    charge = _revenue_expr() * (
        F.lit(1).cast("decimal(3,2)") + F.col("l_tax").cast("decimal(3,2)")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_expr(_revenue_expr()).alias("sum_disc_price"),
            dsum_expr(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_base_price,
       CAST(SUM({_REV_SQL}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({_REV_SQL} * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
       {davg_sql('l_quantity')} AS avg_qty,
       {davg_sql('l_extendedprice')} AS avg_price,
       {davg_sql('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + aggregate + top-10.

    customer is dimension-sized relative to orders/lineitem → broadcast;
    orders⋈lineitem is the one real shuffle join (on l_orderkey, the natural
    co-partition key). Top-k is orderBy+limit → Spark plans TakeOrdered
    (per-partition heap + driver merge), no full sort at scale.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum_expr(_revenue_expr()).alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (region→nation→{customer,supplier}) + agg.

    region/nation/supplier are broadcast; the c_nationkey = s_nationkey
    cross-filter rides on the broadcast join. Only orders⋈lineitem shuffles.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(
            F.broadcast(customer),
            (orders.o_custkey == customer.c_custkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum_expr(_revenue_expr()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = f"""
SELECT n_name, CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by lifetime spend: fact-side agg first, then a
    broadcast join for the name — aggregate-before-join keeps the shuffled
    bytes proportional to |customers|, not |orders|."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        dsum("o_totalprice").alias("total_spend"),
        F.count("*").alias("n_orders"),
    )
    return (
        spend.join(F.broadcast(customer), spend.o_custkey == customer.c_custkey)
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


Q_TOP_CUSTOMERS_SQL = f"""
SELECT c_custkey, c_name, total_spend, n_orders
FROM (
  SELECT o_custkey, {dsum_sql('o_totalprice')} AS total_spend, COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
) s JOIN customer ON o_custkey = c_custkey
ORDER BY total_spend DESC, c_custkey
LIMIT 10
"""


def q_rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(region, nation) over customer balances — hierarchical
    subtotals in one pass (Spark expands grouping sets map-side; still a
    single shuffle)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), dsum("c_acctbal").alias("sum_acctbal"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
            "sum_acctbal",
        )
        .orderBy("region_name", "nation_name")
    )


Q_ROLLUP_SQL = f"""
SELECT COALESCE(r_name, 'ALL') AS region_name,
       COALESCE(n_name, 'ALL') AS nation_name,
       COUNT(*) AS n_customers,
       {dsum_sql('c_acctbal')} AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY region_name, nation_name
"""


def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders via row_number() — the analytic-window
    operator. One shuffle on the partition key; deterministic tiebreak on
    o_orderkey so ranks are stable across engines."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


Q_WINDOW_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
         ) AS INTEGER) AS rn
  FROM orders
)
WHERE rn <= 3
ORDER BY o_custkey, rn
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one open ('P') order — LEFT SEMI join (the
    EXISTS operator; no fanout, fact side never duplicated)."""
    customer = load_table(spark, sf_dir, "customer")
    open_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "P"
    )
    return (
        customer.join(
            open_orders, customer.c_custkey == open_orders.o_custkey, "left_semi"
        )
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


Q_SEMI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
ORDER BY c_custkey
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no open ('P') order — LEFT ANTI join (NOT EXISTS)."""
    customer = load_table(spark, sf_dir, "customer")
    open_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "P"
    )
    return (
        customer.join(
            open_orders, customer.c_custkey == open_orders.o_custkey, "left_anti"
        )
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


Q_ANTI_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
ORDER BY c_custkey
"""


def q_distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — planned as a grouping aggregate (partial dedup map-side)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


Q_DISTINCT_SQL = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
ORDER BY l_returnflag, l_linestatus
"""


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two scans then aggregate (reference O11: the trainer's
    cumulative multi-file read, spark_trainer.py:43-46). Spark unions are
    plan-level concatenation — no shuffle, no dedup."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") == 1)
    b = li.filter(F.col("l_linenumber") == 2)
    return (
        a.unionByName(b)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), dsum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag")
    )


Q_UNION_SQL = f"""
SELECT l_returnflag, COUNT(*) AS n_rows, {dsum_sql('l_quantity')} AS sum_qty
FROM (
  SELECT * FROM lineitem WHERE l_linenumber = 1
  UNION ALL
  SELECT * FROM lineitem WHERE l_linenumber = 2
)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Reference-parity operators (SURVEY.md §2)
# ---------------------------------------------------------------------------

def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT (O3/O19/O23/O27): TakeOrdered physical op — no
    global sort materialized at scale."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


Q_TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_between_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (BETWEEN) filter + ASC sort (O26/O27, api.py:288-298)."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").between(100.0, 200.0))
        .select("event_id", "event_type", "value")
        .orderBy(F.asc("value"), F.asc("event_id"))
    )


Q_BETWEEN_SQL = """
SELECT event_id, event_type, value FROM events
WHERE value BETWEEN 100.0 AND 200.0
ORDER BY value, event_id
"""


def q_cast_default_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON decode + typed cast with 0.0 default (O2/O8/O21: producer.py:50-58
    `float(value) if value else 0.0`, consumer.py:43-49 json.loads+skip).

    try_cast yields NULL on unparseable input (never throws, even under
    ANSI mode) and coalesce supplies the reference's 0.0 default.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.coalesce(
            F.get_json_object("props", "$.k").try_cast("double"), F.lit(0.0)
        ).alias("k_value"),
    ).orderBy("event_id")


Q_CAST_DEFAULT_SQL = """
SELECT event_id, event_type,
       COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE), 0.0) AS k_value
FROM events ORDER BY event_id
"""


def q_null_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-drop on a label column (O13: spark_trainer.py:52 na.drop) over a
    derived nullable column, then count survivors per group."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "label", F.when(F.col("value") >= 50.0, F.col("value"))
    )
    return (
        ev.na.drop(subset=["label"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_rows"), dsum("label").alias("sum_label"))
        .orderBy("event_type")
    )


Q_NULL_DROP_SQL = f"""
SELECT event_type, COUNT(*) AS n_rows, {dsum_sql('label')} AS sum_label
FROM (SELECT event_type, CASE WHEN value >= 50.0 THEN value END AS label FROM events)
WHERE label IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


def q_mean_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean imputation as an engine op (O15: Imputer strategy="mean",
    spark_trainer.py:67-70): global mean of the non-null values, broadcast
    back over the rows via a 1-row cross join — at 100 TB this is one
    partial-agg pass plus a map-side fill, never a shuffle of the data."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_type") != "error", F.col("value")).alias("masked"),
    )
    mean = ev.agg(davg("masked").alias("mean_value"))
    return (
        ev.crossJoin(F.broadcast(mean))
        .select(
            "event_id",
            "event_type",
            F.coalesce("masked", "mean_value").alias("value_imputed"),
        )
        .orderBy("event_id")
    )


Q_MEAN_IMPUTE_SQL = f"""
WITH m AS (
  SELECT event_id, event_type,
         CASE WHEN event_type <> 'error' THEN value END AS masked
  FROM events
), s AS (SELECT {davg_sql('masked')} AS mean_value FROM m)
SELECT event_id, event_type, COALESCE(masked, mean_value) AS value_imputed
FROM m, s ORDER BY event_id
"""


def q_sweep_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameter sweep over an hour grid (O24/O25: api.py:130-210,257-286)
    re-expressed as explode + join instead of the reference's python loop +
    order-based re-association: the swept value stays a column, so the
    association is free and the whole sweep is ONE plan. Filter to the
    target band (O26) and sort ascending (O27)."""
    hours = spark.range(24).select(F.col("id").cast("int").alias("hour"))
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.hour("ts").cast("int").alias("hour"))
        .agg(davg("value").alias("predicted_value"))
    )
    return (
        hours.join(hourly, "hour", "left")
        .filter(F.col("predicted_value").between(46.0, 53.0))
        .select("hour", "predicted_value")
        .orderBy(F.asc("predicted_value"), F.asc("hour"))
    )


Q_SWEEP_SQL = f"""
WITH grid AS (SELECT CAST(UNNEST(generate_series(0, 23)) AS INTEGER) AS hour),
hourly AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
         {davg_sql('value')} AS predicted_value
  FROM events GROUP BY 1
)
SELECT grid.hour, predicted_value
FROM grid LEFT JOIN hourly ON grid.hour = hourly.hour
WHERE predicted_value BETWEEN 46.0 AND 53.0
ORDER BY predicted_value, grid.hour
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling hourly rollup (batch shape of the M2 streaming
    window agg): date_trunc to the hour, count + exact sum."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            )
        )
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .orderBy("hour_start")
    )


Q_EVENTS_HOURLY_SQL = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM events GROUP BY 1 ORDER BY hour_start
"""


def q_tz_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-aware DAILY rollup: the UTC event stream re-bucketed by
    America/New_York calendar days (``from_utc_timestamp`` — IANA rules,
    DST-correct). Local-midnight boundaries sit mid-UTC-day, so every
    bucket's membership differs from a naive UTC rollup — the classic
    "why don't the dashboards match" bug this operator renders as a
    first-class, oracle-verified query. Same one-shuffle shape as
    ``q_events_hourly``; the tz conversion is a scan-side expression."""
    ev = load_table(spark, sf_dir, "events")
    local_day = F.date_format(
        F.from_utc_timestamp("ts", "America/New_York"), "yyyy-MM-dd"
    )
    return (
        ev.groupBy(local_day.alias("local_date"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("local_date")
    )


Q_TZ_DAILY_SQL = f"""
SELECT strftime(timezone('America/New_York', timezone('UTC', ts)),
                '%Y-%m-%d') AS local_date,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {dsum_sql('value')} AS sum_value
FROM events GROUP BY 1 ORDER BY local_date
"""


QUERIES = {
    q_tz_daily_rollup: Q_TZ_DAILY_SQL,
    q1_pricing_summary: Q1_SQL,
    q3_shipping_priority: Q3_SQL,
    q5_local_supplier_volume: Q5_SQL,
    q_top_customers: Q_TOP_CUSTOMERS_SQL,
    q_rollup_acctbal: Q_ROLLUP_SQL,
    q_window_top_orders: Q_WINDOW_SQL,
    q_semi_join: Q_SEMI_SQL,
    q_anti_join: Q_ANTI_SQL,
    q_distinct_flags: Q_DISTINCT_SQL,
    q_union_all: Q_UNION_SQL,
    q_topk_orders: Q_TOPK_SQL,
    q_between_sort: Q_BETWEEN_SQL,
    q_cast_default_json: Q_CAST_DEFAULT_SQL,
    q_null_drop: Q_NULL_DROP_SQL,
    q_mean_impute: Q_MEAN_IMPUTE_SQL,
    q_sweep_hours: Q_SWEEP_SQL,
    q_events_hourly: Q_EVENTS_HOURLY_SQL,
}
