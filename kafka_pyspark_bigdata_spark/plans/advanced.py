"""Advanced relational + time-series operators.

Extends ``plans.relational`` with the operator classes a full analytics
engine needs beyond the reference's own surface (SURVEY.md §2 notes the
reference has no joins/windows/aggregation variety; §7 M1/M4 say to expose
them over the TPC-H-shaped fixtures): conditional aggregation, ratio
aggregates, decorrelated correlated subqueries, HAVING, scalar subqueries,
COUNT(DISTINCT), CUBE, argmax (``max_by``), PIVOT, and — on the ``events``
stream table — the time-series operators Spark has no single primitive for:
AS-OF join, range (interval) join, and gap-based sessionization.

Every query is ``(spark, sf_dir) -> DataFrame`` with a value-exact DuckDB
oracle. Scale posture mirrors ``plans.relational``: dimension joins are
broadcast, fact joins shuffle once on their natural key, aggregates are
partial map-side, and the time-series ops shuffle once on ``user_id`` (the
stream's partition key) and then run linear per-key passes — the layout a
1000-executor cluster wants for a keyed event stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import (
    cents,
    davg,
    davg_sql,
    dsum,
    dsum_expr,
    dsum_sql,
    exact_median,
    half_up_cents_sql,
)
from ..sources.batch import EV_US, gap_to_prev_us, load_table, user_timeline
from .relational import _REV_SQL, _revenue_expr


# ---------------------------------------------------------------------------
# Conditional / ratio aggregation (TPC-H Q12 / Q14 shapes)
# ---------------------------------------------------------------------------

def q12_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + conditional counts (SUM of CASE).

    orders⋈lineitem shuffles once on the order key; the CASE collapses into
    the partial aggregate, so high/low tallies ride the same single shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_priority_count"),
            F.count(F.when(~high, 1)).alias("low_priority_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_priority_count,
       COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_priority_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of conditional revenue (promo %% of total).

    part is dimension-sized → broadcast; both the conditional and total
    decimal sums come out of ONE partial aggregation pass; the ratio is a
    final driver-side double division.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _revenue_expr()).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            dsum_expr(promo).alias("promo_revenue"),
            dsum_expr(_revenue_expr()).alias("total_revenue"),
        )
        .select(
            (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
                "promo_pct"
            ),
            "promo_revenue",
            "total_revenue",
        )
    )


Q14_SQL = f"""
SELECT 100.0 * promo_revenue / total_revenue AS promo_pct,
       promo_revenue, total_revenue
FROM (
  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL}
                       ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
         CAST(SUM({_REV_SQL}) AS DOUBLE) AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
"""


# ---------------------------------------------------------------------------
# Correlated / scalar subqueries, HAVING (Q17 / Q18 / Q22 shapes)
# ---------------------------------------------------------------------------

def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part avg quantity),
    decorrelated into a groupBy + join back — the rewrite every optimizer
    wants; Spark gets it by construction.

    The per-part average is fact-side aggregated first (small output:
    |parts| rows), then joined back; the brand filter rides the broadcast
    part join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        davg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


Q17_SQL = f"""
SELECT {dsum_sql('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN (
  SELECT l_partkey AS pk, {davg_sql('l_quantity')} AS avg_qty
  FROM lineitem GROUP BY l_partkey
) a ON l_partkey = pk
WHERE p_brand = 'Brand#12' AND l_quantity < 0.5 * avg_qty
"""


def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a fact aggregate, then join back for
    enrichment. The HAVING filter runs on the aggregate output (|orders|
    rows, tiny vs |lineitem|), so the enrichment joins see only survivors.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


Q18_SQL = f"""
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, {dsum_sql('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 250.0
) b
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


def q22_rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global average balance) + anti join
    (customers with no orders since 2000), aggregated per market segment.

    The scalar average is a one-row broadcast; the anti join is the NOT
    EXISTS operator; the final rollup is a 5-key aggregate.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    rich = customer.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"), dsum("c_acctbal").alias("sum_acctbal"))
        .orderBy("c_mktsegment")
    )


Q22_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_customers, {dsum_sql('c_acctbal')} AS sum_acctbal
FROM customer
WHERE c_acctbal > (SELECT {davg_sql('c_acctbal')} FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# COUNT(DISTINCT), CUBE, argmax, PIVOT
# ---------------------------------------------------------------------------

def q_count_distinct_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per brand (TPC-H Q16 shape). Spark plans the classic
    two-phase expand: dedup partial on (brand, key), then count — still one
    logical pass, no driver-side set."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


Q_COUNT_DISTINCT_SQL = """
SELECT p_brand,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(segment, priority): all 4 grouping-set combinations in one
    map-side expand + single shuffle (the grouping-sets generalization of
    ``q_rollup_acctbal``)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    )
    return (
        joined.cube("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_price",
        )
        .orderBy("segment", "priority")
    )


Q_CUBE_SQL = f"""
SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE(c_mktsegment, o_orderpriority)
ORDER BY segment, priority
"""


def q_argmax_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin per group via ``max_by``/``min_by`` over a struct —
    a pure partial aggregate (no window, no second shuffle), with the
    struct's (value, event_id) ordering making ties deterministic."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("max_by(event_id, struct(value, event_id))").alias("max_event_id"),
            F.max("value").alias("max_value"),
            F.expr("min_by(event_id, struct(value, event_id))").alias("min_event_id"),
            F.min("value").alias("min_value"),
        )
        .orderBy("event_type")
    )


Q_ARGMAX_SQL = """
WITH r AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id DESC) AS rmax,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rmin
  FROM events
)
SELECT event_type,
       MAX(CASE WHEN rmax = 1 THEN event_id END) AS max_event_id,
       MAX(CASE WHEN rmax = 1 THEN value END) AS max_value,
       MAX(CASE WHEN rmin = 1 THEN event_id END) AS min_event_id,
       MAX(CASE WHEN rmin = 1 THEN value END) AS min_value
FROM r GROUP BY event_type ORDER BY event_type
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT event counts per user. The pivot values are declared up front
    so Spark plans ONE pass (no values-discovery pre-query); output is a
    dense user × type count matrix."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, subset=EVENT_TYPES)
        .orderBy("user_id")
    )


Q_PIVOT_SQL = """
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
       COUNT(*) FILTER (WHERE event_type = 'error') AS error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view
FROM events GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Time-series operators over the events stream table
# ---------------------------------------------------------------------------

def q_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for each purchase, the most recent click by the same
    user at or before the purchase time (DuckDB's ASOF JOIN semantics).

    Spark has no as-of primitive; the scalable formulation is the
    union-and-carry-forward pattern: tag both sides, union, ONE shuffle on
    ``user_id``, then a running ``last(..., ignorenulls)`` window fills each
    purchase with the latest preceding click. Cost is one shuffle + one
    linear pass per key — vs a naive inequality join's per-user cross
    product. Ties at identical timestamps order clicks first (tag 0 < 1),
    matching the at-or-before contract deterministically.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("ets"),
        F.col("event_id").alias("eid"),
        F.lit(0).alias("tag"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ets"),
        F.col("event_id").alias("eid"),
        F.lit(1).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ets", "tag", "eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("tag") == 0
    carried = clicks.unionByName(purchases).select(
        "user_id",
        "ets",
        "eid",
        "tag",
        F.last(F.when(is_click, F.col("eid")), ignorenulls=True).over(w).alias("click_id"),
        F.last(F.when(is_click, F.col("ets")), ignorenulls=True).over(w).alias("click_ts"),
    )
    return (
        carried.filter(F.col("tag") == 1)
        .select(
            F.col("eid").alias("purchase_id"),
            "user_id",
            "click_id",
            (F.unix_micros("ets") - F.unix_micros("click_ts")).alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


Q_ASOF_SQL = f"""
WITH {EV_US},
u AS (
  SELECT user_id, ts AS ets, event_id AS eid, 0 AS tag FROM ev WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, event_id, 1 FROM ev WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ets, eid, tag,
         LAST_VALUE(CASE WHEN tag = 0 THEN eid END IGNORE NULLS) OVER w AS click_id,
         LAST_VALUE(CASE WHEN tag = 0 THEN ets END IGNORE NULLS) OVER w AS click_ts
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ets, tag, eid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT eid AS purchase_id, user_id, click_id,
       epoch_us(ets) - epoch_us(click_ts) AS gap_us
FROM c WHERE tag = 1 ORDER BY purchase_id
"""


def q_range_join_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: clicks by the same user in the 10 minutes
    before each error. The equi half (``user_id``) drives a hash join; the
    range predicate is a post-join filter — per-key streams stay small, so
    this never degenerates into the O(n²) pure-inequality join."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("ets")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    cond = (
        (errors.user_id == clicks.cu)
        & (clicks.cts >= F.col("ets") - F.expr("INTERVAL 10 MINUTES"))
        & (clicks.cts < F.col("ets"))
    )
    return (
        errors.join(clicks, cond, "left")
        .groupBy("error_id", "user_id")
        .agg(F.count("cts").alias("n_clicks_10m"))
        .orderBy("error_id")
    )


Q_RANGE_JOIN_SQL = f"""
WITH {EV_US}
SELECT e.event_id AS error_id, e.user_id, COUNT(c.ts) AS n_clicks_10m
FROM ev e
LEFT JOIN ev c ON c.user_id = e.user_id AND c.event_type = 'click'
              AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts < e.ts
WHERE e.event_type = 'error'
GROUP BY e.event_id, e.user_id
ORDER BY error_id
"""


SESSION_GAP_US = 4 * 3600 * 1_000_000  # 4 h idle gap closes a session


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (the batch shape of a session window):
    a new session starts when a user is idle > 4 h. lag → gap flag →
    running sum = session id, then per-session aggregate. One shuffle on
    ``user_id``; both window passes and the aggregate reuse that
    partitioning."""
    ev = load_table(spark, sf_dir, "events")
    wrun = user_timeline().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = gap_to_prev_us()
    new_sess = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(new_sess).over(wrun).cast("int").alias("session_id"),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "duration_us"
            ),
        )
        .orderBy("user_id", "session_id")
    )


Q_SESSIONIZE_SQL = f"""
WITH {EV_US},
g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_id
  FROM g
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
FROM s GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q_sql_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME gap-sessionization through the ``spark.sql`` front door —
    proof that a SQL-only user of this engine gets the identical plan
    family (lag → flag → running sum → aggregate, one user_id shuffle)
    the DataFrame API builds in ``q_sessionize``; Catalyst compiles both
    to the same physical shape, and the shared oracle hash-verifies the
    parity."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("v_events_sql")
    return spark.sql(
        f"""
        WITH g AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN LAG(ts) OVER w IS NULL
                           OR unix_micros(ts) - unix_micros(LAG(ts) OVER w)
                              > {SESSION_GAP_US}
                      THEN 1 ELSE 0 END AS new_sess
          FROM v_events_sql
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
          SELECT user_id, ts,
                 CAST(SUM(new_sess) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS INT) AS session_id
          FROM g
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               date_format(MIN(ts), 'yyyy-MM-dd HH:mm:ss') AS session_start,
               unix_micros(MAX(ts)) - unix_micros(MIN(ts)) AS duration_us
        FROM s GROUP BY user_id, session_id
        ORDER BY user_id, session_id
        """
    )


def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` aggregate —
    the same 4 h-gap semantics as `q_sessionize`, expressed as one
    ``groupBy(user, session_window(ts))`` instead of lag/flag/running-sum
    windows. Parity here proves the built-in operator against the portable
    islands formulation: the oracle computes gap-islands in SQL and
    reconstructs the session window's [start, end) bounds (end = last
    event + gap, the merged-window invariant Spark maintains).

    Plan shape: a single shuffle on user_id into Spark's session-merge
    aggregation (SessionWindowStateStore-free in batch: sort + merge per
    key) — one operator where `q_sessionize` needs two window passes plus
    an aggregate, and the form that transfers unchanged to Structured
    Streaming (`streaming_session_window`)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    gap_s = SESSION_GAP_US // 1_000_000
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{gap_s} seconds").alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


Q_SESSION_WINDOW_NATIVE_SQL = f"""
WITH {EV_US},
g AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(make_timestamp(epoch_us(MAX(ts)) + {SESSION_GAP_US}),
                '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


DYN_GAPS_S = {"click": 1800, "view": 600, "purchase": 3600}


def q_session_window_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a PER-EVENT gap — Spark's dynamic-gap
    ``session_window`` (the gap is an interval EXPRESSION evaluated per
    row: clicks keep a session alive 30 min, views 10, purchases 60).
    This is how real engagement models sessionize: different activity
    types carry different intent half-lives, and the fixed-gap variant
    (``q_session_window_native``) over- or under-merges them.

    Semantics under merge: each event spans [ts, ts+gap(type)); Spark
    merges overlapping spans per user, so the batch-SQL oracle is
    interval-union island detection — a running MAX of span ends over
    preceding events (variable gaps mean an EARLIER long-gap event can
    bridge past a short-gap one, so the plain lag-vs-prev test is wrong
    — the running max is the correct general form), new session when
    the next start reaches it. One shuffle on user_id either way.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    # dynamic gaps must be CalendarIntervalType (ANSI INTERVAL literals
    # are DayTimeIntervalType and rejected) — make_interval produces it
    gap = (
        F.when(
            F.col("event_type") == "click",
            F.expr("make_interval(0, 0, 0, 0, 0, 0, 1800)"),
        )
        .when(
            F.col("event_type") == "view",
            F.expr("make_interval(0, 0, 0, 0, 0, 0, 600)"),
        )
        .otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 0, 3600)"))
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


Q_SESSION_DYNAMIC_SQL = f"""
WITH {EV_US},
spans AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) AS ts_us,
         epoch_us(ts) + 1000000::BIGINT * CASE event_type
            WHEN 'click' THEN {DYN_GAPS_S['click']}
            WHEN 'view' THEN {DYN_GAPS_S['view']}
            ELSE {DYN_GAPS_S['purchase']} END AS end_us
  FROM ev
),
flagged AS (
  SELECT user_id, ts, event_id, ts_us, end_us,
         CASE WHEN MAX(end_us) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) IS NULL
              OR ts_us >= MAX(end_us) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              )
         THEN 1 ELSE 0 END AS new_sess
  FROM spans
),
s AS (
  -- cumsum MUST share the running-max window's (ts, event_id) tie order:
  -- ordering by (ts, end_us) misassigns a short-gap event that ties on ts
  -- with a long-gap one, and end_us ties are nondeterministic.
  SELECT user_id, ts, end_us,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(make_timestamp(MAX(end_us)), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def q_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per group via rank arithmetic (portable across engines,
    unlike interpolating percentile built-ins whose rounding differs):
    row_number + group count pick the middle one-or-two rows; their mean is
    the median. Sum of ≤2 doubles is order-independent, so the value is
    bit-identical everywhere."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    return exact_median(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey", "median_price", "n_orders"
    ).orderBy("o_orderpriority")


Q_EXACT_MEDIAN_SQL = """
WITH r AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM orders
)
SELECT o_orderpriority, AVG(o_totalprice) AS median_price, MAX(cnt) AS n_orders
FROM r
WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Recursive hierarchy rollup (WITH RECURSIVE parity)
# ---------------------------------------------------------------------------

BOM_FANOUT = 8  # children per assembly in the synthetic hierarchy
BOM_DEPTH_CAP = 16  # safety bound; real depth is log_8(max key) (~14 at 2^40 keys)


def q_recursive_bom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials rollup over a recursive part hierarchy,
    expressed as the standard log-depth iterative-join plan — the
    hand-built form of the ``WITH RECURSIVE`` workload (Spark 4.1 also
    runs it natively: see ``q_recursive_cte_native``, the front-door
    twin sharing this query's oracle).

    The hierarchy is synthesized deterministically from the contiguous
    part keys: ``parent(p) = p DIV 8``, so keys 0..7 are the 8 root
    assemblies and every other part hangs ``floor(log8 p)`` levels
    below one of them (the same honestly-labeled-fake precedent as
    operators.geo — swap in a real parent_key column and the plan is
    unchanged). Each iteration ascends one level by joining the live
    frontier's parent key against the node table (genuine edge-table
    semantics: a missing parent would terminate the walk), and the
    iteration count is fixed up front from one scalar MAX(key) lookup —
    no per-iteration driver round-trip, no fixed-point count jobs. The
    rollup then aggregates every node's retail-price cents into its
    root: per-root subtree size, cost, and height.

    Scale: depth is logarithmic in the key space (14 joins at 2^40
    keys), every join is an equi-join on the ascending ancestor key,
    and the frontier SHRINKS by 8x per level once walks start
    terminating — the classic BFS-ascent shape engines lower recursive
    CTEs to. The oracle runs the same walk as a real DuckDB
    ``WITH RECURSIVE``."""
    nodes = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        cents("p_retailprice").alias("cents"),
    )
    max_key = nodes.agg(F.max("node")).first()[0] or 0
    depth = 0
    while BOM_FANOUT ** (depth + 1) <= max_key and depth < BOM_DEPTH_CAP:
        depth += 1

    key_set = nodes.select("node")
    walk = nodes.select("node", F.col("node").alias("anc"), F.lit(0).alias("depth"))
    done = walk.filter(F.col("anc") < BOM_FANOUT)
    frontier = walk.filter(F.col("anc") >= BOM_FANOUT)
    for _ in range(depth):
        stepped = (
            frontier.withColumn("anc", F.expr(f"anc div {BOM_FANOUT}"))
            .withColumn("depth", F.col("depth") + 1)
            .join(key_set.withColumnRenamed("node", "anc"), "anc", "left_semi")
        )
        done = done.unionByName(stepped.filter(F.col("anc") < BOM_FANOUT))
        frontier = stepped.filter(F.col("anc") >= BOM_FANOUT)

    return (
        done.join(nodes, "node")
        .groupBy(F.col("anc").alias("root_key"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("cents").alias("subtree_cents"),
            F.max("depth").alias("height"),
        )
        .orderBy("root_key")
    )


def q_recursive_cte_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME bill-of-materials rollup through Spark 4.1's NATIVE
    ``WITH RECURSIVE`` (SPARK-24497) — the SQL front door for
    ``q_recursive_bom``'s hand-built iterative-join plan, proving
    front-door parity for recursive SQL the way ``q_lateral_topk`` does
    for LATERAL and ``q_sql_sessionize`` for windows. Catalyst lowers
    the recursion to the same BFS-ascent loop (UnionLoop): each level is
    one equi-join of the shrinking frontier against the node table, and
    the walk terminates when the frontier empties — no unroll-depth
    precomputation needed, which is exactly what the native primitive
    buys over the manual loop. Depth is log₈(max key) (≈5 here, 14 at
    2^40 keys), far under the default recursion-level limit."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(f"""
WITH RECURSIVE walk AS (
  SELECT p_partkey AS node, p_partkey AS anc, 0 AS depth FROM part
  UNION ALL
  SELECT w.node, p.p_partkey AS anc, w.depth + 1
  FROM walk w JOIN part p ON p.p_partkey = w.anc DIV {BOM_FANOUT}
  WHERE w.anc >= {BOM_FANOUT}
),
assign AS (
  SELECT node, anc AS root_key, depth FROM walk WHERE anc < {BOM_FANOUT}
)
SELECT root_key, COUNT(*) AS n_nodes,
       CAST(SUM(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS subtree_cents,
       MAX(depth) AS height
FROM assign JOIN part ON p_partkey = node
GROUP BY root_key ORDER BY root_key
""")


Q_RECURSIVE_BOM_SQL = f"""
WITH RECURSIVE walk AS (
  SELECT p_partkey AS node, p_partkey AS anc, 0 AS depth FROM part
  UNION ALL
  SELECT w.node, p.p_partkey AS anc, w.depth + 1
  FROM walk w JOIN part p ON p.p_partkey = w.anc // {BOM_FANOUT}
  WHERE w.anc >= {BOM_FANOUT}
),
assign AS (
  SELECT node, anc AS root_key, depth FROM walk WHERE anc < {BOM_FANOUT}
)
SELECT root_key, COUNT(*) AS n_nodes,
       CAST(SUM(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS subtree_cents,
       MAX(depth) AS height
FROM assign JOIN part ON p_partkey = node
GROUP BY root_key ORDER BY root_key
"""



# ---------------------------------------------------------------------------
# Correlated LATERAL top-k
# ---------------------------------------------------------------------------

LATERAL_K = 3
LATERAL_MAXCUST = 50


def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-K orders via a correlated LATERAL subquery — the
    SQL-front-door form of "top N per group". The point is what Catalyst
    does with it: the lateral correlation is DECORRELATED into a window
    rank, and the rank-limit is pushed below the shuffle as a
    WindowGroupLimit (each map task keeps only its local top-K per key
    before exchanging — at 100 TB the shuffle carries ≤ K rows per
    customer, not the order history). The outer c_custkey predicate also
    transits into the orders scan. Same result as the DataFrame window
    idiom (q_window_top_orders), proving front-door parity for lateral
    SQL the way q_sql_sessionize does for windows.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(f"""
SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
FROM customer c JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT {LATERAL_K}
) t
WHERE c.c_custkey <= {LATERAL_MAXCUST}
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
""")


Q_LATERAL_SQL = f"""
SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
FROM customer c JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT {LATERAL_K}
) t ON true
WHERE c.c_custkey <= {LATERAL_MAXCUST}
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""



def q_array_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array analytics: per-order quantity vectors built
    once (sorted for canonical layout), then analyzed entirely with
    array lambdas — ``filter`` (count over threshold), ``element_at``
    (range span), ``exists`` (membership probe). One groupBy shuffle
    builds the arrays; every lambda is a JVM expression over the
    in-memory array, no explode-and-reaggregate round trip (the naive
    form pays a second shuffle per metric). The scalar total comes from
    the same aggregate pass in DECIMAL (float-exact cross-engine);
    array metrics are pure integer ops.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per = (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(F.col("l_quantity").cast("long"))
            ).alias("qs"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty"),
        )
        .filter(F.col("l_orderkey") < 500)
    )
    return per.select(
        "l_orderkey",
        F.size("qs").cast("long").alias("n"),
        F.size(F.filter("qs", lambda x: x >= 25)).cast("long").alias("n_big"),
        (F.element_at("qs", -1) - F.element_at("qs", 1)).alias("span"),
        F.when(F.exists("qs", lambda x: x == 50), 1).otherwise(0).alias("has_50"),
        "total_qty",
    ).orderBy("l_orderkey")


Q_ARRAY_ANALYTICS_SQL = """
WITH per AS (
  SELECT l_orderkey,
         list_sort(list(CAST(l_quantity AS BIGINT))) AS qs,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(qs) AS BIGINT) AS n,
       CAST(len(list_filter(qs, x -> x >= 25)) AS BIGINT) AS n_big,
       qs[-1] - qs[1] AS span,
       CASE WHEN list_has_any(qs, [50]) THEN 1 ELSE 0 END AS has_50,
       total_qty
FROM per
WHERE l_orderkey < 500
ORDER BY l_orderkey
"""



def q_sql_udf_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog SQL functions (Spark 4): a SCALAR SQL UDF (``disc_cents``)
    and a TABLE-VALUED SQL UDF (``qty_thresholds``) driving a cumulative
    revenue-by-threshold rollup. Unlike Python UDFs, SQL UDFs are
    INLINED by Catalyst into the expression tree — full codegen, pushdown
    through them, zero serialization boundary — so shared business logic
    (pricing rules, bucketing) can live in the catalog without a
    performance tax. The threshold TVF output (5 rows) broadcast-joins
    the fact side; revenue folds in integer cents for oracle exactness.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_cents(p DOUBLE, d DOUBLE) "
        f"RETURNS BIGINT RETURN {half_up_cents_sql('p * (1 - d)')}"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qty_thresholds(n INT) "
        "RETURNS TABLE(threshold INT) RETURN SELECT explode(sequence(10, n * 10, 10))"
    )
    return spark.sql(
        """
SELECT t.threshold,
       l.l_returnflag,
       COUNT(*) AS n_items,
       SUM(disc_cents(l.l_extendedprice, l.l_discount)) AS revenue_cents
FROM qty_thresholds(5) t
JOIN lineitem_v l ON l.l_quantity <= t.threshold
GROUP BY t.threshold, l.l_returnflag
ORDER BY t.threshold, l.l_returnflag
"""
    )


Q_SQL_UDF_SQL = f"""
WITH t AS (SELECT unnest(generate_series(10, 50, 10)) AS threshold)
SELECT t.threshold, l.l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM({half_up_cents_sql("l.l_extendedprice * (1 - l.l_discount)")}) AS BIGINT) AS revenue_cents
FROM t JOIN lineitem l ON l.l_quantity <= t.threshold
GROUP BY t.threshold, l.l_returnflag
ORDER BY t.threshold, l.l_returnflag
"""



def q_pandas_api_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-API-on-Spark front door (``pyspark.pandas``): a
    pandas-shaped merge → groupby → agg → rename pipeline that compiles
    to the SAME Catalyst plan as the DataFrame idiom — proving the
    engine serves pandas users without a semantic or performance fork.
    ``distributed`` default-index keeps the ps layer from smuggling in
    a window-over-everything just to fabricate row labels (the classic
    pandas-on-Spark scale trap).
    """
    import pyspark.pandas as ps

    ps.set_option("compute.default_index_type", "distributed")
    o = ps.read_parquet(f"{sf_dir}/orders.parquet")
    c = ps.read_parquet(f"{sf_dir}/customer.parquet")
    m = ps.merge(o, c, left_on="o_custkey", right_on="c_custkey")
    g = (
        m.groupby(["c_mktsegment", "o_orderpriority"])
        .agg({"o_totalprice": "max", "o_orderkey": "count"})
        .reset_index()
    )
    g.columns = ["c_mktsegment", "o_orderpriority", "max_price", "n_orders"]
    return (
        g.to_spark()
        .select(
            "c_mktsegment",
            "o_orderpriority",
            "max_price",
            F.col("n_orders").cast("long").alias("n_orders"),
        )
        .orderBy("c_mktsegment", "o_orderpriority")
    )


Q_PANDAS_API_SQL = """
SELECT c_mktsegment, o_orderpriority,
       MAX(o_totalprice) AS max_price, COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderpriority
ORDER BY c_mktsegment, o_orderpriority
"""


def q_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collations: grouping under UTF8_LCASE treats
    case-variant keys as EQUAL inside the engine — comparisons,
    joins, and aggregations honor the collation natively instead of
    wrapping every reference in lower() (which blocks stats reuse and
    litters plans). The fixture is single-case, so case variance is
    injected deterministically (even keys lowered); the output key is
    normalized through lower() only for cross-engine comparison.
    """
    c = load_table(spark, sf_dir, "customer").select(
        F.when(
            F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment")
        ).otherwise(F.col("c_mktsegment")).alias("seg"),
        "c_acctbal",
    )
    return (
        c.groupBy(F.collate("seg", "UTF8_LCASE").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .select(F.lower("k").alias("segment"), "n", "max_bal")
        .orderBy("segment")
    )


Q_COLLATED_SQL = """
WITH c AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
              ELSE c_mktsegment END AS seg,
         c_acctbal
  FROM customer
)
SELECT lower(seg) AS segment, COUNT(*) AS n, MAX(c_acctbal) AS max_bal
FROM c GROUP BY lower(seg) ORDER BY segment
"""



def q_arrow_udf_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (``@udf(useArrow=True)``, Spark
    3.5+): genuinely imperative per-value logic — a Luhn checksum's
    digit-doubling loop — shipped over Arrow batches instead of pickled
    rows (~an order of magnitude less serialization overhead than the
    legacy row-at-a-time path, though still outside codegen: the rule
    stays "built-ins > pandas_udf/arrow udf > pickled udf").

    Synthetic account numbers derive deterministically from order keys;
    the checksum distribution is the output. The oracle replays Luhn
    relationally (per-digit lateral expansion) — the hash match proves
    the imperative and relational formulations agree on every account.
    """
    from pyspark.sql.functions import udf

    @udf("int", useArrow=True)
    def luhn_total(s: str) -> int:
        total = 0
        for i, c in enumerate(reversed(s)):
            d = int(c)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10
    o = load_table(spark, sf_dir, "orders").select(
        F.lpad(
            F.expr("CAST(o_orderkey * 7919 % 100000000 AS STRING)"), 9, "0"
        ).alias("acct")
    )
    return (
        o.select(luhn_total("acct").alias("chk"))
        .groupBy("chk")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("chk")
    )


Q_ARROW_UDF_SQL = """
WITH src AS (
  -- carry o_orderkey: two orders can collide on acct, and the Spark side
  -- computes one checksum PER ROW, not per distinct account
  SELECT o_orderkey,
         lpad(CAST(o_orderkey * 7919 % 100000000 AS VARCHAR), 9, '0') AS acct
  FROM orders
), chars AS (
  SELECT o_orderkey, i, CAST(substr(reverse(acct), i, 1) AS INTEGER) AS d
  FROM src, LATERAL (SELECT unnest(generate_series(1, length(acct))) AS i) g
), per_acct AS (
  SELECT o_orderkey,
         SUM(CASE WHEN i % 2 = 0
                  THEN CASE WHEN d * 2 > 9 THEN d * 2 - 9 ELSE d * 2 END
                  ELSE d END) % 10 AS chk
  FROM chars GROUP BY o_orderkey
)
SELECT CAST(chk AS INTEGER) AS chk, COUNT(*) AS n
FROM per_acct GROUP BY chk ORDER BY chk
"""



def q_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, demonstrated side by side: a probe list
    containing one NULL makes ``NOT IN`` return ZERO rows (three-valued
    logic: x <> NULL is UNKNOWN, so no row can prove membership-absence),
    while ``NOT EXISTS`` and a null-filtered ``NOT IN`` return the real
    complement. Spark plans the nullable case as a NullAwareAntiJoin —
    correct but forced to broadcast-check the null; the null-filtered
    form degrades back to a plain anti join. Every production "find
    missing rows" audit should be the NOT EXISTS shape; this query pins
    the semantics (and both engines' agreement) as a regression check.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("c_v")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("o_v")
    spark.sql(
        """
      CREATE OR REPLACE TEMPORARY VIEW probe AS
      SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
      FROM o_v WHERE o_orderpriority = '1-URGENT'
    """
    )
    return spark.sql(
        """
      SELECT 'not_in' AS semantics,
             (SELECT COUNT(*) FROM c_v WHERE c_custkey NOT IN (SELECT k FROM probe)) AS n_rows
      UNION ALL
      SELECT 'not_exists',
             (SELECT COUNT(*) FROM c_v WHERE NOT EXISTS (
                SELECT 1 FROM probe WHERE probe.k = c_v.c_custkey)) AS n_rows
      UNION ALL
      SELECT 'not_in_null_filtered',
             (SELECT COUNT(*) FROM c_v WHERE c_custkey NOT IN (
                SELECT k FROM probe WHERE k IS NOT NULL)) AS n_rows
      ORDER BY semantics
    """
    )


Q_NOT_IN_SQL = """
WITH probe AS (
  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
  FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT 'not_in' AS semantics,
       (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM probe)) AS n_rows
UNION ALL
SELECT 'not_exists',
       (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS (
          SELECT 1 FROM probe WHERE probe.k = c.c_custkey))
UNION ALL
SELECT 'not_in_null_filtered',
       (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (
          SELECT k FROM probe WHERE k IS NOT NULL))
ORDER BY semantics
"""


QUERIES = {
    q_lateral_topk: Q_LATERAL_SQL,
    q_array_analytics: Q_ARRAY_ANALYTICS_SQL,
    q_sql_udf_pricing: Q_SQL_UDF_SQL,
    q_pandas_api_rollup: Q_PANDAS_API_SQL,
    q_collated_group: Q_COLLATED_SQL,
    q_arrow_udf_checksum: Q_ARROW_UDF_SQL,
    q_not_in_null_trap: Q_NOT_IN_SQL,
    q_recursive_bom: Q_RECURSIVE_BOM_SQL,
    q_recursive_cte_native: Q_RECURSIVE_BOM_SQL,
    q12_priority_counts: Q12_SQL,
    q14_promo_revenue: Q14_SQL,
    q17_small_quantity_revenue: Q17_SQL,
    q18_large_volume_orders: Q18_SQL,
    q22_rich_idle_customers: Q22_SQL,
    q_count_distinct_suppliers: Q_COUNT_DISTINCT_SQL,
    q_cube_order_stats: Q_CUBE_SQL,
    q_argmax_events: Q_ARGMAX_SQL,
    q_pivot_user_events: Q_PIVOT_SQL,
    q_asof_click_purchase: Q_ASOF_SQL,
    q_range_join_error_context: Q_RANGE_JOIN_SQL,
    q_sessionize: Q_SESSIONIZE_SQL,
    q_sql_sessionize: Q_SESSIONIZE_SQL,
    q_session_window_native: Q_SESSION_WINDOW_NATIVE_SQL,
    q_session_window_dynamic: Q_SESSION_DYNAMIC_SQL,
    q_exact_median: Q_EXACT_MEDIAN_SQL,
}
