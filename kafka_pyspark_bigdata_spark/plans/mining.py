"""Pattern-mining / attribution / profiling analytics.

Five operators a production analytics engine grows once the relational
core (plans.relational / plans.tpch_extra) and the event-stream layer
(plans.behavioral) are in place:

- market-basket pair mining (co-purchase support + lift) over orders,
- last-touch marketing attribution over the event stream (JSON props),
- exact rolling median (order-statistic window) per user,
- forward as-of join with tolerance (pandas ``merge_asof``
  direction='forward' semantics) as a single-window plan,
- one-pass column profiling (count / nulls / distinct / min / max).

The reference's analytics surface stops at per-batch aggregates
(consumer.py:37-60) and the RF feature pipeline (spark_trainer.py); these
are the standard next-step analytics its event/ML pipeline would grow
into, each expressed as one-or-two-shuffle DataFrame plans with integer /
decimal-exact arithmetic so every query is DuckDB-hash-verifiable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import cents, half_up_cents, half_up_cents_sql, ranked
from ..sources.batch import load_table, timeline_frame_readout

# ---------------------------------------------------------------------------
# Market-basket pair mining
# ---------------------------------------------------------------------------

BASKET_MIN_SUPPORT = 2  # min co-occurrence count for a pair to be reported
BASKET_TOP_N = 200

_LIFT_DOC = """\
lift_ppm = 1e6 * P(a,b) / (P(a) * P(b)) computed entirely in BIGINT:
n_ab * n_orders * 1_000_000 DIV (n_a * n_b), computed in
DECIMAL(38,0)/HUGEINT: at 100 TB row counts the BIGINT numerator wraps
(n_ab·n_orders·10⁶ passes 2⁶³ once n_orders ~ 1e10), so the product runs
wide and only the final ppm re-narrows. All inputs nonnegative, so
Spark's truncating DIV and DuckDB's flooring // agree."""


def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase pair mining: for every unordered part pair bought in
    the same order, support count and lift vs independence — the
    frequent-itemset primitive (pairs-only A-Priori pass) behind
    recommendations and cross-sell.

    Plan shape: distinct (order, part) projection, ONE groupBy that
    collects each order's (sorted) part list — bounded by the order's
    line count, TPC-H max 7 — then the unordered pairs explode MAP-SIDE
    from the in-row array straight into the (p1,p2) partial agg (the
    r09 rewrite of the original self equi-join on l_orderkey, which
    exchanged the projection twice more). Fan-out is Σ_orders C(k,2),
    never |lineitem|²; per-part counts re-use the distinct projection
    and join back broadcast. The order count enters the plan as a
    broadcast 1-row aggregate (no eager driver-side .count()).
    """
    # r13 (guide §2.4): the old shape paid TWO fact exchanges — a
    # distinct on (order, part), then a re-shuffle of that projection
    # by order for the basket collect. collect_set dedups parts WITHIN
    # the one order-keyed aggregation (the graph_kcore per_order
    # shape), so the fact table crosses the wire once; the order count
    # and the per-part document frequencies both derive from the
    # basket frame map-side (count of baskets / explode of the sorted
    # set — the same distinct (order, part) multiset), and all three
    # consumers share the single collect_set exchange via AQE runtime
    # stage reuse.
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (a, i) ->"
                    " transform(slice(ps, i + 2, size(ps)), b -> struct(a, b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("p1"), F.col("p.b").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    part_n = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_part"))
    )
    return (
        pairs.join(
            F.broadcast(part_n.withColumnRenamed("l_partkey", "p1")), "p1"
        )
        .withColumnRenamed("n_part", "n_a")
        .join(F.broadcast(part_n.withColumnRenamed("l_partkey", "p2")), "p2")
        .withColumnRenamed("n_part", "n_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                "CAST(n_ab * CAST(n_orders AS DECIMAL(38,0)) * 1000000"
                " DIV (n_a * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("n_ab"), "p1", "p2")
        .limit(BASKET_TOP_N)
    )


Q_BASKET_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_o AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
),
part_n AS (SELECT l_partkey, COUNT(*) AS n_part FROM li GROUP BY 1)
SELECT p1, p2, n_ab, pa.n_part AS n_a, pb.n_part AS n_b,
       CAST(n_ab * CAST(n_orders AS HUGEINT) * 1000000
            // (pa.n_part * pb.n_part) AS BIGINT) AS lift_ppm
FROM pairs
JOIN part_n pa ON pairs.p1 = pa.l_partkey
JOIN part_n pb ON pairs.p2 = pb.l_partkey
CROSS JOIN n_o
ORDER BY n_ab DESC, p1, p2
LIMIT {BASKET_TOP_N}
"""


# ---------------------------------------------------------------------------
# Last-touch attribution
# ---------------------------------------------------------------------------

TOUCH_TYPES = ("click", "view")


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the campaign (the ``k`` field of the touch event's JSON ``props``)
    of the user's most recent click/view at-or-before the purchase;
    purchases with no prior touch fall into campaign -1.

    Plan shape: the scalable as-of idiom — union-tag touches and
    purchases, ONE window shuffle on user_id with a running
    ``last(campaign, ignorenulls)`` carry, then a tiny partial-agg
    shuffle on campaign. No join fan-out, no per-purchase probe; state
    per user is one carried value. JSON extraction is JVM-side
    ``get_json_object`` (no Python UDF). Revenue is exact integer
    cents."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value", "props"
    )
    touches = ev.filter(F.col("event_type").isin(*TOUCH_TYPES)).select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("camp"),
        F.lit(None).cast("long").alias("cents"),
        F.lit(0).alias("is_p"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("int").alias("camp"),
        half_up_cents("value").alias("cents"),
        F.lit(1).alias("is_p"),
    )
    # At equal ts the touch (is_p=0) sorts first, so a same-instant touch
    # is visible to the purchase — as-of "<=" semantics, documented.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attributed = (
        touches.unionByName(purchases)
        .withColumn("last_camp", F.last("camp", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 1)
    )
    return (
        attributed.groupBy(
            F.coalesce(F.col("last_camp"), F.lit(-1)).alias("campaign")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("attributed_cents"),
        )
        .orderBy("campaign")
    )


Q_ATTRIBUTION_SQL = f"""
WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_type, value, props FROM events),
tagged AS (
  SELECT user_id, ts, event_id,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS camp,
         CAST(NULL AS BIGINT) AS cents, 0 AS is_p
  FROM ev WHERE event_type IN {TOUCH_TYPES!r}
  UNION ALL
  SELECT user_id, ts, event_id, NULL,
         {half_up_cents_sql("value")}, 1
  FROM ev WHERE event_type = 'purchase'
),
carried AS (
  SELECT *, LAST_VALUE(camp IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_p, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_camp
  FROM tagged
)
SELECT COALESCE(last_camp, -1) AS campaign,
       COUNT(*) AS n_purchases,
       CAST(SUM(cents) AS BIGINT) AS attributed_cents
FROM carried WHERE is_p = 1
GROUP BY 1 ORDER BY campaign
"""


ATTR_LINEAR_LOOKBACK_US = 3 * 86_400 * 1_000_000  # 3-day credit window


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the complement of
    ``q_attribution_last_touch``: every touch (click/view) by the same
    user in the {ATTR_LINEAR_LOOKBACK_US}-µs window before (or at) a
    purchase shares the purchase's revenue EQUALLY. Equal thirds of
    1001 cents don't exist in integers, so credit splits by the
    LARGEST-REMAINDER rule: each of the n touches gets cents DIV n and
    the earliest (cents MOD n) touches get one extra cent — Σcredits ==
    cents exactly, per purchase, on any engine (the conservation the
    float version silently violates). Purchases with no touch in the
    window credit campaign −1 in full.

    Plan: touches⋈purchases is the bounded range join
    (q_range_join_error_context's argument): the user_id equi-half
    drives ONE hash join, the time predicate filters post-join, and
    per-key fanout is bounded by the lookback window. Ranking touches
    within a purchase is a purchase-keyed window (never global), and
    the readout is one campaign-keyed partial agg. JSON campaign
    extraction is JVM-side ``get_json_object``."""
    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin(*TOUCH_TYPES)).select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.col("event_id").alias("tid"),
        F.get_json_object("props", "$.k").cast("int").alias("camp"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        F.col("event_id").alias("pid"),
        half_up_cents("value").alias("cents"),
    )
    matched = purchases.join(touches, "user_id").filter(
        (F.col("t_us") <= F.col("p_us"))
        & (F.col("t_us") > F.col("p_us") - ATTR_LINEAR_LOOKBACK_US)
    )
    # purchases with no touch in the window (including users with no
    # touches at all) re-attach as unattributed via LEFT ANTI
    unmatched = purchases.join(
        matched.select("pid").distinct(), "pid", "left_anti"
    )
    credited = ranked(matched, "pid", "t_us", "tid").select(
        F.col("camp").alias("campaign"),
        (
            F.expr("cents DIV cnt")
            + (F.col("rn") <= F.expr("cents % cnt")).cast("long")
        ).alias("credit"),
    )
    full = credited.unionByName(
        unmatched.select(
            F.lit(-1).alias("campaign"), F.col("cents").alias("credit")
        )
    )
    return (
        full.groupBy("campaign")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.sum("credit").alias("credited_cents"),
        )
        .orderBy("campaign")
    )


Q_ATTR_LINEAR_SQL = f"""
WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_type, value, props FROM events),
touches AS (
  SELECT user_id, epoch_us(ts) AS t_us, event_id AS tid,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS camp
  FROM ev WHERE event_type IN {TOUCH_TYPES!r}
),
purchases AS (
  SELECT user_id, epoch_us(ts) AS p_us, event_id AS pid,
         {half_up_cents_sql("value")} AS cents
  FROM ev WHERE event_type = 'purchase'
),
matched AS (
  SELECT pid, cents, camp,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY t_us, tid) AS rn,
         COUNT(*) OVER (PARTITION BY pid) AS n
  FROM purchases JOIN touches USING (user_id)
  WHERE t_us <= p_us AND t_us > p_us - {ATTR_LINEAR_LOOKBACK_US}
),
credited AS (
  SELECT camp AS campaign,
         cents // n + CASE WHEN rn <= cents % n THEN 1 ELSE 0 END AS credit
  FROM matched
  UNION ALL
  SELECT -1, cents FROM purchases
  WHERE pid NOT IN (SELECT DISTINCT pid FROM matched)
)
SELECT campaign, COUNT(*) AS n_credits,
       CAST(SUM(credit) AS BIGINT) AS credited_cents
FROM credited GROUP BY 1 ORDER BY campaign
"""


# ---------------------------------------------------------------------------
# Exact rolling median
# ---------------------------------------------------------------------------

MEDIAN_WINDOW = 7  # current row + 6 preceding


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of event value (integer cents) per user over
    the trailing {MEDIAN_WINDOW}-row frame — the robust-smoothing
    counterpart to ``q_moving_avg`` / ``q_ewma_decay`` (order statistic,
    not mean, so spikes don't drag the baseline).

    Plan shape: one window shuffle on user_id; the frame is materialized
    with ``collect_list`` over a BOUNDED {MEDIAN_WINDOW}-row frame (state
    O(window), not O(partition)), sorted per-row with ``array_sort``
    (JVM-side, no Python), and the median read out by index. Inputs are
    integer cents, and the even-count midpoint (a+b)/2 divides two exact
    integers — both engines produce bit-identical doubles.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        half_up_cents("value").alias("cents"),
    )
    median = F.expr(
        "CASE WHEN size(vals) % 2 = 1"
        " THEN CAST(element_at(vals, CAST((size(vals) + 1) DIV 2 AS INT))"
        "      AS DOUBLE)"
        " ELSE (CAST(element_at(vals, CAST(size(vals) DIV 2 AS INT))"
        "       AS DOUBLE)"
        "       + CAST(element_at(vals, CAST(size(vals) DIV 2 + 1 AS INT))"
        "       AS DOUBLE))"
        "      / 2.0 END"
    )
    return timeline_frame_readout(
        ev, "cents", MEDIAN_WINDOW, median.alias("rolling_median_cents"), sort=True
    )


Q_ROLLING_MEDIAN_SQL = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         {half_up_cents_sql("value")} AS cents
  FROM events
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER w_ord AS BIGINT) AS rn,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       CAST(MEDIAN(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN {MEDIAN_WINDOW - 1} PRECEDING AND CURRENT ROW)
         AS DOUBLE) AS rolling_median_cents
FROM ev
WINDOW w_ord AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, rn
"""


# ---------------------------------------------------------------------------
# Forward as-of join with tolerance
# ---------------------------------------------------------------------------

ASOF_FWD_TOL_MIN = 30


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance (pandas ``merge_asof``
    direction='forward'): each click is matched to the user's NEXT
    purchase at-or-after the click, and the match is kept only when the
    gap is within {ASOF_FWD_TOL_MIN} minutes (else NULL) — the
    time-to-convert measurement that complements the backward as-of
    (`q_asof_click_purchase`) and the anti-join (`q_click_no_purchase`).

    Plan shape: the single-window as-of idiom, mirrored forward —
    union-tag clicks and purchases, ONE window shuffle on user_id with a
    ``first(purchase_struct, ignorenulls)`` over the CURRENT ROW →
    UNBOUNDED FOLLOWING frame, then filter to click rows and apply the
    tolerance. No join fan-out: cost is one sort per user partition
    regardless of how many purchases trail each click. At equal ts the
    purchase (is_p=1) sorts after the click, so a same-instant purchase
    matches with gap 0 (as-of ">=", documented)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None)
        .cast("struct<p_us:bigint,p_id:bigint>")
        .alias("p"),
        F.lit(0).alias("is_p"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.struct(
            F.unix_micros("ts").alias("p_us"), F.col("event_id").alias("p_id")
        ).alias("p"),
        F.lit(1).alias("is_p"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    tol_us = ASOF_FWD_TOL_MIN * 60 * 1_000_000
    matched = (
        clicks.unionByName(purchases)
        .withColumn("next_p", F.first("p", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 0)
        .withColumn("gap_us", F.col("next_p.p_us") - F.unix_micros("ts"))
        .withColumn(
            "ok", F.col("gap_us").isNotNull() & (F.col("gap_us") <= tol_us)
        )
    )
    return matched.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.when(F.col("ok"), F.col("next_p.p_id")).alias("purchase_id"),
        F.when(F.col("ok"), F.col("gap_us")).alias("gap_us"),
    ).orderBy("user_id", "click_id")


Q_ASOF_FWD_SQL = f"""
WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
            FROM events),
tagged AS (
  SELECT user_id, ts, event_id,
         CAST(NULL AS BIGINT) AS p_us, CAST(NULL AS BIGINT) AS p_id, 0 AS is_p
  FROM ev WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, event_id, epoch_us(ts), event_id, 1
  FROM ev WHERE event_type = 'purchase'
),
carried AS (
  SELECT user_id, ts, event_id, is_p,
         FIRST_VALUE(p_us IGNORE NULLS) OVER w AS next_us,
         FIRST_VALUE(p_id IGNORE NULLS) OVER w AS next_id
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_p, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, event_id AS click_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       CASE WHEN next_us - epoch_us(ts) <= {ASOF_FWD_TOL_MIN * 60 * 1_000_000}
            THEN next_id END AS purchase_id,
       CASE WHEN next_us - epoch_us(ts) <= {ASOF_FWD_TOL_MIN * 60 * 1_000_000}
            THEN next_us - epoch_us(ts) END AS gap_us
FROM carried WHERE is_p = 0
ORDER BY user_id, click_id
"""


# ---------------------------------------------------------------------------
# One-pass column profiling
# ---------------------------------------------------------------------------

PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-profiling summary of the lineitem measure columns:
    per column, row count, null count, distinct count, min and max — the
    table-stats primitive behind data-quality dashboards, NDV-based join
    planning, and ingestion validation.

    Plan shape: a SINGLE full-table aggregate computes every metric for
    every column in one scan (count/min/max are partial-agg; distinct
    counts are exact two-phase aggregates), then the one-row result is
    exploded into the (column, metrics) long form driver-free. The
    oracle spells the same numbers as a UNION ALL of per-column
    aggregates — same values, |cols| scans; the Spark plan's one-scan
    shape is the point at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(*PROFILE_COLS)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    struct_items = ", ".join(
        f"struct('{c}' AS col_name, n_rows, `{c}__nulls` AS n_null,"
        f" `{c}__ndv` AS n_distinct, CAST(`{c}__min` AS DOUBLE) AS min_v,"
        f" CAST(`{c}__max` AS DOUBLE) AS max_v)"
        for c in PROFILE_COLS
    )
    return (
        one.select(F.expr(f"inline(array({struct_items}))"))
        .orderBy("col_name")
    )


Q_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_v, CAST(MAX({c}) AS DOUBLE) AS max_v
FROM lineitem"""
    for c in PROFILE_COLS
) + "\nORDER BY col_name"


# ---------------------------------------------------------------------------
# A/B test evaluation
# ---------------------------------------------------------------------------


AB_CONV_MIN_PURCHASES = 14  # "heavy buyer" conversion bar (~median count)


def q_ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm experiment readout: users hash-assigned to arms A/B (the
    content-addressed assignment every experimentation platform uses —
    stable across runs, no rand()), conversion = heavy buyer (≥14
    purchases — roughly the fixture's median purchase count, so both
    outcomes are populated; "any purchase" is degenerate here, every
    user has one), with per-arm rates and the pooled two-proportion
    z-statistic — the ship/no-ship number.

    All counts are exact integers from two partial-agg shuffles on
    user_id; the z-score is IEEE-deterministic (divisions and one
    correctly-rounded sqrt over exact integers, mirrored op-for-op in
    the oracle), with a NULLIF guard so a degenerate pooled rate (0 or
    1) yields NULL instead of an ANSI divide-by-zero. Per VERIFY
    guidance sqrt is engine-portable; log/exp/pow are not and are
    avoided."""
    from ..operators.pipeline import hash_bucket_expr

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    users = (
        ev.select("user_id")
        .distinct()
        .withColumn("arm", hash_bucket_expr("user_id", 2))
    )
    converted = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purch"))
        .filter(F.col("n_purch") >= AB_CONV_MIN_PURCHASES)
        .select("user_id", F.lit(1).alias("conv"))
    )
    # Both arms pivot out of ONE conditional aggregate (no per-arm
    # filter + self-join: a single partial-agg pass emits the 1-row
    # readout, and the z-expression sees only that complete row).
    stats = users.join(converted, "user_id", "left").agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n_a"),
        F.sum(
            ((F.col("arm") == 0) & F.col("conv").isNotNull()).cast("long")
        ).alias("conv_a"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n_b"),
        F.sum(
            ((F.col("arm") == 1) & F.col("conv").isNotNull()).cast("long")
        ).alias("conv_b"),
    )
    # an empty arm divides by nullif(n, 0): NULL, as the oracle's x / 0
    z = F.expr(
        "(CAST(conv_a AS DOUBLE) / nullif(n_a, 0)"
        "  - CAST(conv_b AS DOUBLE) / nullif(n_b, 0))"
        " / nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))"
        "        * (CAST(1 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE)"
        "           / (n_a + n_b))"
        "        * (CAST(1 AS DOUBLE) / nullif(n_a, 0)"
        "           + CAST(1 AS DOUBLE) / nullif(n_b, 0))),"
        " CAST(0 AS DOUBLE))"
    )
    return stats.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.expr("conv_a * 1000000 DIV nullif(n_a, 0)").alias("cvr_a_ppm"),
        F.expr("conv_b * 1000000 DIV nullif(n_b, 0)").alias("cvr_b_ppm"),
        z.alias("z_score"),
    )


Q_AB_TEST_SQL = f"""
WITH users AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
              AS INTEGER) AS arm
  FROM (SELECT DISTINCT user_id FROM events)
),
conv AS (
  SELECT user_id, 1 AS conv FROM events WHERE event_type = 'purchase'
  GROUP BY user_id HAVING COUNT(*) >= {AB_CONV_MIN_PURCHASES}
),
stats AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 0 AND conv IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN arm = 1 AND conv IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS conv_b
  FROM users LEFT JOIN conv USING (user_id)
)
SELECT n_a, conv_a, n_b, conv_b,
       CAST(conv_a * 1000000 // n_a AS BIGINT) AS cvr_a_ppm,
       CAST(conv_b * 1000000 // n_b AS BIGINT) AS cvr_b_ppm,
       (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         / nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (CAST(1 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE)
                   / (n_a + n_b))
                * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)),
                CAST(0 AS DOUBLE)) AS z_score
FROM stats
"""


# Benford first-digit probabilities log10(1+1/d), as fixed ppm literals —
# constants of the law, so no runtime logarithm ever runs in either engine.
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


CHI2_SEGMENTS = 4  # user_id % 4 — the deterministic cohort split


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and user
    cohort (user_id mod 4) — the categorical counterpart to
    ``q_ab_test_conversion``'s z-test, and the standard "is behavior
    uniform across cohorts" audit before trusting a segmented metric.

    The statistic is EXACT RATIONAL end to end: with o the observed
    cell count, rt/ct the row/column totals and n the grand total, each
    cell's contribution (o − rt·ct/n)²/(rt·ct/n) clears denominators to
    (o·n − rt·ct)² / (rt·ct·n) — all BIGINT (DECIMAL(38,0)/HUGEINT for
    the squared numerator, which leaves 64 bits at corpus scale), each
    cell independently floored to ppm, so the sum is order-independent
    and both engines agree to the integer. Output is one row per cell
    (observed, expected_x100, contrib_ppm) plus the grand statistic via
    a cross-join of the 1-row total — dof = (R−1)(C−1) alongside.

    Plan: one partial-agg shuffle on (type, cohort) — ≤ R·C cells —
    then broadcast joins of the tiny row/column margins. The fact table
    is scanned once."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.pmod(F.col("user_id"), F.lit(CHI2_SEGMENTS)).alias("cohort")
    )
    # cells feeds 4 consumers (margins x2, totals, the scored join) —
    # pin the <=RxC-row table so the event scan runs once
    cells = (
        ev.groupBy("event_type", "cohort")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint()
    )
    row_t = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    col_t = cells.groupBy("cohort").agg(F.sum("o").alias("ct"))
    n_t = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct("cohort").alias("n_cohorts"),
    )
    scored = (
        cells.join(F.broadcast(row_t), "event_type")
        .join(F.broadcast(col_t), "cohort")
        .crossJoin(F.broadcast(n_t))
        .select(
            "event_type",
            "cohort",
            "o",
            F.expr("rt * ct * 100 DIV n").alias("expected_x100"),
            F.expr(
                "CAST((o * CAST(n AS DECIMAL(38,0)) - rt * ct)"
                " * (o * n - rt * ct) * 1000000 DIV (rt * ct * n) AS BIGINT)"
            ).alias("contrib_ppm"),
            F.expr("(n_types - 1) * (n_cohorts - 1)").alias("dof"),
        )
    )
    total = scored.agg(F.sum("contrib_ppm").alias("chi2_ppm"))
    return (
        scored.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "cohort",
            "o",
            "expected_x100",
            "contrib_ppm",
            "dof",
            "chi2_ppm",
        )
        .orderBy("event_type", "cohort")
    )


CHI2_SQL = f"""
WITH ev AS (
  SELECT event_type, user_id % {CHI2_SEGMENTS} AS cohort FROM events
),
cells AS (
  SELECT event_type, cohort, COUNT(*) AS o FROM ev GROUP BY event_type, cohort
),
row_t AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY event_type),
col_t AS (SELECT cohort, SUM(o) AS ct FROM cells GROUP BY cohort),
n_t AS (
  SELECT SUM(o) AS n, COUNT(DISTINCT event_type) AS n_types,
         COUNT(DISTINCT cohort) AS n_cohorts
  FROM cells
),
scored AS (
  SELECT c.event_type, c.cohort, c.o,
         CAST(rt * ct * 100 // n AS BIGINT) AS expected_x100,
         CAST((c.o * CAST(n AS HUGEINT) - rt * ct)
              * (c.o * n - rt * ct) * 1000000 // (rt * ct * n) AS BIGINT)
           AS contrib_ppm,
         CAST((n_types - 1) * (n_cohorts - 1) AS BIGINT) AS dof
  FROM cells c JOIN row_t USING (event_type) JOIN col_t USING (cohort), n_t
),
total AS (SELECT SUM(contrib_ppm) AS chi2_ppm FROM scored)
SELECT event_type, CAST(cohort AS BIGINT) AS cohort, o, expected_x100,
       contrib_ppm, dof, CAST(chi2_ppm AS BIGINT) AS chi2_ppm
FROM scored, total
ORDER BY event_type, cohort
"""


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals — the
    classic data-forensics screen (fabricated or capped numeric columns
    bend the first-digit curve). The law's probabilities are literal ppm
    constants, observed shares are integer fixed-point, and the reported
    deviation is |obs − expected| in ppm — fully engine-exact, one
    scan + one 9-key partial agg.

    The verdict row is data-quality signal, not a pass gate: uniform
    synthetic values SHOULD flag high deviation, which is exactly what
    the auditor wants surfaced about a column before trusting it.
    """
    o = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("cents")
    ).filter(F.col("cents") > 0)
    digit = F.substring(F.col("cents").cast("string"), 1, 1).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("n_total"))
    bppm = F.element_at(
        F.array(*[F.lit(BENFORD_PPM[d]) for d in range(1, 10)]), F.col("digit")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 div n_total").alias("obs_ppm"),
            bppm.alias("benford_ppm"),
        )
        .withColumn(
            "abs_dev_ppm", F.abs(F.col("obs_ppm") - F.col("benford_ppm"))
        )
        .orderBy("digit")
    )


def _benford_sql() -> str:
    cases = " ".join(
        f"WHEN {d} THEN {BENFORD_PPM[d]}" for d in range(1, 10)
    )
    return f"""
WITH cents AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
counts AS (
  SELECT CAST(left(CAST(cents AS VARCHAR), 1) AS INTEGER) AS digit,
         COUNT(*) AS n
  FROM cents WHERE cents > 0 GROUP BY 1
),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM counts)
SELECT digit, n, n * 1000000 // n_total AS obs_ppm,
       CAST(CASE digit {cases} END AS BIGINT) AS benford_ppm,
       abs(n * 1000000 // n_total - (CASE digit {cases} END)) AS abs_dev_ppm
FROM counts, total ORDER BY digit
"""


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Gini coefficient and top-decile share of customer spend —
    the concentration readout behind "how skewed is our revenue?" (and,
    on a training corpus, "how dominated is the mix by few sources?").

    Gini via the closed rank form G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) over
    ascending-sorted spend: one window rank keyed by nothing but
    ORDER BY spend (at 100 TB: compute ranks by range-partitioned sort,
    the same shape as q_quantiles_exact), then a single aggregate.
    Cents are exact integers; the rank-weighted sum runs in
    DECIMAL(38,0) (it exceeds int64 at warehouse scale), and the output
    is fixed-point ppm from ONE integral division — engine-exact, no
    float accumulation.
    """
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = spend.withColumn("i", F.row_number().over(w))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias("siw"),
    )
    top = (
        ranked.crossJoin(
            F.broadcast(ranked.agg(F.count(F.lit(1)).alias("n_all")))
        )
        .filter(F.col("i") > F.col("n_all") - F.expr("n_all div 10"))
        .agg(F.sum("cents").cast("decimal(38,0)").alias("top_cents"))
    )
    return (
        agg.crossJoin(F.broadcast(top))
        .select(
            F.col("n").alias("n_users"),
            F.col("s").cast("bigint").alias("total_cents"),
            F.expr(
                "CAST((2 * siw - (n + 1) * s) * 1000000 div (CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)"
            ).alias("gini_ppm"),
            F.expr("CAST(top_cents * 1000000 div s AS BIGINT)").alias(
                "top_decile_share_ppm"
            ),
        )
    )


Q_GINI_SQL = """
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS cents
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT o_custkey, cents,
         ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
  FROM spend
),
agg AS (
  SELECT COUNT(*) AS n, SUM(cents) AS s, SUM(CAST(i AS HUGEINT) * cents) AS siw
  FROM ranked
),
top AS (
  SELECT SUM(cents) AS top_cents FROM ranked, agg
  WHERE i > n - n // 10
)
SELECT n AS n_users, CAST(s AS BIGINT) AS total_cents,
       CAST((2 * siw - (n + 1) * s) * 1000000 // (CAST(n AS HUGEINT) * s)
            AS BIGINT) AS gini_ppm,
       CAST(top_cents * 1000000 // s AS BIGINT) AS top_decile_share_ppm
FROM agg, top
"""


def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz curve behind ``q_gini_concentration``'s point
    estimate: customers in ascending-spend deciles (NTILE), with each
    decile's exact spend and the cumulative share — the "bottom 50%
    hold X% of revenue" readout. One rank window + one 10-key agg + a
    10-row cumulative window; shares are integer fixed-point ppm."""
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    w = Window.orderBy("cents", "o_custkey")
    dec = spend.withColumn("decile", F.ntile(10).over(w))
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cents").cast("decimal(38,0)").alias("dec_cents"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    total = per.agg(F.sum("dec_cents").alias("total_cents"))
    return (
        per.withColumn("cum_cents", F.sum("dec_cents").over(wc))
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_users",
            F.col("dec_cents").cast("bigint").alias("decile_cents"),
            F.expr("CAST(cum_cents * 1000000 div total_cents AS BIGINT)").alias(
                "cum_share_ppm"
            ),
        )
        .orderBy("decile")
    )


Q_LORENZ_SQL = """
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS cents
  FROM orders GROUP BY 1
),
dec AS (
  SELECT cents, NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
  FROM spend
),
per AS (
  SELECT decile, COUNT(*) AS n_users, SUM(cents) AS dec_cents FROM dec
  GROUP BY decile
),
total AS (SELECT SUM(dec_cents) AS total_cents FROM per)
SELECT decile, n_users, CAST(dec_cents AS BIGINT) AS decile_cents,
       CAST(SUM(dec_cents) OVER (ORDER BY decile
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)
            * 1000000 // total_cents AS BIGINT) AS cum_share_ppm
FROM per, total ORDER BY decile
"""


def q_hdr_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (HDR-style) histogram of order totals: bucket =
    floor(log2(cents)), computed WITHOUT a logarithm — the bucket is the
    bit length of the integer value (length of its binary string minus
    one), so the whole histogram is integer-exact and the long tail gets
    the exponentially-wider buckets a latency/value distribution needs.
    One scan + one ~40-key partial agg; the exact bucket bounds ride
    along as powers of two."""
    o = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("cents")
    ).filter(F.col("cents") > 0)
    bucket = (F.length(F.bin("cents")) - 1).alias("log2_bucket")
    return (
        o.select(bucket)
        .groupBy("log2_bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "log2_bucket",
            F.expr("CAST(pow(2, log2_bucket) AS BIGINT)").alias("lo_cents"),
            F.expr("CAST(pow(2, log2_bucket + 1) AS BIGINT) - 1").alias(
                "hi_cents"
            ),
            "n_orders",
        )
        .orderBy("log2_bucket")
    )


Q_HDR_SQL = """
WITH cents AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
b AS (
  SELECT CAST(length(printf('%b', cents)) - 1 AS INTEGER) AS log2_bucket
  FROM cents WHERE cents > 0
)
SELECT log2_bucket,
       CAST(2 ** log2_bucket AS BIGINT) AS lo_cents,
       CAST(2 ** (log2_bucket + 1) AS BIGINT) - 1 AS hi_cents,
       COUNT(*) AS n_orders
FROM b GROUP BY 1 ORDER BY log2_bucket
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median: the price point at which half the shipped
    QUANTITY (not half the rows) sits below — the inventory/finance
    version of a median, where every row counts by its weight.

    Exact and engine-portable by the same selection trick as
    q_exact_median: sort by value with a deterministic tiebreak, running
    cumulative weight, pick the first row whose cumulative weight
    reaches half the (integer) total — no interpolation, every
    comparison integer.

    The running weight is computed DISTRIBUTED, two-phase — no
    single-task global sort: (1) bucket rows by price range
    (``price_cents DIV 100000``), sum weights per bucket, and fold the
    tiny bucket table into per-bucket starting offsets with one
    post-aggregate cumulative window; (2) a bucket-partitioned
    cumulative window (parallel across buckets) adds the within-bucket
    running weight. Price ties can't straddle a bucket boundary, so
    offset + within-bucket running weight IS the global cumulative
    weight, row for row."""
    li = load_table(spark, sf_dir, "lineitem").select(
        cents("l_extendedprice").alias("price_cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    ).withColumn("b", F.expr("price_cents DIV 1000"))
    # r13 (VERDICT item 7, resolved at ONE level): bucket row-counts
    # grow linearly with data, so the crossing bucket's window sort was
    # the one task whose size scales with the table. The bucket key is
    # now 100× finer (DIV 1000 — one bucket per $10 of price), which
    # shrinks that final sort task 100× while the cumulative ledger
    # window stays DOMAIN-bounded (#buckets = price range / $10,
    # independent of row count — ~10⁴ rows at any SF, one trivial
    # window task). The literal two-STAGE prune (coarse bucket →
    # sub-bucket) was implemented and measured first: hash-green but
    # 1.03 → 1.45 s — the extra ledger window + limit + broadcast
    # chain is pure fixed job overhead, failing the no-regression
    # gate; the fine single prune reaches the same task-size bound
    # without the extra jobs (numbers in OPTIMIZATION_r13.md).
    per_b = li.groupBy("b").agg(F.sum("w").alias("bw"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    offsets = per_b.select(
        "b", "bw", (F.sum("bw").over(wb) - F.col("bw")).alias("woff")
    )
    # r13: the total is the same ledger's sum — deriving it from per_b
    # instead of a separate li.agg saves one full fact scan (the two
    # branches share the identical groupBy exchange, which AQE stage
    # reuse dedups at runtime).
    tot = per_b.agg(F.sum("bw").alias("w_total"))
    # r12: exactly ONE bucket contains the crossing row — the smallest b
    # whose bucket-end cumulative weight (woff + bw) reaches half the
    # total (earlier buckets have no qualifying row; later buckets'
    # qualifying rows sort after every crossing-bucket row because the
    # bucket key is monotone in price and ties cannot straddle a bucket
    # boundary). Joining li onto that 1-row bucket first means the
    # running-weight window sorts one bucket's rows, not the whole
    # table (guide §2.4 — the q_weighted_median analog of the
    # sketch_gk_quantile_eval target-bucket prefilter). Same selected
    # row, same values.
    crossing = (
        offsets.crossJoin(F.broadcast(tot))
        .filter((F.col("woff") + F.col("bw")) * 2 >= F.col("w_total"))
        .orderBy("b")
        .limit(1)
        .select("b", "woff", "w_total")
    )
    wsort = Window.partitionBy("b").orderBy(
        "price_cents", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = li.join(F.broadcast(crossing), "b").withColumn(
        "cum_w", F.col("woff") + F.sum("w").over(wsort)
    )
    return (
        cum.filter(F.col("cum_w") * 2 >= F.col("w_total"))
        .orderBy("price_cents", "l_orderkey", "l_linenumber")
        .limit(1)
        .select(
            F.col("price_cents").alias("weighted_median_cents"),
            "cum_w",
            "w_total",
        )
    )


Q_WEIGHTED_MEDIAN_SQL = """
WITH li AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS price_cents,
         CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
  FROM lineitem
),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM li),
cum AS (
  SELECT price_cents, l_orderkey, l_linenumber,
         CAST(SUM(w) OVER (ORDER BY price_cents, l_orderkey, l_linenumber
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_w
  FROM li
)
SELECT price_cents AS weighted_median_cents, cum_w, w_total
FROM cum, tot
WHERE cum_w * 2 >= w_total
ORDER BY price_cents, l_orderkey, l_linenumber LIMIT 1
"""


def corpus_modality_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality referential audit: which documents have an
    embedding and which embeddings are orphans — the join-hygiene check
    a multimodal lakehouse runs before any doc⋈vector operator (a
    silent coverage gap turns into silently-missing retrieval results).
    One full-outer join on the id + a 3-row conditional aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("d_id")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("v_id")
    )
    j = docs.join(emb, docs["d_id"] == emb["v_id"], "full_outer")
    return j.agg(
        F.sum((F.col("d_id").isNotNull() & F.col("v_id").isNotNull()).cast("int"))
        .alias("n_matched"),
        F.sum((F.col("v_id").isNull()).cast("int")).alias("n_docs_unembedded"),
        F.sum((F.col("d_id").isNull()).cast("int")).alias("n_orphan_vectors"),
    )


CORPUS_COVERAGE_SQL = """
SELECT CAST(SUM(CASE WHEN d_id IS NOT NULL AND v_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN v_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_unembedded,
       CAST(SUM(CASE WHEN d_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphan_vectors
FROM (SELECT doc_id AS d_id FROM documents) d
FULL OUTER JOIN (SELECT vec_id AS v_id FROM embeddings) e
  ON d.d_id = e.v_id
"""


def q_trimmed_mean_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per event type via a GROUPED-AGG ``pandas_udf``
    — the Arrow-vectorized custom-aggregate slot (the one a real
    pipeline fills with a robust statistic or a model metric no
    built-in expresses). Completes the Python-interop matrix alongside
    the scalar pandas_udf (ann_dot_pandas_udf), mapInPandas
    (multimodal) and applyInPandasWithState (streaming); row-at-a-time
    UDFs remain banned.

    Exact across the boundary: values fixed-point to int64 cents
    JVM-side, numpy sorts and trims by integer counts, the sum is an
    int64 accumulation, and the single final division of exact values
    is correctly rounded — so DuckDB's window-selection formulation
    hash-matches. Plan: one event_type-keyed shuffle into
    AggregateInPandas; group state is the group's values (bounded here;
    an algebraic trim would pre-bucket at true scale).
    """
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: `from __future__ import annotations` turns
    # hints into strings, which defeats the signature-based inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean(cents):
        v = np.sort(cents.to_numpy(np.int64))
        k = len(v) // 10
        mid = v[k : len(v) - k] if len(v) > 2 * k else v
        return float(mid.sum()) / (100.0 * len(mid))

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        cents("value").alias("cents"),
    )
    return (
        ev.groupBy("event_type")
        .agg(trimmed_mean("cents").alias("trimmed_mean"))
        .orderBy("event_type")
    )


Q_TRIMMED_MEAN_SQL = """
WITH c AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM c
)
SELECT event_type,
       CAST(SUM(cents) AS DOUBLE) / (100.0 * COUNT(*)) AS trimmed_mean
FROM r
WHERE rn > n // 10 AND rn <= n - n // 10
GROUP BY event_type ORDER BY event_type
"""


PAGE_SIZE = 25
PAGE_CURSOR_DATE = "1995-06-17"
PAGE_CURSOR_KEY = 9_000


def q_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYSET (cursor) pagination: fetch the page after a
    (o_orderdate, o_orderkey) cursor — the ONLY pagination that
    survives 100 TB. OFFSET n skips by computing-and-discarding n rows
    (every next page costs more than the last); a keyset predicate is
    sargable, reaches the scan as a pushed filter, and every page costs
    the same: filter + TakeOrdered(k). The composite-tuple comparison
    is spelled out so each conjunct pushes down."""
    o = load_table(spark, sf_dir, "orders")
    after_cursor = (F.col("o_orderdate") > F.lit(PAGE_CURSOR_DATE).cast("date")) | (
        (F.col("o_orderdate") == F.lit(PAGE_CURSOR_DATE).cast("date"))
        & (F.col("o_orderkey") > PAGE_CURSOR_KEY)
    )
    return (
        o.filter(after_cursor)
        .select(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(PAGE_SIZE)
    )


Q_KEYSET_SQL = f"""
SELECT strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderdate > DATE '{PAGE_CURSOR_DATE}'
   OR (o_orderdate = DATE '{PAGE_CURSOR_DATE}' AND o_orderkey > {PAGE_CURSOR_KEY})
ORDER BY o_orderdate, o_orderkey
LIMIT {PAGE_SIZE}
"""


def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of order totals per priority class — the robust
    location estimate that CLAMPS the tails instead of dropping them
    (the JVM-expression counterpart to ``q_trimmed_mean_pandas``: same
    robustness family, zero Python, one shuffle).

    Rank-exact definition: with n rows per group and k = n DIV 10, every
    value below the rank-(k+1) order statistic is raised to it and every
    value above rank n−k is lowered to it, then the mean is taken.
    Implemented as ONE window pass: ``row_number`` + ``count`` over the
    group, then the two clamp bounds as conditional MAX-over-group
    window aggregates (the rank-(k+1) / rank-(n−k) values), then a
    group aggregate. The groupBy reuses the window's hash partitioning
    on the same key, so the whole plan is a single exchange; at 100 TB
    the per-group sort is the only cost and AQE splits any skewed
    priority class. All arithmetic is integer cents with one truncating
    division at the end — engine-exact."""
    priced = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", cents("o_totalprice").alias("cents")
    )
    w_rank = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    w_grp = Window.partitionBy("o_orderpriority")
    ranked = priced.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w_rank).alias("r"),
        F.count(F.lit(1)).over(w_grp).alias("n"),
    )
    bounded = ranked.select(
        "o_orderpriority",
        "cents",
        "n",
        F.max(
            F.when(F.col("r") == F.expr("n div 10") + 1, F.col("cents"))
        ).over(w_grp).alias("lo"),
        F.max(
            F.when(F.col("r") == F.col("n") - F.expr("n div 10"), F.col("cents"))
        ).over(w_grp).alias("hi"),
    )
    return (
        bounded.groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            F.max("lo").alias("lo_cents"),
            F.max("hi").alias("hi_cents"),
            F.expr(
                "sum(least(greatest(cents, lo), hi)) div max(n)"
            ).alias("winsor_mean_cents"),
            F.expr("sum(cents) div max(n)").alias("raw_mean_cents"),
        )
        .orderBy("o_orderpriority")
    )


Q_WINSOR_SQL = """
WITH cents AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
ranked AS (
  SELECT o_orderpriority, cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY cents, o_orderkey) AS r,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM cents
),
bounded AS (
  SELECT o_orderpriority, cents, n,
         MAX(CASE WHEN r = n // 10 + 1 THEN cents END)
           OVER (PARTITION BY o_orderpriority) AS lo,
         MAX(CASE WHEN r = n - n // 10 THEN cents END)
           OVER (PARTITION BY o_orderpriority) AS hi
  FROM ranked
)
SELECT o_orderpriority, MAX(n) AS n_orders, MAX(lo) AS lo_cents,
       MAX(hi) AS hi_cents,
       CAST(SUM(LEAST(GREATEST(cents, lo), hi)) // MAX(n) AS BIGINT)
         AS winsor_mean_cents,
       CAST(SUM(cents) // MAX(n) AS BIGINT) AS raw_mean_cents
FROM bounded GROUP BY o_orderpriority ORDER BY o_orderpriority
"""



# ---------------------------------------------------------------------------
# Two-sample KS drift statistic
# ---------------------------------------------------------------------------

KS_A, KS_B = "click", "purchase"


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the value
    distributions of two event populations — the distribution-drift
    detector behind "did this week's data change shape?" monitors
    (feature drift, corpus drift, A/B sanity).

    D = max_x |F_A(x) − F_B(x)| computed EXACTLY: counts per distinct
    value (one partial-agg shuffle), cumulative sums over the value
    order (one window), and the max of the cross-multiplied integer
    form |cumA·nB − cumB·nA| / (nA·nB) — no floating CDFs, so the ppm
    readout is engine-exact. The window is a global value order, but
    over the DISTINCT-value table (bounded by the value domain, here
    integer cents), not the events themselves.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        half_up_cents("value").alias("cents"),
    )
    tagged = ev.filter(F.col("event_type").isin(KS_A, KS_B)).select(
        "cents",
        F.when(F.col("event_type") == KS_A, 1).otherwise(0).alias("in_a"),
        F.when(F.col("event_type") == KS_B, 1).otherwise(0).alias("in_b"),
    )
    per_val = tagged.groupBy("cents").agg(
        F.sum("in_a").alias("ca"), F.sum("in_b").alias("cb")
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_val.select(
        "cents",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    totals = tagged.agg(F.sum("in_a").alias("n_a"), F.sum("in_b").alias("n_b"))
    return (
        cum.crossJoin(F.broadcast(totals))
        .select(
            F.expr(
                "abs(cum_a * n_b - cum_b * n_a) * 1000000 DIV (n_a * n_b)"
            ).alias("d_ppm"),
            "n_a",
            "n_b",
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("d_ppm").alias("ks_d_ppm"))
        .select("ks_d_ppm", "n_a", "n_b")
    )


Q_KS_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('{KS_A}', '{KS_B}')
), tagged AS (
  SELECT cents,
         CASE WHEN event_type = '{KS_A}' THEN 1 ELSE 0 END AS in_a,
         CASE WHEN event_type = '{KS_B}' THEN 1 ELSE 0 END AS in_b
  FROM ev
), per_val AS (
  SELECT cents, SUM(in_a) AS ca, SUM(in_b) AS cb FROM tagged GROUP BY cents
), cum AS (
  SELECT cents,
         SUM(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum_a,
         SUM(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM per_val
), totals AS (
  SELECT SUM(in_a) AS n_a, SUM(in_b) AS n_b FROM tagged
)
SELECT CAST(MAX(abs(cum_a * n_b - cum_b * n_a) * 1000000 // (n_a * n_b)) AS BIGINT) AS ks_d_ppm,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
FROM cum, totals
GROUP BY n_a, n_b
"""


# ---------------------------------------------------------------------------
# Binned interval-overlap join (distributed range join)
# ---------------------------------------------------------------------------

IVL_BIN_DAYS = 7      # temporal bin width: every interval spans <= 2 bins
IVL_MAX_DUR_DAYS = 5  # interval length derived from the key: 1..5 days
IVL_PRIORITY = "1-URGENT"


def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal interval-overlap self-join via BINNING — the distributed
    range-join pattern for when there is no equi-key: find every pair of
    concurrently-open urgent orders (order interval = [orderdate,
    orderdate + 1..5 days], closed ends) and report the overlap-pair
    count per calendar week.

    Spark has no native range-join optimizer, so the naive plan is a
    cartesian filter. The standard fix (same trick as Databricks' range
    join hint): replicate each interval to every {IVL_BIN_DAYS}-day bin
    it touches (<= 2 copies, since durations are capped below the bin
    width), equi-join on the bin id, verify true overlap exactly, and
    attribute each pair to ONE bin — the bin of the LATER start — so a
    pair overlapping across a bin boundary is counted exactly once
    without a dedup shuffle.

    Scale shape: one explode (<= 2x), one equi-join on bin, one
    partial-agg shuffle. Candidate work per bin is (intervals touching
    the bin)^2 — the knob is bin width vs interval density, and for a
    count-only readout at extreme densities the sweep-line form (sort
    starts/ends, count active) replaces enumeration; this operator
    keeps enumeration because per-pair verification is what a real
    conflict-detection job needs."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == IVL_PRIORITY)
        .select(
            F.col("o_orderkey").alias("k"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
            ).alias("s"),
        )
        .withColumn("e", F.col("s") + F.col("k") % IVL_MAX_DUR_DAYS + 1)
    )
    binned = o.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.expr(f"s div {IVL_BIN_DAYS}"), F.expr(f"e div {IVL_BIN_DAYS}")
            )
        ),
    )
    a, b = binned.alias("a"), binned.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bin") == F.col("b.bin"))
        & (F.col("a.k") < F.col("b.k"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e"))
        & (
            F.col("a.bin")
            == F.expr(f"greatest(a.s, b.s) div {IVL_BIN_DAYS}")
        ),
    ).select(F.col("a.bin").alias("bin_id"))
    return (
        pairs.groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bin_id",
            (F.col("bin_id") * IVL_BIN_DAYS).alias("bin_start_day"),
            "n_pairs",
        )
        .orderBy("bin_id")
    )


Q_INTERVAL_OVERLAP_SQL = f"""
WITH ivl AS (
  SELECT o_orderkey AS k,
         CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS s,
         CAST(o_orderdate AS DATE) - DATE '1970-01-01'
           + o_orderkey % {IVL_MAX_DUR_DAYS} + 1 AS e
  FROM orders WHERE o_orderpriority = '{IVL_PRIORITY}'
),
pairs AS (
  SELECT CAST(greatest(a.s, b.s) // {IVL_BIN_DAYS} AS INTEGER) AS bin_id
  FROM ivl a JOIN ivl b
    ON a.k < b.k AND a.s <= b.e AND b.s <= a.e
)
SELECT bin_id,
       CAST(bin_id * {IVL_BIN_DAYS} AS INTEGER) AS bin_start_day,
       COUNT(*) AS n_pairs
FROM pairs GROUP BY bin_id ORDER BY bin_id
"""


# --- Pareto skyline (per-nation dominance frontier) ------------------------

SKYLINE_XBAND = 1_000_000  # spend-cents band for the two-phase prefix max


def q_skyline_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED skyline (Börzsönyi et al., ICDE 2001): per nation, the
    customers on the Pareto frontier of (total spend, order count) —
    nobody in the same nation is >= on both metrics and > on at least
    one. The sibling ``plans.analytic.q_skyline_pareto`` exploits a
    BOUNDED date domain; this one handles the general case — grouped,
    both metrics unbounded — so the frontier scan itself must be made
    distributed (the banded two-phase prefix max below).

    Distributed formulation — never the O(n²) dominance self-join. Sort
    conceptually by spend DESC; a customer is dominated iff (a) some
    strictly-higher spender has >= orders, or (b) a same-spend customer
    has strictly more orders. Both reduce to per-group maxima:

      gm  = max(orders) over equal-spend peers — one (nation, spend)
            partial agg, metadata-sized (one row per distinct value);
      bp  = max(gm) over strictly-higher spend — a PREFIX max over the
            distinct-spend frame, computed TWO-PHASE like the shard
            manifest's rank (no per-nation whole-data window): band
            spend DIV {SKYLINE_XBAND}, prefix-max the tiny per-band
            maxima table with one post-aggregate window, then a window
            WITHIN each band; higher bands always mean strictly higher
            spend, and same-band strictly-higher rows are 1-preceding
            in the band-local window.

    skyline ⇔ orders = gm AND orders > coalesce(bp, −1). Equal (spend,
    orders) pairs tie — neither dominates — and both rows surface. The
    customer-level frames move once (agg shuffle + one (nation, spend)
    join-back); every window runs on distinct-value frames."""
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            ),
            "o_custkey",
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(half_up_cents("o_totalprice")).alias("spend_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        # pinned: feeds both the frontier derivation and the final
        # join-back — one orders scan + one agg shuffle, not two
        .localCheckpoint(eager=False)
    )
    gm = per_cust.groupBy("c_nationkey", "spend_cents").agg(
        F.max("n_orders").alias("gm")
    )
    banded = gm.withColumn("band", F.expr(f"spend_cents DIV {SKYLINE_XBAND}"))
    per_band = banded.groupBy("c_nationkey", "band").agg(
        F.max("gm").alias("band_max")
    )
    w_bands = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.desc("band"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    band_prefix = per_band.select(
        "c_nationkey", "band", F.max("band_max").over(w_bands).alias("hi_bp")
    )
    w_in_band = (
        Window.partitionBy("c_nationkey", "band")
        .orderBy(F.desc("spend_cents"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_bp = (
        banded.withColumn("in_bp", F.max("gm").over(w_in_band))
        .join(F.broadcast(band_prefix), ["c_nationkey", "band"])
        .select(
            "c_nationkey",
            "spend_cents",
            "gm",
            F.greatest(
                F.coalesce("in_bp", F.lit(-1)), F.coalesce("hi_bp", F.lit(-1))
            ).alias("bp"),
        )
    )
    return (
        per_cust.join(with_bp, ["c_nationkey", "spend_cents"])
        .filter((F.col("n_orders") == F.col("gm")) & (F.col("n_orders") > F.col("bp")))
        .select("c_nationkey", "o_custkey", "spend_cents", "n_orders")
        .orderBy("c_nationkey", F.desc("spend_cents"), "o_custkey")
    )


Q_SKYLINE_GROUPED_SQL = f"""
WITH per_cust AS (
  SELECT c_nationkey, o_custkey,
         CAST(SUM({half_up_cents_sql("o_totalprice")})
              AS BIGINT) AS spend_cents,
         COUNT(*) AS n_orders
  FROM orders JOIN customer ON c_custkey = o_custkey
  GROUP BY 1, 2
),
gm AS (
  SELECT c_nationkey, spend_cents, MAX(n_orders) AS gm
  FROM per_cust GROUP BY 1, 2
),
with_bp AS (
  SELECT c_nationkey, spend_cents, gm,
         COALESCE(MAX(gm) OVER (
           PARTITION BY c_nationkey ORDER BY spend_cents DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS bp
  FROM gm
)
SELECT p.c_nationkey, o_custkey, spend_cents, n_orders
FROM per_cust p
JOIN with_bp USING (c_nationkey, spend_cents)
WHERE n_orders = gm AND n_orders > bp
ORDER BY c_nationkey, spend_cents DESC, o_custkey
"""


QUERIES = {
    q_skyline_grouped: Q_SKYLINE_GROUPED_SQL,
    q_ks_drift: Q_KS_SQL,
    q_interval_overlap_join: Q_INTERVAL_OVERLAP_SQL,
    q_winsorized_mean: Q_WINSOR_SQL,
    q_keyset_page: Q_KEYSET_SQL,
    q_trimmed_mean_pandas: Q_TRIMMED_MEAN_SQL,
    q_weighted_median: Q_WEIGHTED_MEDIAN_SQL,
    corpus_modality_coverage: CORPUS_COVERAGE_SQL,
    q_hdr_histogram: Q_HDR_SQL,
    q_lorenz_deciles: Q_LORENZ_SQL,
    q_gini_concentration: Q_GINI_SQL,
    q_benford_audit: _benford_sql(),
    q_market_basket_pairs: Q_BASKET_SQL,
    q_ab_test_conversion: Q_AB_TEST_SQL,
    q_chi2_independence: CHI2_SQL,
    q_attribution_last_touch: Q_ATTRIBUTION_SQL,
    q_attribution_linear: Q_ATTR_LINEAR_SQL,
    q_rolling_median: Q_ROLLING_MEDIAN_SQL,
    q_asof_forward: Q_ASOF_FWD_SQL,
    q_profile_columns: Q_PROFILE_SQL,
}
