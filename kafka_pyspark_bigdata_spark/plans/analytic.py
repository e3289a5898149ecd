"""Analytic window-frame operators: moving aggregates and ntile ranking.

Complements plans.advanced (row_number/lag/running-sum) with the two
remaining window families an analytics engine needs: sliding ROWS frames
(moving averages) and bucketed ranking (NTILE). Both shuffle once on the
partition key and run linear per-key passes; the moving sum accumulates in
DECIMAL (functions.numeric rationale) so frame values are engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import (
    dsum,
    dsum_sql,
    exact_median,
    half_up_cents,
    half_up_cents_sql,
    md5_int,
    ranked,
)
from ..sources.batch import EV_US, gap_to_next_us, load_table, user_timeline


MAVG_WINDOW = 5  # current row + 4 preceding


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-event moving average of ``value`` per user — the sliding
    ROWS frame operator. The frame sum is decimal-accumulated then divided
    by the frame count in double, so the result is bit-identical across
    engines regardless of frame evaluation order."""
    ev = load_table(spark, sf_dir, "events")
    w = user_timeline().rowsBetween(-(MAVG_WINDOW - 1), 0)
    mavg = (
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
        / F.count("value").over(w)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "value",
        mavg.alias("moving_avg"),
    ).orderBy("user_id", "ts", "event_id")


Q_MOVING_AVG_SQL = f"""
WITH {EV_US}
SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / COUNT(value) OVER w AS moving_avg
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {MAVG_WINDOW - 1} PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts, event_id
"""


def q_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) price quartiles per order priority, rolled up to quartile
    stats — bucketed ranking with a deterministic total order (price +
    orderkey tiebreak), then one partial-agg shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


Q_NTILE_SQL = f"""
SELECT o_orderpriority, quartile, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price,
       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
FROM (
  SELECT o_orderpriority, o_totalprice,
         CAST(NTILE(4) OVER (
           PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
         ) AS INTEGER) AS quartile
  FROM orders
)
GROUP BY o_orderpriority, quartile
ORDER BY o_orderpriority, quartile
"""


def _shipped_parts(spark, sf_dir: str, year: int):
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(f"{year}-01-01 00:00:00").cast("timestamp"))
            & (
                F.col("l_shipdate")
                < F.lit(f"{year + 1}-01-01 00:00:00").cast("timestamp")
            )
        )
        .select("l_partkey")
    )


def q_intersect_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set operator (absent from the reference — SURVEY.md §2
    "set ops"): parts shipped in BOTH 1997 and 1998. Spark plans it as a
    left-semi over deduped sides — one shuffle per side on the key."""
    return (
        _shipped_parts(spark, sf_dir, 1997)
        .intersect(_shipped_parts(spark, sf_dir, 1998))
        .orderBy("l_partkey")
    )


Q_INTERSECT_SQL = """
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
INTERSECT
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
ORDER BY l_partkey
"""


def q_except_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set operator: parts shipped in 1997 but NOT in 1998 (the
    churn query). ``subtract`` is SQL EXCEPT [DISTINCT] — set semantics
    (any 1998 appearance removes the key), planned as a left-anti over
    deduped sides."""
    return (
        _shipped_parts(spark, sf_dir, 1997)
        .subtract(_shipped_parts(spark, sf_dir, 1998))
        .orderBy("l_partkey")
    )


Q_EXCEPT_SQL = """
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
EXCEPT
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
ORDER BY l_partkey
"""


def q_union_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION [DISTINCT] set operator (completes the set-op family next to
    UNION ALL / INTERSECT / EXCEPT): parts shipped in either 1997 or 1998,
    each once — plan is union + dedup aggregate, one shuffle on the key."""
    return (
        _shipped_parts(spark, sf_dir, 1997)
        .union(_shipped_parts(spark, sf_dir, 1998))
        .distinct()
        .orderBy("l_partkey")
    )


Q_UNION_DISTINCT_SQL = """
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
UNION
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
ORDER BY l_partkey
"""


def q_lead_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAD-based inter-event gaps per user, aggregated to exact stats —
    the forward-looking window twin of the lag-based sessionizer. Gaps are
    integer microseconds, so the sum/avg are engine-exact without decimal
    help."""
    ev = load_table(spark, sf_dir, "events")
    gaps = ev.select("user_id", gap_to_next_us().alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.max("gap_us").alias("max_gap_us"),
            (F.sum("gap_us").cast("double") / F.count("*")).alias("avg_gap_us"),
        )
        .orderBy("user_id")
    )


Q_LEAD_GAP_SQL = f"""
WITH {EV_US},
g AS (
  SELECT user_id,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS gap_us
  FROM ev
)
SELECT user_id, COUNT(*) AS n_gaps, MAX(gap_us) AS max_gap_us,
       CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS avg_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function library breadth in one projection: string ops
    (substring/upper/concat/length/replace), date parts and interval
    arithmetic, math (abs/sqrt/greatest/least), conditional CASE — every
    expression chosen for bit-identical cross-engine semantics (sqrt is
    IEEE-exact; no libm transcendentals)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.upper(F.substring("o_orderpriority", 3, 20)).alias("priority_word"),
            F.length("o_orderstatus").alias("status_len"),
            F.concat_ws("-", "o_orderstatus", F.col("o_custkey").cast("string")).alias(
                "status_cust"
            ),
            F.replace(
                F.col("o_orderpriority"), F.lit("-"), F.lit("_")
            ).alias("priority_snake"),
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
            F.dayofmonth("o_orderdate").alias("o_day"),
            F.date_format(
                F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
                "yyyy-MM-dd",
            ).alias("due_date"),
            F.abs(F.col("o_totalprice") - F.lit(100000.0)).alias("price_dev"),
            F.sqrt("o_totalprice").alias("price_sqrt"),
            F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("price_floor"),
            F.when(F.col("o_orderstatus") == "F", F.lit("finished"))
            .when(F.col("o_orderstatus") == "O", F.lit("open"))
            .otherwise(F.lit("pending"))
            .alias("status_name"),
        )
        .orderBy("o_orderkey")
    )


Q_SCALAR_SQL = """
SELECT o_orderkey,
       upper(substr(o_orderpriority, 3, 20)) AS priority_word,
       CAST(length(o_orderstatus) AS INTEGER) AS status_len,
       o_orderstatus || '-' || CAST(o_custkey AS VARCHAR) AS status_cust,
       replace(o_orderpriority, '-', '_') AS priority_snake,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS o_month,
       CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS o_day,
       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
       abs(o_totalprice - 100000.0) AS price_dev,
       sqrt(o_totalprice) AS price_sqrt,
       greatest(o_totalprice, 50000.0) AS price_floor,
       CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open'
            ELSE 'pending' END AS status_name
FROM orders ORDER BY o_orderkey
"""


KMV_K = 256
_HASH_SPACE = float(1 << 60)  # 15 hex chars


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch over l_partkey — a
    DETERMINISTIC sketch (public Bar-Yossef et al. estimator): hash every
    distinct key to [0,1), keep the k smallest hashes, estimate
    (k−1)/h_(k). Unlike HLL's engine-specific registers, the md5-based
    hash makes the estimate bit-reproducible, so the oracle verifies the
    SKETCH itself, not just the answer. Scale shape: the k-smallest
    selection is orderBy+limit → per-partition top-k heaps + driver merge
    of k rows (never a global sort), i.e. the same mergeable-summary
    pattern a distributed sketch library uses. The exact count rides
    along for the error check."""
    d = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey")
        .distinct()
    )
    hv = md5_int("l_partkey", 15).cast("double") / F.lit(_HASH_SPACE)
    mink = d.select(hv.alias("hv")).orderBy("hv").limit(KMV_K)
    kth = mink.agg(F.max("hv").alias("kth_hash"))
    exact = d.agg(F.count("*").alias("exact_distinct"))
    return (
        kth.crossJoin(exact)
        .select(
            F.lit(KMV_K).alias("k"),
            "kth_hash",
            (F.lit(KMV_K - 1) / F.col("kth_hash")).alias("est_distinct"),
            "exact_distinct",
        )
    )


SKETCH_KMV_SQL = f"""
WITH d AS (SELECT DISTINCT l_partkey FROM lineitem),
h AS (
  SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
           / CAST({int(_HASH_SPACE)} AS DOUBLE) AS hv
  FROM d
),
mink AS (SELECT hv FROM h ORDER BY hv LIMIT {KMV_K})
SELECT {KMV_K} AS k, MAX(hv) AS kth_hash,
       ({KMV_K} - 1) / MAX(hv) AS est_distinct,
       (SELECT COUNT(*) FROM d) AS exact_distinct
FROM mink
"""


KMV_SETOP_K = 64


def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET OPERATIONS: estimate |A|, |B|, |A∪B| and |A∩B| for
    the click vs purchase audiences from three k-minimum-value sketches
    — the mergeable-summary algebra (Beyer et al., "On Synopses for
    Distinct-Value Estimation Under Multiset Operations") that lets a
    1000-executor audit answer overlap questions from kilobyte summaries
    instead of re-shuffling distinct keys per question.

    Union sketch = k smallest of the merged per-set sketches (KMV's
    closure property); intersection via the Jaccard scale-up
    ρ·est_union where ρ = fraction of union-sketch hashes present in
    both input sketches. Small-set exactness: a sketch holding fewer
    than k hashes IS its set, so the estimate switches to the sketch
    size (both engines apply the same rule). md5-derived hashes make
    every estimate bit-reproducible, so the oracle verifies estimates
    AND exact counts. Exact counts ride along from one distinct pass.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type", "user_id")
        .distinct()
        # 3 sketch builds read this distinct audience — pin: one
        # scan+distinct shuffle, not three
        .localCheckpoint(eager=False)
    )
    hv = md5_int("user_id", 15).cast("double") / F.lit(_HASH_SPACE)
    hashed = ev.select("event_type", hv.alias("hv")).localCheckpoint(eager=False)
    a = hashed.filter(F.col("event_type") == "click").select("hv").orderBy(
        "hv"
    ).limit(KMV_SETOP_K)
    b = hashed.filter(F.col("event_type") == "purchase").select("hv").orderBy(
        "hv"
    ).limit(KMV_SETOP_K)
    u = a.union(b).distinct().orderBy("hv").limit(KMV_SETOP_K)
    flagged = (
        u.join(a.withColumn("in_a", F.lit(1)), "hv", "left")
        .join(b.withColumn("in_b", F.lit(1)), "hv", "left")
        .agg(
            F.count(F.lit(1)).alias("n_u"),
            F.max("hv").alias("kth_u"),
            F.sum(
                (
                    F.col("in_a").isNotNull() & F.col("in_b").isNotNull()
                ).cast("int")
            ).alias("n_both"),
        )
    )
    a_stats = a.agg(F.count(F.lit(1)).alias("n_a"), F.max("hv").alias("kth_a"))
    b_stats = b.agg(F.count(F.lit(1)).alias("n_b"), F.max("hv").alias("kth_b"))
    per_user = ev.groupBy("user_id").agg(
        F.count_distinct("event_type").alias("n_types")
    )
    exact = per_user.agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.sum((F.col("n_types") == 2).cast("int")).alias("exact_inter"),
    )
    # one global aggregate: a set with no users counts 0, not no row
    exact_ab = ev.agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("exact_a"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("exact_b"),
    )
    k = KMV_SETOP_K
    est = F.lit(float(k - 1))

    def kmv_est(n_col: str, kth_col: str):
        return F.when(
            F.col(n_col) < k, F.col(n_col).cast("double")
        ).otherwise(est / F.col(kth_col))

    return (
        flagged.crossJoin(a_stats)
        .crossJoin(b_stats)
        .crossJoin(exact)
        .crossJoin(exact_ab)
        .select(
            F.lit(k).alias("k"),
            kmv_est("n_a", "kth_a").alias("est_a"),
            "exact_a",
            kmv_est("n_b", "kth_b").alias("est_b"),
            "exact_b",
            kmv_est("n_u", "kth_u").alias("est_union"),
            "exact_union",
            (
                F.col("n_both").cast("double")
                * kmv_est("n_u", "kth_u")
                / F.col("n_u")
            ).alias("est_inter"),
            "exact_inter",
        )
    )


SKETCH_KMV_SETOPS_SQL = f"""
WITH ev AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE event_type IN ('click', 'purchase')
),
h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           / CAST({int(_HASH_SPACE)} AS DOUBLE) AS hv
  FROM ev
),
a AS (SELECT hv FROM h WHERE event_type = 'click' ORDER BY hv LIMIT {KMV_SETOP_K}),
b AS (SELECT hv FROM h WHERE event_type = 'purchase' ORDER BY hv LIMIT {KMV_SETOP_K}),
u AS (
  SELECT DISTINCT hv FROM (SELECT hv FROM a UNION ALL SELECT hv FROM b)
  ORDER BY hv LIMIT {KMV_SETOP_K}
),
flagged AS (
  SELECT COUNT(*) AS n_u, MAX(u.hv) AS kth_u,
         SUM(CASE WHEN ia.hv IS NOT NULL AND ib.hv IS NOT NULL
                  THEN 1 ELSE 0 END) AS n_both
  FROM u
  LEFT JOIN a ia ON ia.hv = u.hv
  LEFT JOIN b ib ON ib.hv = u.hv
),
a_stats AS (SELECT COUNT(*) AS n_a, MAX(hv) AS kth_a FROM a),
b_stats AS (SELECT COUNT(*) AS n_b, MAX(hv) AS kth_b FROM b),
exact AS (
  SELECT COUNT(*) AS exact_union,
         CAST(SUM(CASE WHEN n_types = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_inter
  FROM (SELECT user_id, COUNT(DISTINCT event_type) AS n_types
        FROM ev GROUP BY user_id)
),
ea AS (SELECT COUNT(*) AS exact_a FROM ev WHERE event_type = 'click'),
eb AS (SELECT COUNT(*) AS exact_b FROM ev WHERE event_type = 'purchase')
SELECT {KMV_SETOP_K} AS k,
       CASE WHEN n_a < {KMV_SETOP_K} THEN CAST(n_a AS DOUBLE)
            ELSE CAST({KMV_SETOP_K - 1} AS DOUBLE) / kth_a END AS est_a,
       exact_a,
       CASE WHEN n_b < {KMV_SETOP_K} THEN CAST(n_b AS DOUBLE)
            ELSE CAST({KMV_SETOP_K - 1} AS DOUBLE) / kth_b END AS est_b,
       exact_b,
       CASE WHEN n_u < {KMV_SETOP_K} THEN CAST(n_u AS DOUBLE)
            ELSE CAST({KMV_SETOP_K - 1} AS DOUBLE) / kth_u END AS est_union,
       exact_union,
       CAST(n_both AS DOUBLE)
         * (CASE WHEN n_u < {KMV_SETOP_K} THEN CAST(n_u AS DOUBLE)
                 ELSE CAST({KMV_SETOP_K - 1} AS DOUBLE) / kth_u END)
         / n_u AS est_inter,
       exact_inter
FROM flagged, a_stats, b_stats, exact, ea, eb
"""


HLL_RSD = 0.05  # requested relative standard deviation
HLL_ERR_BOUND_PPM = 100_000  # asserted |est-exact|/exact bound: 10%


def sketch_hll_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native HLL++ distinct-count error check: Spark's
    ``approx_count_distinct`` (the engine-side mergeable sketch you'd
    actually run at 100 TB — constant memory per group, no shuffle of
    distinct keys) against the exact distinct count, per event type.

    HLL register values are maxima of a deterministic hash — order- and
    partitioning-independent — so the estimate is reproducible run to
    run; but it is engine-SPECIFIC (DuckDB's approx_distinct uses a
    different sketch), so the oracle-checkable surface is the exact
    count plus the ERROR-BOUND verdict, not the estimate itself: the
    query asserts |est − exact| ≤ 10% · exact (double the requested 5%
    rsd) and emits the boolean. KMV (sketch_kmv_distinct) remains the
    bit-reproducible cross-engine sketch; this one validates the native
    fast path."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    per_type = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct"),
        F.approx_count_distinct("user_id", HLL_RSD).alias("est"),
    )
    err_ppm = F.expr(
        "abs(est - exact_distinct) * 1000000 DIV exact_distinct"
    )
    return (
        per_type.select(
            "event_type",
            "exact_distinct",
            (err_ppm <= HLL_ERR_BOUND_PPM).alias("within_bound"),
        )
        .orderBy("event_type")
    )


SKETCH_HLL_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct,
       TRUE AS within_bound
FROM events GROUP BY event_type ORDER BY event_type
"""


GK_PCTS_PPM = [250_000, 500_000, 750_000, 950_000]
GK_ACCURACY = 10_000  # percentile_approx accuracy ⇒ rank error ≤ n/accuracy


def sketch_gk_quantile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native quantile-sketch error check: Spark's ``percentile_approx``
    (the Greenwald-Khanna mergeable sketch — constant memory per group,
    ONE pass, no global sort; the only sane quantile at 100 TB) audited
    against its published rank guarantee, per requested percentile over
    ``l_extendedprice``.

    Like ``sketch_hll_error``, the sketch internals are engine-specific,
    so the oracle-checkable surface is the EXACT quantile (k-th smallest
    via row_number — no interpolation, engine-portable) plus
    ``within_bound``: the approx value's true rank interval must overlap
    the target rank ± (n/accuracy + 1). Verifying the rank needs only a
    broadcast of the 4 approx values against the column — one extra
    aggregate, no second sort.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    pcts = [p / 1_000_000 for p in GK_PCTS_PPM]
    approx = li.agg(
        F.percentile_approx("v", pcts, GK_ACCURACY).alias("avs"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.posexplode(
            F.arrays_zip(
                F.array(*[F.lit(p) for p in GK_PCTS_PPM]).alias("pct_ppm"),
                F.col("avs").alias("av"),
            )
        ).alias("pos", "z"),
        "n",
    ).select(
        F.col("z.pct_ppm").alias("pct_ppm"), F.col("z.av").alias("av"), "n"
    )
    ranks = (
        li.crossJoin(F.broadcast(approx))
        .groupBy("pct_ppm", "av", "n")
        .agg(
            F.sum((F.col("v") < F.col("av")).cast("long")).alias("rank_lo"),
            F.sum((F.col("v") <= F.col("av")).cast("long")).alias("rank_hi"),
        )
    )
    # n_all stays a bare li.agg(count): it compiles to a parquet
    # metadata-only row count (near-free), where deriving it from the
    # bucket ledger would re-run the full aggregation inside the
    # broadcast-build job (r13 A/B: 1.13 → 1.27 s — rejected).
    n_all = li.agg(F.count(F.lit(1)).alias("n_all"))
    # Exact k-th smallest WITHOUT a global single-task sort: bucket by
    # value range, count per bucket, cumulate the tiny bucket table into
    # rank offsets (post-aggregate window), then rank within each bucket
    # in parallel. Value ties can't straddle a bucket boundary, so
    # offset + within-bucket row_number is a valid global rank (ties take
    # arbitrary order in both forms — only the VALUE at rank k is read,
    # and tied rows share it).
    # r12: only a bucket whose rank interval (roff, roff+bn] CONTAINS a
    # target rank can produce an answer row — join the |targets|-row
    # table onto the bucket ledger FIRST, so the per-bucket rank window
    # sorts ~|targets| buckets instead of the whole column (guide §2.4:
    # the full-table exchange+sort feeding the window disappears; same
    # values by the same tie argument).
    # r13: the bucket key is 100× finer (DIV 10) so the per-bucket rank
    # sort task — the one task whose size scales with the table — holds
    # ~1/100 of its former rows, while the ledger stays DOMAIN-bounded
    # (#buckets = value range / 10, independent of row count; the
    # cumulative window over it is one trivial task). Same tie argument
    # as before: value ties cannot straddle a bucket boundary.
    lib = li.withColumn("b", F.expr("CAST(v AS BIGINT) DIV 10"))
    per_b = lib.groupBy("b").agg(F.count(F.lit(1)).alias("bn"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    offsets = per_b.select(
        "b", "bn", (F.sum("bn").over(wb) - F.col("bn")).alias("roff")
    )
    targets = (
        spark.createDataFrame(
            [(p,) for p in GK_PCTS_PPM], "pct_ppm bigint"
        )
        .crossJoin(F.broadcast(n_all))
        .withColumn(
            "k", F.expr("cast(ceil(n_all * pct_ppm / 1000000e0) as bigint)")
        )
    )
    tbuckets = offsets.join(
        F.broadcast(targets),
        (targets["k"] > F.col("roff")) & (targets["k"] <= F.col("roff") + F.col("bn")),
    ).select("b", "roff", "k", "pct_ppm")
    # partition by (b, pct_ppm): a bucket matched by two targets carries
    # one full copy of its rows PER target after the join, and each
    # target must rank its own copy independently
    wv = Window.partitionBy("b", "pct_ppm").orderBy("v")
    exact_vals = (
        lib.join(F.broadcast(tbuckets), "b")
        .withColumn("rk", F.col("roff") + F.row_number().over(wv))
        .filter(F.col("rk") == F.col("k"))
        .select("pct_ppm", F.col("v").alias("exact_value"))
    )
    err_allow = F.expr(f"n div {GK_ACCURACY} + 1")
    target = F.expr("cast(ceil(n * pct_ppm / 1000000e0) as bigint)")
    checked = ranks.select(
        "pct_ppm",
        (
            (F.col("rank_lo") <= target + err_allow)
            & (F.col("rank_hi") >= target - err_allow)
        ).alias("within_bound"),
    )
    return (
        exact_vals.join(checked, "pct_ppm")
        .select("pct_ppm", "exact_value", "within_bound")
        .orderBy("pct_ppm")
    )


SKETCH_GK_SQL = f"""
WITH ranked AS (
  SELECT l_extendedprice AS v,
         ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rk,
         COUNT(*) OVER () AS n_all
  FROM lineitem
)
SELECT p.pct_ppm, r.v AS exact_value, TRUE AS within_bound
FROM (VALUES {', '.join(f'({p})' for p in GK_PCTS_PPM)}) p(pct_ppm)
JOIN ranked r ON r.rk = CAST(CEIL(r.n_all * p.pct_ppm / 1000000.0) AS BIGINT)
ORDER BY p.pct_ppm
"""


# DDSketch percentiles audited per return flag (ppm).
DD_PCTS_PPM = (500_000, 900_000, 990_000)


def sketch_ddsketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch (Masson, Rim & Lee, VLDB 2019: "DDSketch: a fast and
    fully-mergeable quantile sketch with relative-error guarantees"),
    base-2 variant: values fall into logarithmic buckets
    [2^k, 2^{{k+1}}) and a quantile is answered from the cumulative
    bucket histogram — the sketch whose buckets MERGE by addition
    across partitions/shards (the property that matters at 100 TB:
    per-executor histograms combine map-side, unlike an exact
    quantile's global sort), with a RELATIVE error bound (γ = 2 here)
    where GK/percentile_approx bounds RANK error.

    Log-free exactness: the published sketch computes bucket indices
    as ⌈log_γ x⌉; with γ = 2 the index is the integer binary magnitude
    ``length(bin(cents)) − 1`` — floor(log₂) by string length, no libm
    anywhere (both engines print unpadded binary), and the bucket
    bounds are shiftleft powers of two. The audit row reports, per
    (l_returnflag, percentile): the population, the ceil-rank target,
    the answering bucket's index and its [lo, hi] value bounds — the
    sketch's guarantee that the true quantile (in cents) lies inside.

    Plan shape: one lineitem scan → (flag, bucket) partial agg (the
    histogram — bucket counts collapse map-side) → cumulative window
    over the bounded per-flag ledger (≤ 64 buckets per flag) → a 3-row
    percentile literal joined in → min-bucket-covering-rank per
    (flag, pct). Nothing data-sized past the first aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    hist = (
        li.select("l_returnflag", F.expr("length(bin(cents)) - 1").alias("k"))
        .groupBy("l_returnflag", "k")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_flag = Window.partitionBy("l_returnflag")
    w_cum = w_flag.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ledger = hist.withColumn("n", F.sum("cnt").over(w_flag)).withColumn(
        "cum", F.sum("cnt").over(w_cum)
    )
    pcts = spark.createDataFrame(
        [(p,) for p in DD_PCTS_PPM], "pct_ppm bigint"
    )
    return (
        ledger.crossJoin(F.broadcast(pcts))
        .withColumn(
            "target_rank",
            F.expr("(n * pct_ppm + 999999) div 1000000"),
        )
        .filter(F.col("cum") >= F.col("target_rank"))
        .groupBy("l_returnflag", "pct_ppm", "n", "target_rank")
        .agg(F.min("k").alias("bucket_k"))
        .select(
            "l_returnflag",
            "pct_ppm",
            "n",
            "target_rank",
            "bucket_k",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(bucket_k AS INT))"
            ).alias("est_lo_cents"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(bucket_k + 1 AS INT)) - 1"
            ).alias("est_hi_cents"),
        )
        .orderBy("l_returnflag", "pct_ppm")
    )


SKETCH_DDSKETCH_SQL = f"""
WITH vals AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM lineitem
),
hist AS (
  SELECT l_returnflag, length(bin(cents)) - 1 AS k, COUNT(*) AS cnt
  FROM vals GROUP BY 1, 2
),
ledger AS (
  SELECT l_returnflag, k, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n,
         CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM hist
),
tgt AS (
  SELECT l.*, p.pct_ppm,
         (n * p.pct_ppm + 999999) // 1000000 AS target_rank
  FROM ledger l CROSS JOIN
       (VALUES {', '.join(f'({p})' for p in DD_PCTS_PPM)}) p(pct_ppm)
)
SELECT l_returnflag, pct_ppm, n, target_rank,
       MIN(k) AS bucket_k,
       (1::BIGINT << CAST(MIN(k) AS INTEGER)) AS est_lo_cents,
       (1::BIGINT << CAST(MIN(k) + 1 AS INTEGER)) - 1 AS est_hi_cents
FROM tgt WHERE cum >= target_rank
GROUP BY l_returnflag, pct_ppm, n, target_rank
ORDER BY l_returnflag, pct_ppm
"""


def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the spark.sql entry point (every other query
    uses the DataFrame API; this proves the SQL front door plans the same
    one-shuffle expand). Three explicit sets — per segment, per status,
    and the cross — in one pass."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
               COALESCE(o_orderstatus, 'ALL') AS status,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus),
                                (c_mktsegment, o_orderstatus))
        ORDER BY segment, status
        """
    )


Q_SQL_GROUPING_SETS_SQL = """
SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
       COALESCE(o_orderstatus, 'ALL') AS status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus),
                        (c_mktsegment, o_orderstatus))
ORDER BY segment, status
"""


HIST_BIN_WIDTH = 10.0
HIST_N_BINS = 10


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per event type — integer
    binning (floor division) so bin assignment is engine-exact; values
    beyond the last bin clamp into it. One partial-agg shuffle."""
    ev = load_table(spark, sf_dir, "events")
    bin_id = F.least(
        F.floor(F.col("value") / HIST_BIN_WIDTH).cast("int"),
        F.lit(HIST_N_BINS - 1),
    )
    return (
        ev.groupBy("event_type", bin_id.alias("bin"))
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "bin")
    )


Q_HISTOGRAM_SQL = f"""
SELECT event_type,
       CAST(least(CAST(FLOOR(value / {HIST_BIN_WIDTH}) AS INTEGER),
                  {HIST_N_BINS - 1}) AS INTEGER) AS bin,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY event_type, bin
"""


def q_corr_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + OLS slope/intercept of l_extendedprice on
    l_quantity, from EXPLICIT decimal moment sums (Σx, Σy, Σxy, Σx², n)
    rather than the built-in streaming estimators — the formula over
    order-independent exact sums is bit-identical across engines, which
    corr()/covar_samp() are not. Still one partial-agg pass."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    vy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    slope = cov / vx
    # The moment sums are identical doubles in both engines (decimal-exact
    # before the cast), but the final expression is where compilers may
    # fuse multiplies (FMA) differently — observed as a 2e-19 drift in
    # pearson_r and 7e-12 in the intercept at sf0.1. Round each readout
    # to a scale matched to its magnitude (r ∈ [-1,1] → 12 decimals;
    # slope/intercept are O(10³) → 6 decimals ≈ 10 significant digits)
    # so contraction-level noise is erased in both engines.
    return m.select(
        F.round(cov / F.sqrt(vx * vy), 12).alias("pearson_r"),
        F.round(slope, 6).alias("ols_slope"),
        F.round(
            F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n"), 6
        ).alias("ols_intercept"),
        F.col("n").cast("long").alias("n_rows"),
    )


Q_CORR_OLS_SQL = """
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
  FROM lineitem
)
SELECT ROUND((sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 12) AS pearson_r,
       ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS ols_slope,
       ROUND(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx / n, 6) AS ols_intercept,
       CAST(n AS BIGINT) AS n_rows
FROM m
"""


def q_rank_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK / DENSE_RANK over genuinely tied keys (integer quantities per
    return flag): rank gaps after ties and the dense variant without —
    the tie-semantics counterpart to the row_number queries."""
    li = load_table(spark, sf_dir, "lineitem")
    per_qty = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("int").alias("qty")
    ).agg(F.count("*").alias("n_lines"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n_lines"), F.asc("qty"))
    return (
        per_qty.select(
            "l_returnflag",
            "qty",
            "n_lines",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("dense_rnk"),
        )
        .filter(F.col("rnk") <= 10)
        .orderBy("l_returnflag", "rnk", "qty")
    )


Q_RANK_TIES_SQL = """
WITH per_qty AS (
  SELECT l_returnflag, CAST(l_quantity AS INTEGER) AS qty, COUNT(*) AS n_lines
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, qty, n_lines,
       CAST(RANK() OVER w AS INTEGER) AS rnk,
       CAST(DENSE_RANK() OVER w AS INTEGER) AS dense_rnk
FROM per_qty
WINDOW w AS (PARTITION BY l_returnflag ORDER BY n_lines DESC, qty)
QUALIFY rnk <= 10
ORDER BY l_returnflag, rnk, qty
"""


ZSCORE_THRESHOLD = 2.5


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier detection: group mean/std from exact
    decimal moments (same determinism argument as q_corr_ols), then a
    map-side flag pass over the broadcast per-group stats — the standard
    two-pass anomaly scan, no per-row window needed."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    stats = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(v).cast("double").alias("sv"),
        F.sum(v * v).cast("double").alias("svv"),
    )
    # one event (n - 1 = 0) or a constant value (std = 0) gives NULL,
    # as the oracle's x / 0 does
    mean = F.col("sv") / F.col("n")
    var = F.try_divide(
        F.col("svv") - F.col("sv") * F.col("sv") / F.col("n"), F.col("n") - 1
    )
    stats = stats.select("et", mean.alias("mean"), F.sqrt(var).alias("std"))
    z = F.try_divide(F.col("value") - F.col("mean"), F.col("std"))
    return (
        ev.join(F.broadcast(stats), ev.event_type == F.col("et"))
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > ZSCORE_THRESHOLD)
        .orderBy("event_id")
    )


Q_ZSCORE_SQL = f"""
WITH stats AS (
  SELECT event_type AS et,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
         CAST(SUM(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS svv
  FROM events GROUP BY event_type
),
s AS (
  SELECT et, sv / n AS mean, sqrt((svv - sv * sv / n) / (n - 1)) AS std
  FROM stats
)
SELECT event_id, event_type, value, (value - mean) / std AS zscore
FROM events JOIN s ON event_type = et
WHERE abs((value - mean) / std) > {ZSCORE_THRESHOLD}
ORDER BY event_id
"""


def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK + CUME_DIST — the two distribution-position window
    functions (completing the ranking family next to rank/dense_rank/
    ntile/row_number). Both are exact ratios of window-frame integers
    ((rank-1)/(n-1), rows≤current/n), so the doubles are bit-identical
    across engines. One shuffle on the partition key."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume_dist"),
        )
        .orderBy("o_orderkey")
    )


Q_PERCENT_RANK_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume_dist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
"""


def q_unpivot_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt): per-status order aggregates spread over
    three measure columns, melted to (status, metric, value) rows with
    ``stack`` — the inverse of q_pivot_user_events. The melt is a
    map-side expand after one partial-agg shuffle; values unify to
    double (counts are exact small ints, sums decimal-accumulated)."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("double").alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    return (
        wide.select(
            "o_orderstatus",
            F.expr(
                "stack(3, 'n_orders', n_orders, 'sum_price', sum_price,"
                " 'max_price', max_price) AS (metric, value)"
            ),
        )
        .orderBy("o_orderstatus", "metric")
    )


Q_UNPIVOT_SQL = f"""
WITH wide AS (
  SELECT o_orderstatus,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         {dsum_sql('o_totalprice')} AS sum_price,
         MAX(o_totalprice) AS max_price
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, metric, value FROM (
  SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM wide
  UNION ALL
  SELECT o_orderstatus, 'sum_price', sum_price FROM wide
  UNION ALL
  SELECT o_orderstatus, 'max_price', max_price FROM wide
)
ORDER BY o_orderstatus, metric
"""


QUANTILE_PCTS = (25, 50, 75, 95)


def _nearest_rank(p: int) -> Column:
    """The rank of a group's nearest-rank (type-1) p-th percentile among
    its ``cnt`` rows: ceil(cnt·p/100), in integer arithmetic."""
    return F.expr(f"(cnt * {p} + 99) div 100")


def q_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank quantiles (p25/p50/p75/p95) of order value per
    priority class — one sort-window plus one conditional aggregate.

    Nearest-rank (type-1) quantiles use ONLY integer rank arithmetic
    (rank_p = ceil(n·p) = (n·p + 99) div 100), sidestepping the
    interpolation formulas whose floating rounding differs between
    engines; the quantile VALUE is an actual data point, compared
    bit-exactly. One shuffle on the group key; the window sort is
    reused by the aggregate. At 100 TB the same plan holds — rank
    selection is a filter, not a second sort."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    aggs = [
        F.min(F.when(F.col("rn") == _nearest_rank(p), F.col("o_totalprice"))).alias(
            f"p{p}"
        )
        for p in QUANTILE_PCTS
    ]
    return (
        ranked(orders, "o_orderpriority", "o_totalprice", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(*aggs, F.max("cnt").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


_QUANT_COLS = ",\n       ".join(
    f"MIN(CASE WHEN rn = (cnt * {p} + 99) // 100 THEN o_totalprice END) AS p{p}"
    for p in QUANTILE_PCTS
)
Q_QUANTILES_SQL = f"""
WITH r AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM orders
)
SELECT o_orderpriority,
       {_QUANT_COLS},
       MAX(cnt) AS n_orders
FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


MAD_K = 3.0


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median absolute
    deviation (MAD) instead of stddev — resistant to the very outliers
    being hunted (unlike ``q_zscore_outliers``, its parametric sibling).

    Two exact-median passes (rank arithmetic, engine-portable): median
    of value per type, then median of |value − median|; a row is an
    outlier when |value − median| > 3·MAD. Each pass is one shuffle on
    the type key; medians join back as a broadcast (one row per type).
    The comparison arithmetic is two IEEE ops on identical doubles —
    deterministic across engines."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = exact_median(ev, "event_type", "value", "event_id", "med")
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = exact_median(dev, "event_type", "adev", "event_id", "mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.col("adev") > MAD_K * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


Q_MAD_SQL = f"""
WITH {EV_US},
r1 AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM ev
),
med AS (
  SELECT event_type, AVG(value) AS med FROM r1
  WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY event_type
),
dev AS (
  SELECT ev.event_type, ev.event_id, ev.value, med.med,
         ABS(ev.value - med.med) AS adev
  FROM ev JOIN med USING (event_type)
),
r2 AS (
  SELECT event_type, adev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM dev
),
mad AS (
  SELECT event_type, AVG(adev) AS mad FROM r2
  WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY event_type
)
SELECT event_type, MAX(med) AS med, MAX(mad) AS mad,
       CAST(SUM(CASE WHEN adev > {MAD_K} * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       COUNT(*) AS n
FROM dev JOIN mad USING (event_type)
GROUP BY event_type ORDER BY event_type
"""


RANGE_FRAME_US = 24 * 3600 * 1_000_000  # trailing 24h in microseconds


def q_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-24-hour rolling sum via a RANGE window frame
    over integer microseconds — the value-based frame (all rows within
    the time interval), not the ROWS frame (fixed row count) that
    ``q_moving_avg`` uses. Frame bounds are event-time values, so ties
    are handled identically by definition in any engine. One shuffle on
    user_id; decimal accumulation keeps the frame sums engine-exact."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-RANGE_FRAME_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("trail_24h"),
    ).orderBy("event_id")


Q_RANGE_FRAME_SQL = f"""
WITH {EV_US}
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN {RANGE_FRAME_US} PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trail_24h
FROM ev ORDER BY event_id
"""


def q_nested_collect_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-type round trip: nest each order's lineitems into an
    array<struct> (the document/denormalized shape parquet lakes store),
    compute per-order stats FROM the nested form with array lambdas
    (no re-explode for the size/sum), then verify the shape by
    re-flattening one field. Output: per order-priority, order count,
    avg items per order (fixed-point), and the decimal-exact quantity
    total recovered from inside the structs.

    The nesting is one groupBy(orderkey) shuffle (collect_list is a
    partial agg); the in-array aggregation is a projection — at 100 TB
    the win of the nested layout is exactly this: per-entity stats
    without a second shuffle or join back to the item table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    nested = (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("l_linenumber", "l_quantity"))
            ).alias("items")
        )
    )
    per_order = nested.join(
        orders, nested.l_orderkey == orders.o_orderkey
    ).select(
        "o_orderpriority",
        F.size("items").alias("n_items"),
        F.aggregate(
            "items",
            F.lit(0).cast("decimal(18,2)"),
            # decimal + widens the scale, but aggregate() requires the
            # merge to return the accumulator type — cast back (order
            # quantity totals are nowhere near the 18,2 bound)
            lambda acc, it: (acc + it["l_quantity"].cast("decimal(18,2)")).cast(
                "decimal(18,2)"
            ),
        ).alias("qty"),
    )
    return (
        per_order.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr("sum(n_items) * 1000000 DIV count(1)").alias("avg_items_fp"),
            F.sum("qty").cast("double").alias("qty_total"),
        )
        .orderBy("o_orderpriority")
    )


Q_NESTED_SQL = """
WITH nested AS (
  SELECT l_orderkey,
         list_sort(list(struct_pack(l_linenumber := l_linenumber,
                                    l_quantity := l_quantity))) AS items
  FROM lineitem GROUP BY l_orderkey
),
per_order AS (
  SELECT o_orderpriority,
         len(items) AS n_items,
         list_sum(list_transform(items,
           it -> CAST(it.l_quantity AS DECIMAL(18,2)))) AS qty
  FROM nested JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST((SUM(n_items) * 1000000) // COUNT(*) AS BIGINT) AS avg_items_fp,
       CAST(SUM(qty) AS DOUBLE) AS qty_total
FROM per_order GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


CARD_SAMPLE_MOD = 8  # 1-in-8 key sample for the estimator


def sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation — what a cost-based planner needs before
    committing to a join strategy. Ground truth: the events self-join on
    user_id produces Σ cnt(u)² rows. Estimate: the same sum over a
    deterministic 1-in-8 HASH sample of keys, scaled by 8 — key-level
    sampling (not row-level, which breaks quadratic statistics).

    One count aggregation feeds both figures; everything else is a
    single-row fold. Integer arithmetic end to end, so even the
    ESTIMATOR is engine-exact and hash-verified — the sampling error
    (estimate vs exact, visible in the output) is the statistical story.
    """
    cnts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # content-addressed key sample (md5, the engine-portable hash used by
    # every sampler in operators.pipeline — xxhash64 has no oracle twin)
    in_sample = md5_int("user_id", 8) % CARD_SAMPLE_MOD == 0
    return cnts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("exact_join_rows"),
        F.sum(F.when(in_sample, 1).otherwise(0)).alias("sampled_keys"),
        (
            F.sum(F.when(in_sample, F.col("cnt") * F.col("cnt")).otherwise(0))
            * CARD_SAMPLE_MOD
        ).alias("estimated_join_rows"),
    )


SKETCH_JOIN_CARD_SQL = f"""
WITH ev AS (SELECT user_id FROM events),
cnts AS (SELECT user_id, COUNT(*) AS cnt FROM ev GROUP BY user_id)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(cnt * cnt) AS BIGINT) AS exact_join_rows,
       CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                          % {CARD_SAMPLE_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS sampled_keys,
       CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                          % {CARD_SAMPLE_MOD} = 0 THEN cnt * cnt ELSE 0 END)
            * {CARD_SAMPLE_MOD} AS BIGINT) AS estimated_join_rows
FROM cnts
"""


AMS_R = 16  # independent sign estimators averaged
# sign_r(u) = ±1 from the low bit of md5(u ':' r) — the engine-portable
# hash every sampler here uses; production swaps in a 4-wise family
# (xxhash-based), but exactness — the oracle contract — only needs
# determinism, and md5's mixing keeps the estimator unbiased in practice.


def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon–Matias–Szegedy 1996, public) second-moment sketch:
    estimate F₂ = Σ cnt(u)² of the event stream's user-frequency vector
    from {AMS_R} random-sign counters — the O(1)-memory, MERGEABLE
    alternative to materializing per-key counts, and the third
    join-size tool next to ``sketch_join_cardinality``'s key sampling
    (this one needs no second pass over keys and merges across
    partitions/streams by vector addition).

    Each estimator keeps Z_r = Σ_u sign_r(u)·cnt(u); E[Z_r²] = F₂. The
    sketch update is sign_r(event) summed per estimator — ONE partial
    aggregate over (r, sign) with a fixed {AMS_R}× fanout, no per-key
    state, which is why it survives streams whose key space doesn't fit
    anywhere. The estimate averages Z² over estimators with integer
    division; exact F₂ (one extra key-count pass, for the error
    readout only) and the ppm error complete the row. All arithmetic
    BIGINT — both engines agree bit-for-bit, so even the ESTIMATOR is
    hash-verified."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    # r12: the sign depends only on (user_id, r), so hash PER USER, not
    # per event — the per-user count table (which the exact-F₂ readout
    # needs anyway, and whose agg subtree AQE reuses across both
    # branches) is built first and Z_r = Σ_u sign_r(u)·cnt(u): the md5
    # fanout shrinks by the events-per-user factor while every Z_r is
    # the identical integer (Σ_u sign·cnt = Σ_events sign).
    ucnt = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    key = F.concat(
        F.col("user_id").cast("string"), F.lit(":"), F.col("r").cast("string")
    )
    est = ucnt.select(
        "user_id",
        "cnt",
        F.explode(F.sequence(F.lit(0), F.lit(AMS_R - 1))).alias("r"),
    ).select(
        "r",
        ((1 - 2 * (md5_int(key, 8) % 2)) * F.col("cnt")).alias("sz"),
    )
    z = est.groupBy("r").agg(F.sum("sz").alias("z"))
    ams = z.agg(
        F.expr(f"sum(z * z) div {AMS_R}").alias("ams_f2_est"),
    )
    exact = ucnt.agg(F.sum(F.col("cnt") * F.col("cnt")).alias("exact_f2"))
    return ams.crossJoin(F.broadcast(exact)).select(
        "exact_f2",
        "ams_f2_est",
        F.expr(
            "abs(ams_f2_est - exact_f2) * 1000000 div exact_f2"
        ).alias("err_ppm"),
    )


SKETCH_AMS_SQL = f"""
WITH ev AS (SELECT user_id FROM events),
est AS (
  SELECT r.r,
         1 - 2 * (('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'
                                  || CAST(r.r AS VARCHAR)), 1, 8))::BIGINT
                  % 2) AS sign
  FROM ev CROSS JOIN (SELECT UNNEST(range({AMS_R})) AS r) AS r
),
z AS (SELECT r, SUM(sign) AS z FROM est GROUP BY r),
ams AS (SELECT CAST(SUM(z * z) // {AMS_R} AS BIGINT) AS ams_f2_est FROM z),
exact AS (
  SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS exact_f2
  FROM (SELECT COUNT(*) AS cnt FROM ev GROUP BY user_id)
)
SELECT exact_f2, ams_f2_est,
       CAST(abs(ams_f2_est - exact_f2) * 1000000 // exact_f2 AS BIGINT)
         AS err_ppm
FROM ams, exact
"""


def q_key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics per fact table key — the numbers that
    decide between plain shuffle, AQE skew split, and salting: max and
    p99/p50 key-frequency ratio (fixed-point), plus the share of rows
    held by the single hottest key (per-million). Orders per customer.

    One count aggregation + one rank window over the (small) key-count
    table; all integer arithmetic."""
    freqs = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    at = {p: F.col("rn") == _nearest_rank(p) for p in (50, 99, 100)}
    picks = ranked(freqs, None, "freq", "o_custkey").filter(at[50] | at[99] | at[100])
    return picks.agg(
        F.max("cnt").alias("n_keys"),
        *[
            F.max(F.when(at[p], F.col("freq"))).alias(name)
            for p, name in ((50, "p50_cnt"), (99, "p99_cnt"), (100, "max_cnt"))
        ],
    ).select(
        "n_keys",
        "p50_cnt",
        "p99_cnt",
        "max_cnt",
        F.expr("p99_cnt * 1000000 DIV p50_cnt").alias("p99_over_p50_fp"),
    )


Q_KEY_SKEW_SQL = """
WITH cnts AS (
  SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, o_custkey) AS rn,
         COUNT(*) OVER () AS n
  FROM cnts
),
picks AS (
  SELECT * FROM ranked
  WHERE rn = (n * 50 + 99) // 100 OR rn = (n * 99 + 99) // 100 OR rn = n
),
agg AS (
  SELECT MAX(n) AS n_keys,
         MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN cnt END) AS p50_cnt,
         MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN cnt END) AS p99_cnt,
         MAX(CASE WHEN rn = n THEN cnt END) AS max_cnt
  FROM picks
)
SELECT n_keys, p50_cnt, p99_cnt, max_cnt,
       (p99_cnt * 1000000) // p50_cnt AS p99_over_p50_fp
FROM agg
"""


DRIFT_SPLIT_TS = "2024-01-16 00:00:00"  # fixture mid-point
DRIFT_BINS = 10
DRIFT_BIN_WIDTH = 50.0  # covers the 0..490 value range


def q_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection between two time periods — the data
    monitoring an ML pipeline runs before retraining. Per event_type:
    value histograms of the first vs second half-month, compared by L1
    distance over NORMALIZED bin shares in parts-per-million (the PSI
    idea without its logarithm, which is libm and not oracle-exact).

    One scan, one groupBy(type, bin) with conditional period counts, one
    groupBy(type) fold — shares and the L1 sum are pure integer
    arithmetic (ppm DIV), so the drift scores hash-match the oracle."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    mid = F.lit(DRIFT_SPLIT_TS).cast("timestamp")
    binned = ev.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / DRIFT_BIN_WIDTH).cast("int"),
            F.lit(DRIFT_BINS - 1),
        ).alias("bin"),
        (F.col("ts") < mid).alias("is_a"),
    )
    per_bin = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("b"),
    )
    tot = per_bin.groupBy("event_type").agg(
        F.sum("a").alias("ta"), F.sum("b").alias("tb")
    )
    shares = per_bin.join(tot, "event_type").select(
        "event_type",
        "bin",
        # a period with no events has no shares: NULL, as the oracle's // 0
        F.expr("a * 1000000 DIV nullif(ta, 0)").alias("share_a_ppm"),
        F.expr("b * 1000000 DIV nullif(tb, 0)").alias("share_b_ppm"),
    )
    return (
        shares.groupBy("event_type")
        .agg(
            F.sum(F.abs(F.col("share_a_ppm") - F.col("share_b_ppm"))).alias(
                "l1_drift_ppm"
            ),
            F.count(F.lit(1)).alias("n_bins"),
        )
        .orderBy("event_type")
    )


Q_DRIFT_SQL = f"""
WITH {EV_US},
binned AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value / {DRIFT_BIN_WIDTH}) AS INTEGER), {DRIFT_BINS - 1})
           AS bin,
         (ts < TIMESTAMP '{DRIFT_SPLIT_TS}') AS is_a
  FROM ev
),
per_bin AS (
  SELECT event_type, bin,
         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM binned GROUP BY event_type, bin
),
tot AS (
  SELECT event_type, SUM(a) AS ta, SUM(b) AS tb FROM per_bin GROUP BY event_type
),
shares AS (
  SELECT per_bin.event_type, bin,
         CAST((a * 1000000) // ta AS BIGINT) AS share_a_ppm,
         CAST((b * 1000000) // tb AS BIGINT) AS share_b_ppm
  FROM per_bin JOIN tot USING (event_type)
)
SELECT event_type,
       CAST(SUM(ABS(share_a_ppm - share_b_ppm)) AS BIGINT) AS l1_drift_ppm,
       COUNT(*) AS n_bins
FROM shares GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier (sort-based, no quadratic dominance join)
# ---------------------------------------------------------------------------


def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of orders: the Pareto frontier of (earliest
    o_orderdate, highest o_totalprice) — no other order is both at least
    as early AND at least as expensive with one strict.

    The naive form is a quadratic NOT EXISTS dominance join (which IS the
    oracle). The distributed form exploits the bounded DATE domain: a
    map-side partial `groupBy(date).max(price)` collapses 100 TB of rows
    to one row per distinct date (a few thousand), the strictly-earlier
    running max is a window over THAT tiny relation (single partition of
    ~10^3 rows — deliberate and cheap, never the raw data), and the
    frontier joins back as a broadcast. The big table sees one partial
    agg and one broadcast hash join — no global sort, no self-join. Raw
    value comparisons only (no float arithmetic), so cross-engine exact.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).alias(
            "d"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "o_totalprice",
    )
    per_date = o.groupBy("d").agg(F.max("o_totalprice").alias("date_max"))
    w_strict = Window.orderBy("d").rangeBetween(Window.unboundedPreceding, -1)
    frontier = per_date.withColumn(
        "max_earlier", F.max("date_max").over(w_strict)
    ).filter(F.col("max_earlier").isNull() | (F.col("max_earlier") < F.col("date_max")))
    return (
        o.join(F.broadcast(frontier), "d")
        .filter(F.col("o_totalprice") == F.col("date_max"))
        .select("o_orderkey", "order_date", "o_totalprice", "d")
        .orderBy("d", F.desc("o_totalprice"), "o_orderkey")
        .drop("d")
    )


Q_SKYLINE_SQL = """
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS dte,
         strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
         o_totalprice
  FROM orders
)
SELECT a.o_orderkey, a.order_date, a.o_totalprice
FROM o a
WHERE NOT EXISTS (
  SELECT 1 FROM o b
  WHERE b.dte <= a.dte AND b.o_totalprice >= a.o_totalprice
    AND (b.dte < a.dte OR b.o_totalprice > a.o_totalprice)
)
ORDER BY a.dte, a.o_totalprice DESC, a.o_orderkey
"""


EQUIDEPTH_BUCKETS = 32


def q_hist_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of l_extendedprice — the
    optimizer-statistics companion to `q_value_histogram`'s equi-width
    bins: bucket boundaries adapt to the data so every bucket holds
    ~n/B rows, which is what selectivity estimation actually wants on
    skewed distributions.

    Exact and scalable WITHOUT a global row sort: aggregate to distinct
    values first (one partial-agg shuffle collapses 100 TB to NDV rows),
    then a cumulative count over the value-ordered window assigns each
    distinct value the bucket of its first row, (cum - n) * B DIV total
    — a distinct value never splits across buckets (textbook equi-depth
    tie semantics). The value-level window is a single range-partitioned
    sort over NDV rows, not the fact table; the row count enters the
    plan as a broadcast 1-row aggregate. All arithmetic is integer
    cents — engine-exact."""
    li = load_table(spark, sf_dir, "lineitem").select(
        half_up_cents("l_extendedprice").alias("cents")
    )
    vc = li.groupBy("cents").agg(F.count(F.lit(1)).alias("n"))
    total = li.agg(F.count(F.lit(1)).alias("n_total"))
    w = (
        Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bucketed = (
        vc.withColumn("cum", F.sum("n").over(w))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "bucket",
            F.expr(f"(cum - n) * {EQUIDEPTH_BUCKETS} DIV n_total").cast("int"),
        )
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("bucket")
    )


Q_HIST_EQUIDEPTH_SQL = f"""
WITH c AS (
  SELECT {half_up_cents_sql("l_extendedprice")} AS cents
  FROM lineitem
),
vc AS (SELECT cents, COUNT(*) AS n FROM c GROUP BY cents),
tot AS (SELECT COUNT(*) AS n_total FROM c),
b AS (
  SELECT cents, n,
         CAST((SUM(n) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)
              * {EQUIDEPTH_BUCKETS} // n_total AS INTEGER) AS bucket
  FROM vc CROSS JOIN tot
)
SELECT bucket, CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_distinct,
       MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
FROM b GROUP BY bucket ORDER BY bucket
"""


QUERIES = {
    sketch_kmv_setops: SKETCH_KMV_SETOPS_SQL,
    sketch_gk_quantile_eval: SKETCH_GK_SQL,
    sketch_ddsketch_quantile: SKETCH_DDSKETCH_SQL,
    sketch_hll_error: SKETCH_HLL_SQL,
    q_hist_equidepth: Q_HIST_EQUIDEPTH_SQL,
    q_skyline_pareto: Q_SKYLINE_SQL,
    q_nested_collect_explode: Q_NESTED_SQL,
    q_histogram_drift: Q_DRIFT_SQL,
    sketch_join_cardinality: SKETCH_JOIN_CARD_SQL,
    sketch_ams_f2: SKETCH_AMS_SQL,
    q_key_skew_stats: Q_KEY_SKEW_SQL,
    q_quantiles_exact: Q_QUANTILES_SQL,
    q_mad_outliers: Q_MAD_SQL,
    q_range_frame_sum: Q_RANGE_FRAME_SQL,
    q_value_histogram: Q_HISTOGRAM_SQL,
    q_percent_rank: Q_PERCENT_RANK_SQL,
    q_unpivot_order_stats: Q_UNPIVOT_SQL,
    q_corr_ols: Q_CORR_OLS_SQL,
    q_rank_with_ties: Q_RANK_TIES_SQL,
    q_zscore_outliers: Q_ZSCORE_SQL,
    q_moving_avg: Q_MOVING_AVG_SQL,
    q_ntile_quartiles: Q_NTILE_SQL,
    sketch_kmv_distinct: SKETCH_KMV_SQL,
    q_sql_grouping_sets: Q_SQL_GROUPING_SETS_SQL,
    q_intersect_parts: Q_INTERSECT_SQL,
    q_except_parts: Q_EXCEPT_SQL,
    q_union_distinct_parts: Q_UNION_DISTINCT_SQL,
    q_lead_gap: Q_LEAD_GAP_SQL,
    q_scalar_functions: Q_SCALAR_SQL,
}
