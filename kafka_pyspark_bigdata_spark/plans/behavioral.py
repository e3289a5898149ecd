"""Behavioral / time-series analytics over the events stream table.

Four operator families a product-analytics engine layers on an event
stream: ordered funnels, cohort retention, time-grid resampling with
last-observation-carried-forward gap fill, and the TimescaleDB-style
"continuous aggregate" (materialized rollup + raw tail merged at read
time). The reference's scope stops at per-batch aggregation
(consumer.py:37-60); these are the standard extensions its event
pipeline would grow into, each expressed as one-or-two-shuffle
DataFrame plans with engine-exact arithmetic (integer microseconds /
day counts / decimal sums) so every query is DuckDB-hash-verifiable.

Shared rules, each with one home: the per-user (ts, event_id) event
order is ``sources.batch.user_timeline``, with ``gap_to_prev_us`` /
``gap_to_next_us`` the gaps over it and ``timeline_frame_readout`` the
readout of a trailing N-event frame; the rank, median and half-up-cents
rules are in ``functions.numeric``. Private to this module: ``_funnel``
the signup → click → purchase first-times, ``_daily_grid`` (oracle:
``_grid_sql``) the dense per-user daily grid with ``_grid_days`` its
framed order, ``_trailing_users`` (oracle: ``_contrib_sql``) the
trailing-N-day distinct users, and ``_week_idx`` the week index since
``COHORT_EPOCH``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from ..functions.numeric import (
    dsum,
    dsum_sql,
    half_up_cents,
    half_up_cents_sql,
    lower_median,
)
from ..sources.batch import (
    EV_US,
    gap_to_next_us,
    gap_to_prev_us,
    load_table,
    scratch_dir,
    timeline_frame_readout,
    user_timeline,
)


FUNNEL_STAGES = ("signup", "click", "purchase")


def _funnel(
    ev: DataFrame, pin: Callable[[DataFrame], DataFrame], within_us: int | None = None
) -> list[DataFrame]:
    """[s, c, p]: each user's first ``signup_ts``, then first ``click_ts``
    and ``purchase_ts``, each stage STRICTLY AFTER the previous stage's
    first event and, with ``within_us``, at most that many microseconds
    after it.

    ``pin`` pins ``s``: it feeds 3 consumers (the stage-2 join, the
    stage-3 lineage and the final counts), so the event scan runs once,
    not per branch. Each stage is a conditional-min aggregate (a
    partial-agg shuffle on ``user_id``) joined to the previous stage's
    one row per user, so the fact table is never re-shuffled wider than
    its key."""
    firsts = [
        pin(
            ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"{FUNNEL_STAGES[0]}_ts"))
        )
    ]
    for prev, stage in zip(FUNNEL_STAGES, FUNNEL_STAGES[1:]):
        after = F.col("ts") > F.col(f"{prev}_ts")
        if within_us is not None:
            lag_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col(f"{prev}_ts"))
            after = after & (lag_us <= within_us)
        firsts.append(
            ev.filter(F.col("event_type") == stage)
            .join(firsts[-1], "user_id")
            .filter(after)
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"{stage}_ts"))
        )
    return firsts


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (signup → click → purchase): users are
    counted at a stage only if the stage event happened STRICTLY AFTER
    their previous stage's first event — the sequencing distinguishes a
    funnel from three independent counts.

    Plan shape: ``_funnel``'s three stages (``s`` pinned eagerly); the
    conversion gap is integer microseconds — engine-exact."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s, c, p = _funnel(ev, lambda s: s.localCheckpoint())
    gap = p.join(s, "user_id").select(
        (F.unix_micros("purchase_ts") - F.unix_micros("signup_ts")).alias("gap_us")
    )
    n_s = s.agg(F.count("*").alias("n_signup"))
    n_c = c.agg(F.count("*").alias("n_click"))
    n_p = gap.agg(
        F.count("*").alias("n_purchase"),
        (F.sum("gap_us").cast("double") / F.count("*")).alias("avg_convert_us"),
    )
    return n_s.crossJoin(n_c).crossJoin(n_p)


Q_FUNNEL_SQL = f"""
WITH {EV_US},
s AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM ev
  WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
),
c AS (
  SELECT ev.user_id, MIN(ts) AS click_ts FROM ev JOIN s USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[1]}' AND ts > signup_ts GROUP BY ev.user_id
),
p AS (
  SELECT ev.user_id, MIN(ts) AS purchase_ts FROM ev JOIN c USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[2]}' AND ts > click_ts GROUP BY ev.user_id
),
g AS (
  SELECT epoch_us(purchase_ts) - epoch_us(signup_ts) AS gap_us
  FROM p JOIN s USING (user_id)
)
SELECT (SELECT COUNT(*) FROM s) AS n_signup,
       (SELECT COUNT(*) FROM c) AS n_click,
       COUNT(*) AS n_purchase,
       CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS avg_convert_us
FROM g
"""


FUNNEL_WINDOW_US = 72 * 3600 * 1_000_000  # max 72 h between stages


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel with a BOUNDED conversion window: each stage must land
    within 72 h of the previous stage's first event — how product
    funnels are actually defined (an unbounded funnel credits purchases
    months after the click). Same per-stage conditional-min aggregation
    shape as ``q_funnel`` (``s`` pinned lazily); the window constraint is
    one extra integer predicate on the already-joined rows, so the plan
    cost is identical.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s, c, p = _funnel(
        ev, lambda s: s.localCheckpoint(eager=False), FUNNEL_WINDOW_US
    )
    n_s = s.agg(F.count("*").alias("n_signup"))
    n_c = c.agg(F.count("*").alias("n_click"))
    n_p = p.agg(F.count("*").alias("n_purchase"))
    return (
        n_s.crossJoin(n_c)
        .crossJoin(n_p)
        .select(
            "n_signup",
            "n_click",
            "n_purchase",
            # a stage nobody reached has no rate: NULL, as the oracle's // 0
            F.expr("n_click * 1000000 div nullif(n_signup, 0)").alias(
                "click_rate_ppm"
            ),
            F.expr("n_purchase * 1000000 div nullif(n_click, 0)").alias(
                "purchase_rate_ppm"
            ),
        )
    )


Q_FUNNEL_WINDOWED_SQL = f"""
WITH {EV_US},
s AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM ev
  WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
),
c AS (
  SELECT ev.user_id, MIN(ts) AS click_ts FROM ev JOIN s USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[1]}' AND ts > signup_ts
    AND epoch_us(ts) - epoch_us(signup_ts) <= {FUNNEL_WINDOW_US}
  GROUP BY ev.user_id
),
p AS (
  SELECT ev.user_id, MIN(ts) AS purchase_ts FROM ev JOIN c USING (user_id)
  WHERE event_type = '{FUNNEL_STAGES[2]}' AND ts > click_ts
    AND epoch_us(ts) - epoch_us(click_ts) <= {FUNNEL_WINDOW_US}
  GROUP BY ev.user_id
)
SELECT (SELECT COUNT(*) FROM s) AS n_signup,
       (SELECT COUNT(*) FROM c) AS n_click,
       (SELECT COUNT(*) FROM p) AS n_purchase,
       (SELECT COUNT(*) FROM c) * 1000000 // (SELECT COUNT(*) FROM s)
         AS click_rate_ppm,
       (SELECT COUNT(*) FROM p) * 1000000 // (SELECT COUNT(*) FROM c)
         AS purchase_rate_ppm
"""


PATHS_TOP_K = 20


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavioral paths (the Sankey/flow-diagram feed): for
    every consecutive event triple in a user's timeline, count the
    (step1 → step2 → step3) pattern corpus-wide and keep the most
    common. Two LEADs over the user-keyed sort build the triples with
    no join and no fan-out; the pattern count is one small-key partial
    agg; top-k is a TakeOrdered. Deterministic (count DESC, path ASC)
    tiebreak."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wo = user_timeline()
    trip = (
        ev.withColumn("e2", F.lead("event_type", 1).over(wo))
        .withColumn("e3", F.lead("event_type", 2).over(wo))
        .filter(F.col("e3").isNotNull())
    )
    return (
        trip.groupBy(
            F.col("event_type").alias("step1"),
            F.col("e2").alias("step2"),
            F.col("e3").alias("step3"),
        )
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "step1", "step2", "step3")
        .limit(PATHS_TOP_K)
    )


Q_TOP_PATHS_SQL = f"""
WITH {EV_US},
t AS (
  SELECT event_type AS step1,
         LEAD(event_type, 1) OVER w AS step2,
         LEAD(event_type, 2) OVER w AS step3
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT step1, step2, step3, COUNT(*) AS n_paths
FROM t WHERE step3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_paths DESC, step1, step2, step3
LIMIT {PATHS_TOP_K}
"""


BOT_MIN_EVENTS = 50
BOT_MEDIAN_GAP_US = 30 * 60 * 1_000_000  # flag if median gap < 30 min


def q_bot_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/abuse screen over the event stream: flag users whose activity
    rhythm is superhuman — high event volume AND a small MEDIAN
    inter-event gap (median, not mean, so one long absence can't launder
    a burst bot). The standard first-pass fraud heuristic before any
    model.

    Per-user gaps come from one lag window over the user-keyed sort (the
    stream's natural partitioning); the exact median gap is the k-th
    smallest selection (integer micros, no interpolation); output is
    per-user stats + the boolean verdict, so downstream can threshold
    differently without recomputing."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    gaps = ev.withColumn("gap_us", gap_to_prev_us()).filter(
        F.col("gap_us").isNotNull()
    )
    n_events = F.col("cnt") + 1
    return (
        lower_median(gaps, "user_id", "gap_us", "event_id", "median_gap_us")
        .select(
            "user_id",
            n_events.alias("n_events"),
            "median_gap_us",
            (
                (n_events >= BOT_MIN_EVENTS)
                & (F.col("median_gap_us") < BOT_MEDIAN_GAP_US)
            ).alias("bot_flag"),
        )
        .orderBy("user_id")
    )


Q_BOT_FLAG_SQL = f"""
WITH {EV_US},
g AS (
  SELECT user_id, event_id,
         epoch_us(ts) - epoch_us(LAG(ts) OVER
           (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM ev
),
nn AS (SELECT user_id, event_id, gap_us FROM g WHERE gap_us IS NOT NULL),
r AS (
  SELECT user_id, gap_us,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY gap_us, event_id)
           AS rk,
         COUNT(*) OVER (PARTITION BY user_id) AS ng
  FROM nn
)
SELECT user_id, ng + 1 AS n_events, gap_us AS median_gap_us,
       (ng + 1 >= {BOT_MIN_EVENTS} AND gap_us < {BOT_MEDIAN_GAP_US})
         AS bot_flag
FROM r WHERE rk = (ng + 1) // 2
ORDER BY user_id
"""


COHORT_EPOCH = "2024-01-01"  # week index origin (fixture start)


def _week_idx(d: Column | str) -> Column:
    """Whole weeks from ``COHORT_EPOCH`` to the date ``d``."""
    return F.floor(F.datediff(d, F.lit(COHORT_EPOCH).cast("date")) / 7).cast("int")


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    tracked by distinct-active count in each subsequent week offset.

    All keys are small integers (week index from a fixed epoch, week
    offset from the user's own cohort day), so grouping is engine-exact;
    retention is a double ratio of two exact integers. Plan: first-day
    aggregate (one user_id shuffle), distinct activity days (map-side
    dedup + shuffle), join on user_id, then one partial-agg shuffle on
    the (cohort_week, week_offset) pair + a broadcast-back of cohort
    sizes."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    act = ev.distinct()
    j = act.join(first, "user_id").select(
        "user_id",
        _week_idx("cohort_d").alias("cohort_week"),
        F.floor(F.datediff("d", F.col("cohort_d")) / 7).cast("int").alias("week_offset"),
    )
    active = j.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    sizes = (
        first.select(_week_idx("cohort_d").alias("cohort_week"))
        .groupBy("cohort_week")
        .agg(F.count("*").alias("cohort_size"))
    )
    return (
        active.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


Q_COHORT_SQL = f"""
WITH {EV_US},
ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM ev),
first AS (SELECT user_id, MIN(d) AS cohort_d FROM ud GROUP BY user_id),
j AS (
  SELECT ud.user_id,
         CAST(FLOOR(date_diff('day', DATE '{COHORT_EPOCH}', cohort_d) / 7) AS INTEGER)
           AS cohort_week,
         CAST(FLOOR(date_diff('day', cohort_d, d) / 7) AS INTEGER) AS week_offset
  FROM ud JOIN first USING (user_id)
),
active AS (
  SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS n_active
  FROM j GROUP BY 1, 2
),
sizes AS (
  SELECT CAST(FLOOR(date_diff('day', DATE '{COHORT_EPOCH}', cohort_d) / 7) AS INTEGER)
           AS cohort_week,
         COUNT(*) AS cohort_size
  FROM first GROUP BY 1
)
SELECT cohort_week, week_offset, n_active, cohort_size,
       CAST(n_active AS DOUBLE) / cohort_size AS retention
FROM active JOIN sizes USING (cohort_week)
ORDER BY cohort_week, week_offset
"""


def _daily_grid(ev: DataFrame, dayv: DataFrame, value: str) -> DataFrame:
    """(user_id, grid_day, value): each user's dense daily calendar from
    the first to the last day ``d`` of their rows in ``ev`` (``sequence``
    + explode — the distributed gap-filling idiom; no driver-side date
    loops), left-joined to ``dayv``'s (user_id, d, value) observations."""
    bounds = ev.groupBy("user_id").agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = bounds.select(
        F.col("user_id").alias("g_user"),
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("grid_day"),
    )
    return grid.join(
        dayv,
        (grid.g_user == dayv.user_id) & (grid.grid_day == dayv.d),
        "left",
    ).select(F.col("g_user").alias("user_id"), "grid_day", value)


def _grid_sql(value: str) -> str:
    """The oracle's ``grid`` and ``g`` CTEs: ``_daily_grid`` over a
    ``bounds`` (user_id, d0, d1) and a ``dayv`` (user_id, d, value) CTE."""
    return f"""grid AS (
  SELECT user_id,
         UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS grid_day
  FROM bounds
),
g AS (
  SELECT grid.user_id, grid.grid_day, dayv.{value}
  FROM grid LEFT JOIN dayv
    ON grid.user_id = dayv.user_id AND grid.grid_day = dayv.d
)"""


def _grid_days(lo: int, hi: int) -> WindowSpec:
    """Each user's grid days in order, framed rows ``lo`` to ``hi``."""
    return Window.partitionBy("user_id").orderBy("grid_day").rowsBetween(lo, hi)


def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample + LOCF gap fill: each user's event values are
    down-sampled to one observation per day (the LAST event of the day,
    deterministic ts+event_id tiebreak), re-gridded onto a dense
    per-user daily calendar (``sequence`` + explode — the distributed
    gap-filling idiom; no driver-side date loops), and gaps are filled
    by carrying the last observation forward with a running
    ``last(..., ignorenulls)`` window.

    Values are carried verbatim (no arithmetic), so the output is
    engine-exact by construction. Plan: one shuffle on (user, day) for
    the per-day argmax, one on user for bounds + the carry window."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d"), "ts", "event_id", "value"
    )
    w_day = Window.partitionBy("user_id", "d").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    dayv = (
        ev.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") == 1)
        .select("user_id", "d", "value")
    )
    w_carry = _grid_days(Window.unboundedPreceding, Window.currentRow)
    return _daily_grid(ev, dayv, "value").select(
        "user_id",
        F.date_format("grid_day", "yyyy-MM-dd").alias("grid_day"),
        F.last("value", ignorenulls=True).over(w_carry).alias("value_locf"),
    ).orderBy("user_id", "grid_day")


Q_RESAMPLE_LOCF_SQL = f"""
WITH {EV_US},
dayv AS (
  SELECT user_id, d, value FROM (
    SELECT user_id, CAST(ts AS DATE) AS d, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1
),
bounds AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
  FROM ev GROUP BY user_id
),
{_grid_sql("value")}
SELECT user_id, strftime(grid_day, '%Y-%m-%d') AS grid_day,
       LAST_VALUE(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY grid_day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
FROM g
ORDER BY user_id, grid_day
"""


ROLLUP_CUTOFF = "2024-01-25"  # history < cutoff is materialized; tail is raw


def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate read path (TimescaleDB-style hypertable
    rollup): daily per-event-type aggregates for the closed history are
    MATERIALIZED to parquet (the "continuous aggregate"), then a read
    merges that rollup with a raw-tail aggregation of only the days
    past the cutoff — so steady-state queries scan the tiny rollup plus
    one day-ish of raw data instead of the full fact table.

    At 100 TB the materialized side is date-partitioned parquet whose
    scan prunes to the rollup rows; the tail scan prunes on the pushed
    ``d >= cutoff`` predicate. Sums are decimal-accumulated, so the
    materialize→read round trip is value-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "event_type", "value"
    )
    daily = lambda df: df.groupBy("d", "event_type").agg(  # noqa: E731
        F.count("*").alias("n_events"), dsum("value").alias("sum_value")
    )
    rollup_dir = scratch_dir("hypertable_rollup", sf_dir)
    daily(ev.filter(F.col("d") < F.lit(ROLLUP_CUTOFF))).write.mode("overwrite").parquet(
        rollup_dir
    )
    materialized = spark.read.parquet(rollup_dir)
    tail = daily(ev.filter(F.col("d") >= F.lit(ROLLUP_CUTOFF)))
    return (
        materialized.unionByName(tail)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("d", "event_type")
    )


Q_HYPERTABLE_SQL = f"""
WITH {EV_US},
daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n_events,
         {dsum_sql('value')} AS sum_value
  FROM ev GROUP BY 1, 2
)
SELECT strftime(d, '%Y-%m-%d') AS d, event_type, n_events, sum_value
FROM daily
ORDER BY d, event_type
"""


# ---------------------------------------------------------------------------
# Interval max-concurrency (endpoint sweep)
# ---------------------------------------------------------------------------

_DUR_MOD = 3540  # synthetic interval length: 60 + event_id % 3540 seconds


def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent intervals per event type — the classic endpoint
    sweep (room-scheduling / max-concurrent-sessions): each interval
    contributes a +1 at its start and a -1 at its end, and the running
    sum over the time-ordered endpoint stream is the instantaneous
    concurrency. Intervals are half-open [s, e): at equal timestamps the
    -1 sorts first, so a session ending exactly when another starts never
    double-counts.

    Plan shape: a 2x endpoint fan-out (narrow), one shuffle on
    event_type, and a linear running-sum window per type. Everything is
    integer microseconds — engine-exact. At 100 TB with few types the
    sort key becomes (type, day-bucket) and per-bucket sweeps are
    stitched with per-bucket net-delta prefix offsets — the standard
    distributed prefix-sum decomposition; the plan shape is unchanged.
    Interval lengths here are synthesized deterministically from
    event_id (60 + id % 3540 s) since the fixture has no duration column.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("s_us"),
        (
            F.unix_micros("ts")
            + (F.lit(60) + F.col("event_id") % _DUR_MOD) * F.lit(1_000_000)
        ).alias("e_us"),
    )
    starts = ev.select(
        "event_type", F.col("s_us").alias("t_us"), F.lit(1).alias("delta"), "event_id"
    )
    ends = ev.select(
        "event_type", F.col("e_us").alias("t_us"), F.lit(-1).alias("delta"), "event_id"
    )
    deltas = starts.unionAll(ends)
    w = Window.partitionBy("event_type").orderBy("t_us", "delta", "event_id")
    running = deltas.withColumn(
        "conc", F.sum("delta").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    peaks = running.groupBy("event_type").agg(F.max("conc").alias("mc"))
    return (
        running.join(F.broadcast(peaks), "event_type")
        .groupBy("event_type", "mc")
        .agg(
            F.min(F.when(F.col("conc") == F.col("mc"), F.col("t_us"))).alias(
                "first_peak_us"
            ),
            F.count(F.lit(1)).alias("n_endpoints"),
        )
        .withColumn("max_concurrent", F.col("mc").cast("long"))
        .select(
            "event_type",
            "max_concurrent",
            F.date_format(
                F.timestamp_micros(F.col("first_peak_us")), "yyyy-MM-dd HH:mm:ss"
            ).alias("first_peak_at"),
            "n_endpoints",
        )
        .orderBy("event_type")
    )


Q_INTERVAL_CONC_SQL = f"""
WITH {EV_US},
iv AS (
  SELECT event_id, event_type, epoch_us(ts) AS s_us,
         epoch_us(ts) + (60 + event_id % {_DUR_MOD}) * 1000000 AS e_us
  FROM ev
),
deltas AS (
  SELECT event_type, s_us AS t_us, 1 AS delta, event_id FROM iv
  UNION ALL
  SELECT event_type, e_us AS t_us, -1 AS delta, event_id FROM iv
),
running AS (
  SELECT event_type, t_us,
         SUM(delta) OVER (PARTITION BY event_type ORDER BY t_us, delta, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM deltas
),
peaks AS (
  SELECT event_type, MAX(conc) AS mc FROM running GROUP BY event_type
)
SELECT r.event_type,
       CAST(p.mc AS BIGINT) AS max_concurrent,
       strftime(make_timestamp(MIN(CASE WHEN r.conc = p.mc THEN r.t_us END)),
                '%Y-%m-%d %H:%M:%S') AS first_peak_at,
       COUNT(*) AS n_endpoints
FROM running r JOIN peaks p USING (event_type)
GROUP BY r.event_type, p.mc
ORDER BY r.event_type
"""


# ---------------------------------------------------------------------------
# Exponentially-weighted moving average (exact fixed-point, bounded lag)
# ---------------------------------------------------------------------------

EWMA_LAGS = 16  # window depth: weights 2^-0 .. 2^-(15) (halving decay)
_EWMA_FP = 2**20  # value fixed-point scale


def q_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average (decay 1/2,
    truncated at 16 lags) over the event stream — the smoothing operator
    behind rate limiting, anomaly baselines, and feature decay.

    Float EWMAs drift across engines (repeated multiply accumulates
    rounding), so this is EXACT: values fixed-point at 2^20, the weight
    of an event d steps back is the integer 2^(15-d), and both the
    weighted sum and the weight sum are BIGINT — the final ratio is one
    double division of exact integers, identical everywhere. Spark-side
    it is a single window pass: collect_list over a 16-row frame +
    aggregate (no self-join); the oracle spells the same math as a
    bounded rn-distance self-join. One shuffle on user_id, linear per
    user — the at-scale plan for bounded-memory decay.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.expr(f"CAST(round(value * {_EWMA_FP}, 0) AS BIGINT)").alias("v_int"),
    )
    ewma = (
        F.expr(
            "aggregate(transform(vals, (x, j) -> x * shiftleft(CAST(1 AS"
            f" BIGINT), {EWMA_LAGS} - size(vals) + j)), CAST(0 AS BIGINT),"
            " (a, b) -> a + b)"
        ).cast("double")
        / F.expr(
            f"shiftleft(CAST(1 AS BIGINT), {EWMA_LAGS})"
            f" - shiftleft(CAST(1 AS BIGINT), {EWMA_LAGS} - size(vals))"
        ).cast("double")
        / F.lit(float(_EWMA_FP))
    )
    return timeline_frame_readout(ev, "v_int", EWMA_LAGS, ewma.alias("ewma"))


Q_EWMA_SQL = f"""
WITH {EV_US},
r AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * {_EWMA_FP}, 0) AS BIGINT) AS v_int,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM ev
)
SELECT a.user_id, CAST(a.rn AS BIGINT) AS rn,
       strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       CAST(CAST(SUM(b.v_int << ({EWMA_LAGS - 1} - (a.rn - b.rn))) AS BIGINT) AS DOUBLE)
         / CAST(CAST(SUM(CAST(1 AS BIGINT) << ({EWMA_LAGS - 1} - (a.rn - b.rn)))
                AS BIGINT) AS DOUBLE)
         / {float(_EWMA_FP)!r} AS ewma
FROM r a JOIN r b
  ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - {EWMA_LAGS - 1} AND a.rn
GROUP BY a.user_id, a.rn, a.ts
ORDER BY a.user_id, a.rn
"""


def q_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample + LINEAR-interpolation gap fill — the other half of
    the timeseries gap-fill pair (`q_resample_locf` carries forward;
    this one draws the line between the surrounding observations, the
    TimescaleDB ``interpolate()`` / pandas ``interpolate('linear')``
    semantics).

    Exactness: per-day observations are decimal-exact cent sums
    (BIGINT); an interior missing day at distance s of a gap of length d
    fills with the weighted mean (prev*(d-s) + next*s) DIV d — all
    inputs nonnegative, so Spark's truncating DIV and DuckDB's flooring
    // agree. The per-user grid's endpoints are always observed (bounds
    come from the events themselves), so every gap is interior and no
    fill is NULL.

    Plan: one (user, day) partial-agg shuffle, one user-keyed shuffle
    shared by the bounds aggregate and the four carry windows (prev/next
    value and day); the dense grid comes from ``sequence`` + explode —
    no driver-side calendar loops, and per-user state is bounded by the
    date span, not the event count."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("d"),
        half_up_cents("value").alias("cents"),
    )
    dayv = ev.groupBy("user_id", "d").agg(F.sum("cents").alias("v_fp"))
    w_back = _grid_days(Window.unboundedPreceding, Window.currentRow)
    w_fwd = _grid_days(Window.currentRow, Window.unboundedFollowing)
    obs_day = F.when(F.col("v_fp").isNotNull(), F.col("grid_day"))
    carried = _daily_grid(ev, dayv, "v_fp").select(
        "user_id",
        "grid_day",
        "v_fp",
        F.last("v_fp", ignorenulls=True).over(w_back).alias("prev_fp"),
        F.last(obs_day, ignorenulls=True).over(w_back).alias("prev_d"),
        F.first("v_fp", ignorenulls=True).over(w_fwd).alias("next_fp"),
        F.first(obs_day, ignorenulls=True).over(w_fwd).alias("next_d"),
    )
    s = F.datediff("grid_day", "prev_d")
    d_len = F.datediff("next_d", "prev_d")
    interp = F.expr(
        "(prev_fp * (datediff(next_d, prev_d) - datediff(grid_day, prev_d))"
        " + next_fp * datediff(grid_day, prev_d))"
        " DIV datediff(next_d, prev_d)"
    )
    return carried.select(
        "user_id",
        F.date_format("grid_day", "yyyy-MM-dd").alias("grid_day"),
        F.coalesce("v_fp", interp).alias("value_fp"),
        F.col("v_fp").isNotNull().alias("observed"),
    ).orderBy("user_id", "grid_day")


Q_GAPFILL_SQL = f"""
WITH {EV_US},
cents AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         {half_up_cents_sql("value")} AS cents
  FROM ev
),
dayv AS (
  SELECT user_id, d, SUM(cents) AS v_fp FROM cents GROUP BY user_id, d
),
bounds AS (
  SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM cents GROUP BY user_id
),
{_grid_sql("v_fp")},
carried AS (
  SELECT user_id, grid_day, v_fp,
         LAST_VALUE(v_fp IGNORE NULLS) OVER w_back AS prev_fp,
         LAST_VALUE(CASE WHEN v_fp IS NOT NULL THEN grid_day END IGNORE NULLS)
           OVER w_back AS prev_d,
         FIRST_VALUE(v_fp IGNORE NULLS) OVER w_fwd AS next_fp,
         FIRST_VALUE(CASE WHEN v_fp IS NOT NULL THEN grid_day END IGNORE NULLS)
           OVER w_fwd AS next_d
  FROM g
  WINDOW
    w_back AS (PARTITION BY user_id ORDER BY grid_day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_fwd AS (PARTITION BY user_id ORDER BY grid_day
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(grid_day, '%Y-%m-%d') AS grid_day,
       CAST(COALESCE(v_fp,
                (prev_fp * (date_diff('day', prev_d, next_d)
                            - date_diff('day', prev_d, grid_day))
                 + next_fp * date_diff('day', prev_d, grid_day))
                // date_diff('day', prev_d, next_d)) AS BIGINT) AS value_fp,
       (v_fp IS NOT NULL) AS observed
FROM carried
ORDER BY user_id, grid_day
"""


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (the Markov-chain view of
    user journeys): for every consecutive event pair within a user's
    timeline, count (event_type → next_event_type) and express the row-
    conditional probability in integer ppm — the behavioral-analytics
    primitive behind journey maps, next-action prediction baselines,
    and funnel discovery (vs q_funnel's FIXED stage order).

    One window shuffle on user_id (lead over the per-user timeline,
    deterministic ts+event_id ordering), one partial-agg shuffle on the
    tiny (from, to) key; ppm is integer DIV — engine-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(user_timeline()))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_from = Window.partitionBy("from_type")
    return (
        pairs.withColumn("n_from", F.sum("n").over(w_from))
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("n * 1000000 DIV n_from").alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


Q_TRANSITION_SQL = f"""
WITH {EV_US},
seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM ev
),
pairs AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
         AS p_ppm
FROM pairs ORDER BY from_type, to_type
"""


RFM_ASOF = "2024-02-01"  # analysis date (fixture ends late January)
RFM_BUCKETS = 4


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over the purchase stream: per user,
    Recency (days since last purchase at a fixed analysis date),
    Frequency (purchase count), Monetary (decimal-exact cent sum), each
    quartiled with ``ntile(4)`` into 1..4 scores — the classic
    marketing segmentation, here as three exact integers plus three
    deterministic ntile windows (ties broken by user_id so both engines
    rank identically).

    One user_id partial-agg shuffle builds the base; the three ntile
    windows are global but over ONE ROW PER USER — at 100 TB that's the
    aggregated user dimension, orders of magnitude smaller than the
    event stream (and the standard place a single-partition window is
    acceptable; a percentile-bucket join replaces it if users alone
    exceed a task)."""
    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit(RFM_ASOF).cast("date"), F.max(F.to_date("ts"))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(half_up_cents("value")).alias("monetary_cents"),
        )
    )
    # Lower recency is better — rank ascending so bucket 1 = most recent.
    r_w = Window.orderBy(F.asc("recency_days"), F.asc("user_id"))
    f_w = Window.orderBy(F.desc("frequency"), F.asc("user_id"))
    m_w = Window.orderBy(F.desc("monetary_cents"), F.asc("user_id"))
    return (
        base.withColumn("r_score", F.ntile(RFM_BUCKETS).over(r_w))
        .withColumn("f_score", F.ntile(RFM_BUCKETS).over(f_w))
        .withColumn("m_score", F.ntile(RFM_BUCKETS).over(m_w))
        .orderBy("user_id")
    )


Q_RFM_SQL = f"""
WITH {EV_US},
base AS (
  SELECT user_id,
         date_diff('day', MAX(CAST(ts AS DATE)), DATE '{RFM_ASOF}')
           AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM({half_up_cents_sql("value")}) AS BIGINT)
           AS monetary_cents
  FROM ev WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, recency_days, frequency, monetary_cents,
       CAST(NTILE({RFM_BUCKETS}) OVER (ORDER BY recency_days, user_id)
            AS INTEGER) AS r_score,
       CAST(NTILE({RFM_BUCKETS}) OVER (ORDER BY frequency DESC, user_id)
            AS INTEGER) AS f_score,
       CAST(NTILE({RFM_BUCKETS}) OVER (ORDER BY monetary_cents DESC, user_id)
            AS INTEGER) AS m_score
FROM base ORDER BY user_id
"""


def q_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth of event volume and exact-cents value per
    event type: weekly rollup (ISO-agnostic integer week index from the
    cohort epoch), lag within each type's timeline, growth in integer
    ppm of the prior week — the period-over-period comparison every
    product dashboard leads with. One (type, week) partial-agg shuffle
    plus one tiny keyed window; growth numerators are kept nonnegative-
    safe by splitting sign from magnitude (DIV vs // floor mismatch)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        _week_idx(F.to_date("ts")).alias("week_idx"),
        half_up_cents("value").alias("cents"),
    )
    weekly = ev.groupBy("event_type", "week_idx").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("sum_cents")
    )
    w = Window.partitionBy("event_type").orderBy("week_idx")
    prev = F.lag("n_events").over(w)
    delta = F.col("n_events") - prev
    growth = (
        F.when(prev.isNull(), F.lit(None))
        .otherwise(
            F.when(delta >= 0, F.expr("1"))
            .otherwise(F.expr("-1"))
            * F.floor(F.abs(delta) * 1000000 / prev).cast("long")
        )
    )
    return (
        weekly.select(
            "event_type",
            "week_idx",
            "n_events",
            "sum_cents",
            growth.alias("growth_ppm"),
        )
        .orderBy("event_type", "week_idx")
    )


Q_WOW_SQL = f"""
WITH {EV_US},
weekly AS (
  SELECT event_type,
         CAST(FLOOR(date_diff('day', DATE '{COHORT_EPOCH}', CAST(ts AS DATE))
                    / 7.0) AS INTEGER) AS week_idx,
         COUNT(*) AS n_events,
         CAST(SUM({half_up_cents_sql("value")}) AS BIGINT)
           AS sum_cents
  FROM ev GROUP BY 1, 2
)
SELECT event_type, week_idx, n_events, sum_cents,
       CASE WHEN LAG(n_events) OVER w IS NULL THEN NULL
            ELSE (CASE WHEN n_events - LAG(n_events) OVER w >= 0
                       THEN 1 ELSE -1 END)
                 * CAST(FLOOR(abs(n_events - LAG(n_events) OVER w) * 1000000.0
                              / LAG(n_events) OVER w) AS BIGINT)
       END AS growth_ppm
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY week_idx)
ORDER BY event_type, week_idx
"""


def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day (the DAU-reach curve) WITHOUT a
    running COUNT(DISTINCT): each user contributes on exactly their
    FIRST-seen day (a per-user min aggregate), daily first-seen counts
    then cumulative-sum under an ordered window — turning an unbounded-
    state distinct into one user-keyed partial agg, a tiny per-day agg,
    and a linear pass over ~30 day rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("d").alias("first_d"))
    daily = first_seen.groupBy("first_d").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = (
        Window.orderBy("first_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        F.date_format("first_d", "yyyy-MM-dd").alias("d"),
        "n_new_users",
        F.sum("n_new_users").over(w).alias("cum_users"),
    ).orderBy("d")


Q_CUM_USERS_SQL = """
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d FROM events GROUP BY user_id
),
daily AS (
  SELECT first_d, COUNT(*) AS n_new_users FROM first_seen GROUP BY first_d
)
SELECT strftime(first_d, '%Y-%m-%d') AS d, n_new_users,
       CAST(SUM(n_new_users) OVER (ORDER BY first_d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM daily ORDER BY d
"""


ABANDON_WINDOW_MIN = 60


def q_click_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandonment cohort: users whose LAST click was never followed by a
    purchase within 60 minutes — the negative space of the funnel/as-of
    joins (who fell out, not who converted), i.e. the retargeting-list
    query. Semantics: per user, latest click; EXISTS-style anti check
    against purchases in (click, click+60min]; emit the abandoned users
    with their dangling click.

    Plan: one user-keyed argmax for last clicks, then a LEFT ANTI join
    against purchases on user_id with the time bound in the join
    condition — the anti join never fans out and the purchase side is
    pre-projected to (user_id, ts). Both shuffles key on user_id."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    last_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id")).alias("m"))
        .select("user_id", F.col("m.ts").alias("click_ts"), F.col("m.event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    abandoned = last_click.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("click_ts"))
        & (
            F.col("p_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ABANDON_WINDOW_MIN} MINUTES")
        ),
        "left_anti",
    )
    return abandoned.select(
        "user_id",
        "click_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    ).orderBy("user_id")


Q_ABANDON_SQL = f"""
WITH {EV_US},
last_click AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id FROM (
    SELECT user_id, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev WHERE event_type = 'click'
  ) WHERE rn = 1
)
SELECT lc.user_id, lc.click_id,
       strftime(lc.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM last_click lc
WHERE NOT EXISTS (
  SELECT 1 FROM ev p
  WHERE p.event_type = 'purchase' AND p.user_id = lc.user_id
    AND p.ts > lc.click_ts
    AND p.ts <= lc.click_ts + INTERVAL {ABANDON_WINDOW_MIN} MINUTE
)
ORDER BY lc.user_id
"""


WAU_WINDOW_DAYS = 7


def _trailing_users(ud: DataFrame, days: DataFrame, n: int, out: str) -> DataFrame:
    """(window_day, out): the distinct users active in the ``n`` days
    ending at each ``window_day`` of ``days`` — EXACT, without a sliding
    COUNT(DISTINCT) (whose window state is unbounded): each (user_id,
    active day d) pair of ``ud`` contributes to the n window-end days it
    falls in, so explode ``sequence(d, d + n − 1)``, dedup (user,
    window_day), join to ``days`` and count. Shuffle volume is a FIXED
    n× the distinct (user, day) pairs — data-independent fanout."""
    return (
        ud.select(
            "user_id",
            F.explode(
                F.sequence("d", F.date_add("d", n - 1), F.expr("INTERVAL 1 DAY"))
            ).alias("window_day"),
        )
        .distinct()
        .join(days, "window_day")
        .groupBy("window_day")
        .agg(F.count(F.lit(1)).alias(out))
    )


def _contrib_sql(n: int) -> str:
    """The oracle's ``contrib`` CTE of ``_trailing_users`` over a ``ud``
    (user_id, d) CTE."""
    return f"""contrib AS (
  SELECT DISTINCT user_id,
         UNNEST(generate_series(d, d + INTERVAL {n - 1} DAY,
                                INTERVAL 1 DAY))::DATE AS window_day
  FROM ud
)"""


def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — ``_trailing_users`` with n = 7
    over the distinct (user, day) pairs; the distinct + count pair is one
    two-phase aggregation on small keys. Only window-ends with actual
    activity anchor the output (trailing-edge semantics both engines
    express identically)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    days = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("window_day")
    ).distinct()
    return (
        _trailing_users(ev, days, WAU_WINDOW_DAYS, "wau")
        .select(
            F.date_format("window_day", "yyyy-MM-dd").alias("window_day"), "wau"
        )
        .orderBy("window_day")
    )


Q_ROLLING_WAU_SQL = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS window_day FROM events),
{_contrib_sql(WAU_WINDOW_DAYS)}
SELECT strftime(c.window_day, '%Y-%m-%d') AS window_day,
       COUNT(*) AS wau
FROM contrib c JOIN days USING (window_day)
GROUP BY c.window_day ORDER BY window_day
"""


CUSUM_THRESHOLD_DAYS = 1  # flag when cumulative excess > 1 day of average


def q_cusum_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily event volume per type — the
    drift detector behind data-quality monitors and on-call volume
    alerts, computed EXACTLY with the prefix-min closed form: the
    recursive s_t = max(0, s_{t-1} + x_t) (not directly expressible as a
    window) equals P_t − min(0, min_{j≤t} P_j) where P is the prefix sum
    of deviations — two ordered windows, no recursion, no UDF.

    Deviations are kept integer by scaling: x'_d = c_d·n_days − total
    (so the per-type mean is subtracted without division, and Σx' = 0).
    The flag threshold is one average day's volume (scaled: total). One
    (type, day) partial-agg shuffle, then one tiny type-keyed window
    pass over ~30 day rows per type — linear, engine-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d")
    )
    daily = ev.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("c"))
    wt = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("d")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scaled = daily.select(
        "event_type",
        "d",
        "c",
        (F.col("c") * F.count(F.lit(1)).over(wt) - F.sum("c").over(wt)).alias(
            "x"
        ),
        F.sum("c").over(wt).alias("total"),
    )
    cusum = scaled.select(
        "event_type",
        "d",
        "c",
        "total",
        F.sum("x").over(wrun).alias("p"),
    ).select(
        "event_type",
        "d",
        "c",
        (F.col("p") - F.least(F.min("p").over(wrun), F.lit(0))).alias(
            "cusum_scaled"
        ),
        "total",
    )
    return cusum.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "c",
        "cusum_scaled",
        (F.col("cusum_scaled") > CUSUM_THRESHOLD_DAYS * F.col("total")).alias(
            "flagged"
        ),
    ).orderBy("event_type", "d")


Q_CUSUM_SQL = f"""
WITH {EV_US},
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
  FROM ev GROUP BY 1, 2
),
scaled AS (
  SELECT event_type, d, c,
         c * COUNT(*) OVER wt - SUM(c) OVER wt AS x,
         SUM(c) OVER wt AS total
  FROM daily
  WINDOW wt AS (PARTITION BY event_type)
),
pre AS (
  SELECT event_type, d, c, total,
         SUM(x) OVER wrun AS p
  FROM scaled
  WINDOW wrun AS (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS d, c,
       CAST(p - LEAST(MIN(p) OVER wrun, 0) AS BIGINT) AS cusum_scaled,
       (p - LEAST(MIN(p) OVER wrun, 0))
         > {CUSUM_THRESHOLD_DAYS} * total AS flagged
FROM pre
WINDOW wrun AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY event_type, d
"""


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP / TimescaleDB ``time_weight``) of event
    value per user: each observation is weighted by how long it was the
    CURRENT value (gap to the next event, last observation weightless) —
    the correct average for irregularly-sampled state, where the
    arithmetic mean over-weights bursts.

    Exact: weights are integer microsecond gaps from one ``lead`` window,
    values integer cents; twap = Σ(v·gap) DIV Σgap is one BIGINT division
    (numerator ≤ ~1e16 for month-span fixtures — BIGINT-safe; DECIMAL(38)
    at decade spans). One shuffle on user_id shared by the window and the
    aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        half_up_cents("value").alias("cents"),
    )
    gapped = ev.withColumn("gap_us", gap_to_next_us()).filter(
        F.col("gap_us").isNotNull()
    )
    return (
        gapped.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("gap_us").alias("span_us"),
            F.expr("SUM(cents * gap_us) DIV SUM(gap_us)").alias(
                "twap_cents"
            ),
        )
        .orderBy("user_id")
    )


Q_TWAP_SQL = f"""
WITH {EV_US},
g AS (
  SELECT user_id,
         {half_up_cents_sql("value")} AS cents,
         epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS gap_us
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, COUNT(*) AS n_obs,
       CAST(SUM(gap_us) AS BIGINT) AS span_us,
       CAST(SUM(cents * gap_us) // SUM(gap_us) AS BIGINT) AS twap_cents
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candlestick bars per event type: open/close are the
    first/last value in the bar (deterministic (ts, event_id) argmin /
    argmax via min/max over a packed struct — no window, no self-join),
    high/low are plain min/max, plus volume — the canonical time-series
    downsampling every metrics/trading store provides.

    One partial-agg shuffle on the (type, hour) key; the struct-packed
    argmin/argmax rides the same combine (Spark ``min(struct(ts, id,
    v))`` ≡ DuckDB ``arg_min``-by-tuple, spelled portably on both
    sides). All values integer cents — engine-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        half_up_cents("value").alias("cents"),
    )
    return (
        ev.groupBy("event_type", "bar")
        .agg(
            F.min(F.struct("us", "event_id", "cents")).alias("o"),
            F.max(F.struct("us", "event_id", "cents")).alias("c"),
            F.max("cents").alias("high"),
            F.min("cents").alias("low"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            "event_type",
            F.date_format("bar", "yyyy-MM-dd HH:mm:ss").alias("bar"),
            F.col("o.cents").alias("open"),
            "high",
            "low",
            F.col("c.cents").alias("close"),
            "volume",
        )
        .orderBy("event_type", "bar")
    )


Q_OHLC_SQL = f"""
WITH {EV_US},
c AS (
  SELECT event_type, date_trunc('hour', ts) AS bar,
         epoch_us(ts) AS us, event_id,
         {half_up_cents_sql("value")} AS cents
  FROM ev
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, bar
                            ORDER BY us, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, bar
                            ORDER BY us DESC, event_id DESC) AS rn_d
  FROM c
)
SELECT event_type, strftime(bar, '%Y-%m-%d %H:%M:%S') AS bar,
       CAST(MAX(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open,
       MAX(cents) AS high, MIN(cents) AS low,
       CAST(MAX(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close,
       COUNT(*) AS volume
FROM ranked GROUP BY event_type, bar
ORDER BY event_type, bar
"""


MAU_WINDOW_DAYS = 30


def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / MAU stickiness per day — the engagement ratio every product
    dashboard leads with. DAU is the per-day distinct user count (one
    exact two-phase aggregate); MAU is the trailing-30-day distinct,
    ``_trailing_users`` with n = 30, the same bounded fanout as
    `q_rolling_wau`, not unbounded window state. Stickiness is integer
    ppm — engine-exact. Only days with actual activity anchor the
    output."""
    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .localCheckpoint()  # feeds DAU, MAU fanout, and the day anchor
    )
    days = ud.select(F.col("d").alias("window_day")).distinct()
    dau = ud.groupBy(F.col("d").alias("window_day")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    return (
        dau.join(_trailing_users(ud, days, MAU_WINDOW_DAYS, "mau"), "window_day")
        .select(
            F.date_format("window_day", "yyyy-MM-dd").alias("window_day"),
            "dau",
            "mau",
            F.expr("dau * 1000000 DIV mau").alias("stickiness_ppm"),
        )
        .orderBy("window_day")
    )


Q_DAU_MAU_SQL = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
days AS (SELECT DISTINCT d AS window_day FROM ud),
dau AS (SELECT d AS window_day, COUNT(*) AS dau FROM ud GROUP BY d),
{_contrib_sql(MAU_WINDOW_DAYS)},
mau AS (
  SELECT c.window_day, COUNT(*) AS mau
  FROM contrib c JOIN days USING (window_day)
  GROUP BY c.window_day
)
SELECT strftime(window_day, '%Y-%m-%d') AS window_day, dau, mau,
       CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm
FROM dau JOIN mau USING (window_day)
ORDER BY window_day
"""



# ---------------------------------------------------------------------------
# Sequence pattern matching (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------

SEQ_CAP = 1000  # per-user journey prefix length (bounds state at scale)
SEQ_PATTERNS = [
    ("signup_first", "^s"),
    ("triple_purchase_run", "ppp"),
    ("ends_with_purchase", "p$"),
]


def q_seq_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event journeys — the core
    of SQL MATCH_RECOGNIZE / CEP engines, reduced to its scalable Spark
    form: build each user's chronological event-type string ONCE (one
    groupBy shuffle; ordering via ``array_sort`` on (ts, event_id,
    letter) structs, deterministic because event_id breaks ts ties), cap
    it at SEQ_CAP letters (bounds per-key state — the same reason CEP
    engines bound NFA buffers), then evaluate every regex pattern as a
    cheap scan over the tiny per-user string table.

    Patterns are plain concatenation/closure regexes (RE2-safe, no
    backtracking blowup); adding one costs one ``rlike`` column, not
    another pass over the events table. Each event type maps to its
    distinct first letter (c/v/p/s/e).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("letter")
    )
    journeys = ev.groupBy("user_id").agg(
        F.substring(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "letter"))
                    ),
                    lambda x: x["letter"],
                ),
                "",
            ),
            1,
            SEQ_CAP,
        ).alias("journey")
    )
    agg = journeys.agg(
        F.count(F.lit(1)).alias("n_users"),
        *[
            F.sum(F.when(F.col("journey").rlike(rx), 1).otherwise(0)).alias(f"m{i}")
            for i, (_, rx) in enumerate(SEQ_PATTERNS)
        ],
    )
    stacked = agg.selectExpr(
        "n_users",
        "stack("
        + str(len(SEQ_PATTERNS))
        + ", "
        + ", ".join(f"'{name}', m{i}" for i, (name, _) in enumerate(SEQ_PATTERNS))
        + ") AS (pattern, n_matched)",
    )
    return stacked.select(
        "pattern",
        "n_matched",
        "n_users",
        F.expr("n_matched * 1000000 DIV n_users").alias("match_ppm"),
    ).orderBy("pattern")


Q_SEQ_PATTERN_SQL = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         substr(event_type, 1, 1) AS letter
  FROM events
), journeys AS (
  SELECT user_id,
         substr(string_agg(letter, '' ORDER BY ts, event_id), 1, {SEQ_CAP}) AS journey
  FROM ev GROUP BY user_id
), agg AS (
  SELECT count(*) AS n_users,
         {", ".join(f"CAST(sum(CASE WHEN regexp_matches(journey, '{rx}') THEN 1 ELSE 0 END) AS BIGINT) AS m{i}" for i, (_, rx) in enumerate(SEQ_PATTERNS))}
  FROM journeys
), stacked AS (
  {" UNION ALL ".join(f"SELECT '{name}' AS pattern, m{i} AS n_matched, n_users FROM agg" for i, (name, _) in enumerate(SEQ_PATTERNS))}
)
SELECT pattern, n_matched, n_users,
       n_matched * 1000000 // n_users AS match_ppm
FROM stacked ORDER BY pattern
"""


QUERIES = {
    q_seq_pattern_match: Q_SEQ_PATTERN_SQL,
    q_funnel_windowed: Q_FUNNEL_WINDOWED_SQL,
    q_bot_flag: Q_BOT_FLAG_SQL,
    q_top_paths: Q_TOP_PATHS_SQL,
    q_gapfill_interpolate: Q_GAPFILL_SQL,
    q_cusum_anomaly: Q_CUSUM_SQL,
    q_time_weighted_avg: Q_TWAP_SQL,
    q_ohlc_bars: Q_OHLC_SQL,
    q_dau_mau_stickiness: Q_DAU_MAU_SQL,
    q_rolling_wau: Q_ROLLING_WAU_SQL,
    q_wow_growth: Q_WOW_SQL,
    q_cumulative_distinct_users: Q_CUM_USERS_SQL,
    q_click_no_purchase: Q_ABANDON_SQL,
    q_event_transition_matrix: Q_TRANSITION_SQL,
    q_rfm_segmentation: Q_RFM_SQL,
    q_funnel: Q_FUNNEL_SQL,
    q_interval_concurrency: Q_INTERVAL_CONC_SQL,
    q_ewma_decay: Q_EWMA_SQL,
    q_cohort_retention: Q_COHORT_SQL,
    q_resample_locf: Q_RESAMPLE_LOCF_SQL,
    q_hypertable_rollup: Q_HYPERTABLE_SQL,
}
