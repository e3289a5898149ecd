"""Oracle smoke + invariants for the behavioral analytics module
(funnel / cohort retention / LOCF resample / hypertable rollup)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_pyspark_bigdata_spark.plans import behavioral
from kafka_pyspark_bigdata_spark.sources.batch import load_table

from conftest import SF_SMOKE, oracle_test


test_behavioral_oracle = oracle_test(behavioral)


def test_funnel_monotone(spark):
    """Each funnel stage can only lose users (ordered-sequence contract)."""
    row = behavioral.q_funnel(spark, SF_SMOKE).first()
    assert row.n_signup >= row.n_click >= row.n_purchase
    if row.n_purchase:
        assert row.avg_convert_us > 0


def test_cohort_week0_full(spark):
    """Week offset 0 contains every cohort member (their first event)."""
    df = behavioral.q_cohort_retention(spark, SF_SMOKE)
    w0 = df.filter("week_offset = 0")
    assert w0.filter("n_active != cohort_size").count() == 0
    assert df.filter("retention > 1.0").count() == 0


def test_locf_grid_dense_and_filled(spark):
    """The resampled grid is dense per user and has no unfilled gaps
    (the first grid day is each user's first observation day)."""
    df = behavioral.q_resample_locf(spark, SF_SMOKE)
    assert df.filter("value_locf IS NULL").count() == 0
    per_user = df.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.countDistinct("grid_day").alias("nd"),
        F.min("grid_day").alias("lo"),
        F.max("grid_day").alias("hi"),
    )
    bad = per_user.filter(
        (F.col("n") != F.col("nd"))
        | (F.col("n") != F.datediff(F.col("hi").cast("date"), F.col("lo").cast("date")) + 1)
    ).count()
    assert bad == 0


def test_hypertable_rollup_matches_direct(spark):
    """Materialized-rollup + raw-tail merge == direct full aggregation."""
    merged = behavioral.q_hypertable_rollup(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events").select(
        F.to_date("ts").alias("d"), "event_type", "value"
    )
    from kafka_pyspark_bigdata_spark.functions.numeric import dsum

    direct = (
        ev.groupBy("d", "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    assert merged.subtract(direct).count() == 0
    assert direct.subtract(merged).count() == 0


def test_interval_concurrency_bounds(spark):
    from kafka_pyspark_bigdata_spark.plans import behavioral
    from kafka_pyspark_bigdata_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = behavioral.q_interval_concurrency(spark, sf).collect()
    assert rows
    per_type = {
        r.event_type: r.cnt
        for r in load_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in rows:
        assert 1 <= r.max_concurrent <= per_type[r.event_type]
        assert r.n_endpoints == 2 * per_type[r.event_type]


def test_ewma_is_convex_combination(spark):
    """EWMA with normalized weights must lie within [min, max] of the
    contributing window values."""
    from kafka_pyspark_bigdata_spark.plans import behavioral
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    ew = {
        (r.user_id, r.rn): r.ewma
        for r in behavioral.q_ewma_decay(spark, sf).collect()
    }
    ev = sorted(
        load_table(spark, sf, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r.value)
    checked = 0
    for uid, vals in by_user.items():
        for i in range(len(vals)):
            lo = min(vals[max(0, i - 15) : i + 1])
            hi = max(vals[max(0, i - 15) : i + 1])
            e = ew[(uid, i + 1)]
            assert lo - 1e-5 <= e <= hi + 1e-5
            checked += 1
    assert checked == len(ew)


def test_gapfill_dense_grid_no_nulls(spark):
    """Gapfill contract: per-user daily grid is dense, endpoints are
    observed (bounds come from the data), every value filled."""
    rows = behavioral.q_gapfill_interpolate(spark, SF_SMOKE).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for _, rs in by_user.items():
        assert rs[0].observed and rs[-1].observed
        assert all(r.value_fp is not None and r.value_fp >= 0 for r in rs)


def test_windowed_funnel_is_a_subset_of_the_unbounded_funnel(spark):
    """Bounding the conversion window can only shrink each stage."""
    from kafka_pyspark_bigdata_spark.plans import behavioral

    sf = "/root/testdata/sf0.01"
    u = behavioral.q_funnel(spark, sf).collect()[0]
    w = behavioral.q_funnel_windowed(spark, sf).collect()[0]
    assert w.n_signup == u.n_signup  # stage 1 has no window above it
    assert w.n_click <= u.n_click
    assert w.n_purchase <= u.n_purchase
    assert 0 <= w.purchase_rate_ppm <= 1_000_000


def test_bot_flag_median_is_a_real_gap(spark):
    """Each user's median gap must be one of their actual gaps (selection,
    not interpolation), and flags must follow the published rule."""
    from kafka_pyspark_bigdata_spark.plans import behavioral as B

    rows = B.q_bot_flag(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.median_gap_us >= 0 and r.n_events >= 2
        expect = (r.n_events >= B.BOT_MIN_EVENTS) and (
            r.median_gap_us < B.BOT_MEDIAN_GAP_US
        )
        assert r.bot_flag == expect


def test_seq_pattern_match_invariants(spark):
    """Journey regexes: matches never exceed the user universe, and the
    user universe equals the distinct-user count of the events table."""
    from kafka_pyspark_bigdata_spark.plans import behavioral
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    rows = behavioral.q_seq_pattern_match(spark, "/root/testdata/sf0.001").collect()
    n_users = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id").distinct().count()
    )
    assert {r.pattern for r in rows} == {n for n, _ in behavioral.SEQ_PATTERNS}
    assert all(0 <= r.n_matched <= r.n_users == n_users for r in rows)
    assert all(0 <= r.match_ppm <= 1_000_000 for r in rows)


def test_event_family_agrees_with_itself(spark):
    """The event queries that share a timeline, rank, funnel, daily-grid
    or trailing-window rule agree with one another: per user the gap
    count is one less than the event count, and the longest gap fits in
    the span; bounding the funnel keeps its signups and shrinks its later
    stages; daily, weekly and monthly actives nest on the same days; both
    gap fills cover the same grid; every cohort is whole in its first
    week; the lower median is at most the exact median, and equal to it
    on an odd count."""
    from kafka_pyspark_bigdata_spark.plans import advanced, analytic

    def by(q, key, sf=SF_SMOKE):
        return {key(r): r for r in q(spark, sf).collect()}

    bot = by(behavioral.q_bot_flag, lambda r: r.user_id)
    lead = by(analytic.q_lead_gap, lambda r: r.user_id)
    twap = by(behavioral.q_time_weighted_avg, lambda r: r.user_id)
    assert bot and bot.keys() == lead.keys() == twap.keys()
    for u, b in bot.items():
        assert b.n_events - 1 == lead[u].n_gaps == twap[u].n_obs
        assert lead[u].max_gap_us <= twap[u].span_us

    u = behavioral.q_funnel(spark, SF_SMOKE).first()
    w = behavioral.q_funnel_windowed(spark, SF_SMOKE).first()
    assert w.n_signup == u.n_signup
    assert w.n_click <= u.n_click and w.n_purchase <= u.n_purchase

    wau = by(behavioral.q_rolling_wau, lambda r: r.window_day)
    dau_mau = by(behavioral.q_dau_mau_stickiness, lambda r: r.window_day)
    assert wau and wau.keys() == dau_mau.keys()
    for d, r in dau_mau.items():
        assert r.dau <= wau[d].wau <= r.mau

    def grid(q):
        return {(r.user_id, r.grid_day) for r in q(spark, SF_SMOKE).collect()}

    keys = grid(behavioral.q_resample_locf)
    assert keys and keys == grid(behavioral.q_gapfill_interpolate)

    week0 = [
        r
        for r in behavioral.q_cohort_retention(spark, SF_SMOKE).collect()
        if r.week_offset == 0
    ]
    assert week0 and all(r.n_active == r.cohort_size for r in week0)

    quant = by(analytic.q_quantiles_exact, lambda r: r.o_orderpriority)
    med = by(advanced.q_exact_median, lambda r: r.o_orderpriority)
    assert quant and quant.keys() == med.keys()
    for k, m in med.items():
        assert quant[k].p50 <= m.median_price
        if m.n_orders % 2:
            assert quant[k].p50 == m.median_price
