"""Oracle smoke + invariants for the pattern-mining / attribution /
profiling module (market-basket pairs, last-touch attribution, rolling
median, forward as-of, column profiling)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_pyspark_bigdata_spark.plans import mining
from kafka_pyspark_bigdata_spark.sources.batch import load_table

from conftest import SF_SMOKE, oracle_test


test_mining_oracle = oracle_test(mining)


def test_basket_pair_invariants(spark):
    """Pairs are canonical (p1 < p2), support-bounded by part counts, and
    support never exceeds the smaller side's order count."""
    df = mining.q_market_basket_pairs(spark, SF_SMOKE)
    assert df.filter("p1 >= p2").count() == 0
    assert df.filter(f"n_ab < {mining.BASKET_MIN_SUPPORT}").count() == 0
    assert df.filter("n_ab > n_a OR n_ab > n_b").count() == 0


def test_attribution_conserves_purchases(spark):
    """Attribution partitions the purchase set: campaign counts sum to
    the total number of purchases (nothing dropped or double-counted)."""
    df = mining.q_attribution_last_touch(spark, SF_SMOKE)
    total = df.agg(F.sum("n_purchases")).first()[0]
    n_purch = (
        load_table(spark, SF_SMOKE, "events")
        .filter("event_type = 'purchase'")
        .count()
    )
    assert total == n_purch


def test_rolling_median_bounds(spark):
    """The rolling median is always within the running min/max of the
    same frame (order-statistic sanity)."""
    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.expr("CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)").alias("cents"),
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(mining.MEDIAN_WINDOW - 1), 0)
    )
    med = mining.q_rolling_median(spark, SF_SMOKE).select(
        "user_id", "rn", "rolling_median_cents"
    )
    rn_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frames = ev.select(
        "user_id",
        F.row_number().over(rn_w).cast("long").alias("rn"),
        F.min("cents").over(w).alias("lo"),
        F.max("cents").over(w).alias("hi"),
    )
    joined = med.join(frames, ["user_id", "rn"])
    assert (
        joined.filter(
            (F.col("rolling_median_cents") < F.col("lo"))
            | (F.col("rolling_median_cents") > F.col("hi"))
        ).count()
        == 0
    )


def test_asof_forward_within_tolerance(spark):
    """Every matched gap is within tolerance and nonnegative; every click
    appears exactly once (left-join cardinality contract)."""
    df = mining.q_asof_forward(spark, SF_SMOKE)
    tol_us = mining.ASOF_FWD_TOL_MIN * 60 * 1_000_000
    assert df.filter(f"gap_us < 0 OR gap_us > {tol_us}").count() == 0
    n_clicks = (
        load_table(spark, SF_SMOKE, "events")
        .filter("event_type = 'click'")
        .count()
    )
    assert df.count() == n_clicks


def test_profile_matches_direct(spark):
    """Profile metrics agree with directly-computed per-column stats."""
    df = mining.q_profile_columns(spark, SF_SMOKE).toPandas().set_index("col_name")
    li = load_table(spark, SF_SMOKE, "lineitem")
    n = li.count()
    for c in mining.PROFILE_COLS:
        row = df.loc[c]
        assert row.n_rows == n
        assert row.n_distinct == li.select(c).distinct().count()
        lo, hi = li.agg(F.min(c), F.max(c)).first()
        assert row.min_v == float(lo) and row.max_v == float(hi)


def test_benford_shares_sum_to_one_and_constants_are_the_law(spark):
    """Observed ppm shares tile ~1e6 and the expected column carries the
    Benford constants (which themselves sum to ~1e6)."""
    from kafka_pyspark_bigdata_spark.plans import mining

    rows = mining.q_benford_audit(spark, "/root/testdata/sf0.01").collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.obs_ppm for r in rows) - 1_000_000) < len(rows)
    assert sum(mining.BENFORD_PPM.values()) == 1_000_000
    for r in rows:
        assert r.benford_ppm == mining.BENFORD_PPM[r.digit]


def test_gini_bounds_and_decile_dominance(spark):
    """Gini sits in [0, 1e6) ppm and the top decile's share must be at
    least a decile's worth (it holds the largest spenders)."""
    from kafka_pyspark_bigdata_spark.plans import mining

    r = mining.q_gini_concentration(spark, "/root/testdata/sf0.01").collect()[0]
    assert 0 <= r.gini_ppm < 1_000_000
    assert r.top_decile_share_ppm >= 100_000 - 10  # >= its population share
    assert r.n_users > 0 and r.total_cents > 0


def test_lorenz_curve_is_convex_and_ends_at_one(spark):
    """Cumulative shares are nondecreasing, end at ~1e6 ppm, and the
    ascending-decile ordering makes per-decile spend nondecreasing
    (convexity of the Lorenz curve)."""
    from kafka_pyspark_bigdata_spark.plans import mining

    rows = mining.q_lorenz_deciles(spark, "/root/testdata/sf0.01").collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    shares = [r.cum_share_ppm for r in rows]
    assert shares == sorted(shares)
    assert 1_000_000 - 10 <= shares[-1] <= 1_000_000
    cents = [r.decile_cents for r in rows]
    assert cents == sorted(cents)


def test_hdr_buckets_are_powers_of_two_and_tile(spark):
    import duckdb as _d

    from kafka_pyspark_bigdata_spark.plans import mining

    rows = mining.q_hdr_histogram(spark, "/root/testdata/sf0.01").collect()
    for r in rows:
        assert r.lo_cents == 2 ** r.log2_bucket
        assert r.hi_cents == 2 ** (r.log2_bucket + 1) - 1
    n = _d.sql(
        "SELECT COUNT(*) FROM '/root/testdata/sf0.01/orders.parquet' WHERE o_totalprice > 0"
    ).fetchone()[0]
    assert sum(r.n_orders for r in rows) == n


def test_weighted_median_splits_weight_mass(spark):
    """At least half the total weight sits at-or-below the weighted
    median, and strictly less than half sits strictly below it."""
    from kafka_pyspark_bigdata_spark.plans import mining

    r = mining.q_weighted_median(spark, "/root/testdata/sf0.01").collect()[0]
    assert r.cum_w * 2 >= r.w_total
    assert (r.cum_w - 1) * 2 < r.w_total + 2 * r.cum_w  # sanity: positive weights
    assert r.weighted_median_cents > 0


def test_modality_coverage_tiles_both_tables(spark):
    import duckdb as _d

    from kafka_pyspark_bigdata_spark.plans import mining

    r = mining.corpus_modality_coverage(spark, "/root/testdata/sf0.01").collect()[0]
    nd = _d.sql("SELECT COUNT(*) FROM '/root/testdata/sf0.01/documents.parquet'").fetchone()[0]
    ne = _d.sql("SELECT COUNT(*) FROM '/root/testdata/sf0.01/embeddings.parquet'").fetchone()[0]
    assert r.n_matched + r.n_docs_unembedded == nd
    assert r.n_matched + r.n_orphan_vectors == ne


def test_chi2_cells_reconcile_and_stat_is_sum(spark):
    """Chi-square audit: cells cover the full contingency table, observed
    counts sum to the event count, dof=(R-1)(C-1), and the grand
    statistic equals the sum of per-cell contributions."""
    from kafka_pyspark_bigdata_spark.plans.mining import (
        CHI2_SEGMENTS,
        q_chi2_independence,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    rows = q_chi2_independence(spark, sf).collect()
    assert rows
    n_events = load_table(spark, sf, "events").count()
    assert sum(r.o for r in rows) == n_events
    types = {r.event_type for r in rows}
    cohorts = {r.cohort for r in rows}
    assert cohorts <= set(range(CHI2_SEGMENTS))
    expect_dof = (len(types) - 1) * (len(cohorts) - 1)
    assert all(r.dof == expect_dof for r in rows)
    assert all(r.chi2_ppm == sum(x.contrib_ppm for x in rows) for r in rows)
    assert all(r.contrib_ppm >= 0 for r in rows)


def test_interval_overlap_matches_bruteforce(spark):
    """The binned range join reproduces the quadratic reference count
    exactly, with every pair attributed to the bin of the later start."""
    from collections import Counter

    rows = mining.q_interval_overlap_join(spark, SF_SMOKE).collect()
    o = (
        load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_orderpriority") == mining.IVL_PRIORITY)
        .select(
            F.col("o_orderkey").alias("k"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("s"),
        )
        .collect()
    )
    ivls = [(r.k, r.s, r.s + r.k % mining.IVL_MAX_DUR_DAYS + 1) for r in o]
    ref = Counter()
    for ai, (ka, sa, ea) in enumerate(ivls):
        for kb, sb, eb in ivls[ai + 1:]:
            if sa <= eb and sb <= ea:
                ref[max(sa, sb) // mining.IVL_BIN_DAYS] += 1
    got = {r.bin_id: r.n_pairs for r in rows}
    assert got == dict(ref)
    for r in rows:
        assert r.bin_start_day == r.bin_id * mining.IVL_BIN_DAYS


def test_skyline_matches_bruteforce_dominance(spark):
    """Every returned customer is undominated within its nation, every
    omitted one is dominated — checked against the O(n^2) definition."""
    per_cust = (
        load_table(spark, SF_SMOKE, "orders")
        .join(
            load_table(spark, SF_SMOKE, "customer").select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            ),
            "o_custkey",
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))"
            ).alias("x"),
            F.count(F.lit(1)).alias("y"),
        )
        .collect()
    )
    by_nation = {}
    for r in per_cust:
        by_nation.setdefault(r.c_nationkey, []).append((r.o_custkey, r.x, r.y))
    expected = set()
    for nat, pts in by_nation.items():
        for k, x, y in pts:
            dominated = any(
                (x2 >= x and y2 >= y and (x2 > x or y2 > y))
                for k2, x2, y2 in pts
                if k2 != k
            )
            if not dominated:
                expected.add((nat, k))
    got = {
        (r.c_nationkey, r.o_custkey)
        for r in mining.q_skyline_grouped(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_linear_attribution_conserves_revenue(spark):
    """Largest-remainder splitting: total credited cents equals total
    purchase cents exactly, and every campaign credit is nonnegative."""
    rows = mining.q_attribution_linear(spark, SF_SMOKE).collect()
    total_purchases = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.expr("CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)").alias("c"))
        .agg(F.sum("c").alias("s"))
        .collect()[0]
        .s
    )
    assert sum(r.credited_cents for r in rows) == total_purchases
    assert all(r.credited_cents >= 0 and r.n_credits > 0 for r in rows)
