"""Oracle smoke for the analytic window/set/sketch module and the
extended TPC-H shapes at sf0.001 (same compare as the driver gate)."""

from __future__ import annotations

from kafka_pyspark_bigdata_spark.plans import analytic, tpch_extra

from conftest import oracle_test

test_plan_oracle = oracle_test(analytic, tpch_extra)


def test_quantiles_monotone_and_mad_bounds(spark):
    SF = "/root/testdata/sf0.001"
    q = analytic.q_quantiles_exact(spark, SF).collect()
    for r in q:
        assert r.p25 <= r.p50 <= r.p75 <= r.p95
    m = analytic.q_mad_outliers(spark, SF).collect()
    for r in m:
        assert 0 <= r.n_outliers <= r.n and r.mad >= 0


def test_kmv_setops_exact_when_sketch_exhaustive(spark):
    """At sf0.001 every audience is smaller than k, so each sketch IS its
    set and all four estimates must equal the exact counts."""
    from kafka_pyspark_bigdata_spark.plans import analytic

    r = analytic.sketch_kmv_setops(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.est_a == float(r.exact_a)
    assert r.est_b == float(r.exact_b)
    assert r.est_union == float(r.exact_union)
    assert r.est_inter == float(r.exact_inter)


def test_gk_quantile_bound_holds_and_is_monotone(spark):
    """GK sketch must sit within its published rank guarantee at every
    requested percentile, and exact quantiles must be nondecreasing."""
    from kafka_pyspark_bigdata_spark.plans import analytic

    rows = analytic.sketch_gk_quantile_eval(spark, "/root/testdata/sf0.01").collect()
    assert [r.pct_ppm for r in rows] == analytic.GK_PCTS_PPM
    assert all(r.within_bound for r in rows)
    vals = [r.exact_value for r in rows]
    assert vals == sorted(vals)


def test_ddsketch_guarantee_contains_exact_quantile(spark):
    """The DDSketch answer bucket must CONTAIN the exact quantile: for
    every (flag, pct) row, the true ceil-rank percentile of the cent
    values lies in [est_lo, est_hi], and bounds are the γ=2 powers."""
    import duckdb as _dd

    rows = analytic.sketch_ddsketch_quantile(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 3 * len(analytic.DD_PCTS_PPM)
    vals: dict[str, list[int]] = {}
    for f, c in _dd.sql(
        "SELECT l_returnflag,"
        " CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " FROM read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
    ).fetchall():
        vals.setdefault(f, []).append(c)
    exact = {}
    for f, cs in vals.items():
        cs.sort()
        for p in analytic.DD_PCTS_PPM:
            k = -(-len(cs) * p // 1_000_000)  # ceil rank
            exact[(f, p)] = cs[k - 1]
    for r in rows:
        assert r.est_lo_cents == 1 << r.bucket_k
        assert r.est_hi_cents == (1 << (r.bucket_k + 1)) - 1
        ev = exact[(r.l_returnflag, r.pct_ppm)]
        assert r.est_lo_cents <= ev <= r.est_hi_cents
        assert 1 <= r.target_rank <= r.n
