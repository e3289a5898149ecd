"""Oracle-compare the advanced relational + time-series queries at sf0.001
(fast smoke of the same gate the driver runs at sf0.01)."""

from __future__ import annotations

from kafka_pyspark_bigdata_spark.plans import advanced

from conftest import oracle_test


test_advanced_oracle = oracle_test(advanced)


def test_asof_gap_nonnegative(spark):
    """Every matched as-of pair must look backward in time."""
    df = advanced.q_asof_click_purchase(spark, "/root/testdata/sf0.001")
    bad = df.filter("gap_us < 0").count()
    assert bad == 0


def test_sessionize_invariants(spark):
    """Sessions partition each user's events; durations are non-negative."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    sess = advanced.q_sessionize(spark, sf)
    total = sess.agg(F.sum("n_events")).first()[0]
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    assert total == load_table(spark, sf, "events").count()
    assert sess.filter("duration_us < 0").count() == 0
