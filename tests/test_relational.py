"""Oracle-compare every relational query at sf0.001 (fast smoke of the same
gate the driver runs at sf0.01)."""

from __future__ import annotations

from kafka_pyspark_bigdata_spark.plans import relational

from conftest import oracle_test


test_relational_oracle = oracle_test(relational)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert {"l_returnflag", "sum_qty", "count_order"} <= set(df.columns)


def test_registry_consistency():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 17


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must join with NO Exchange on
    either side (the co-located join path write_bucketed exists for)."""
    from kafka_pyspark_bigdata_spark.sources.batch import load_table, write_bucketed

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    sf = "/root/testdata/sf0.001"
    write_bucketed(load_table(spark, sf, "orders"), "b_orders", "o_orderkey", 8)
    write_bucketed(
        load_table(spark, sf, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (a broadcast would hide the bucketing)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_lineitem").join(spark.table("b_orders"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_matches_plain_join(spark):
    """salted_join must be result-identical to the plain equi-join while
    spreading each key over the salt space."""
    from kafka_pyspark_bigdata_spark.functions.joins import salted_join
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").withColumnRenamed("l_orderkey", "okey")
    orders = load_table(spark, sf, "orders").withColumnRenamed("o_orderkey", "okey")
    plain = li.join(orders, "okey").select("okey", "l_linenumber", "o_custkey")
    salted = salted_join(li, orders, "okey", salts=4).select(
        "okey", "l_linenumber", "o_custkey"
    )
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).isEmpty() and plain.exceptAll(salted).isEmpty()


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned layout + a partition-column filter must plan
    partition pruning (the scan lists ONE directory, not five) — the
    storage-layout half of predicate pushdown."""
    from pyspark.sql import functions as F

    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    out = str(tmp_path / "events_by_type")
    load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "value", "event_type"
    ).write.partitionBy("event_type").parquet(out)

    df = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan
    n_click = df.count()
    assert 0 < n_click < 1000
