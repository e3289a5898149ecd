"""SparkSession factory with scale-appropriate defaults.

The reference creates bare sessions with a legacy flag
(spark_trainer.py:10-21, api.py:11-18 set ``spark.sql.legacy.setCommandReorder``);
a fresh build drops that and instead turns on the things that matter at
100 TB: AQE (runtime coalescing + skew-join splitting), a sane shuffle
partition count, Arrow for any pandas interchange, and UTC session time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kafka_pyspark_bigdata_spark",
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    The master is ``$SPARK_GRAFT_MASTER`` (a deployment address), else
    ``local[$SPARK_GRAFT_CPUS]`` (default 32). Shuffle partitions default
    to 32 locally — on a 1000-executor cluster you would size this ~2-3x
    total cores (or simply rely on AQE coalescing from a higher initial
    value).
    """
    master = os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # dynamic broadcast — essential at scale, free locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic wall-clock semantics for timestamp fixtures.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow-batched transfer for pandas UDFs / toPandas (10-100x row-at-a-time).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables (region/nation/supplier/part at TPC-H shape) are
        # broadcast-size even at 100 TB fact scale; raise the threshold so
        # Catalyst picks broadcast-hash joins without hints.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan parallelism: 128 MiB splits is the right grain for wide
        # parquet fact tables.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Runtime row-level filtering: Catalyst injects a BloomFilterAggregate
        # on the small side of a shuffle join and pushes might_contain into
        # the big side's scan — the engine-native version of q_bloom_prune's
        # portable bloom (the SQL functions themselves are internal-only and
        # unregistered, so this conf IS the supported native bloom path).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Whole-stage-codegen class cache (STATIC conf, JVM-wide): the
        # default 100 entries thrashes on any application that runs a
        # fleet of distinct queries — this engine's bench compiles 600+
        # generated classes per run, so every pass re-evicts and
        # re-compiles stages the warm-up already compiled. Sized for a
        # many-query application; identical reasoning on a production
        # cluster running a query fleet (compilation happens once per
        # app either way — this is not a local-only tune). ~20-50 KB of
        # metaspace per cached class keeps 2000 entries under ~100 MB.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Long-lived sessions (the 400-test suite, a multi-hour job server)
        # accumulate orphaned localCheckpoint/cache blocks until the
        # ContextCleaner's periodic GC fires — the 30min default is longer
        # than most sessions live, which surfaced as py4j OOM flakes late
        # in full-suite runs. One minute bounds the leak window.
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
