"""Streaming semantics: count-based micro-batcher (O9), window aggs,
Kafka JSON encode/decode (O4/O8)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_pyspark_bigdata_spark.sources.batch import load_table
from kafka_pyspark_bigdata_spark.streaming import queries as sq
from kafka_pyspark_bigdata_spark.streaming import windows
from kafka_pyspark_bigdata_spark.streaming.batcher import run_count_batched_stream
from kafka_pyspark_bigdata_spark.streaming.kafka import decode_json_stream, encode_json
from kafka_pyspark_bigdata_spark.streaming.queries import _events_stream

from conftest import no_spark_job, oracle_test

SF = "/root/testdata/sf0.001"

test_streaming_oracle = oracle_test(sq)


def test_count_batcher_exact_sizes_and_cap(spark, tmp_path):
    """1000 rows, batch_size=300, cap=3 → exactly 3×300, remainder dropped
    (consumer.py:80-82: stop landing once the cap is hit)."""
    stream = _events_stream(spark, SF)
    b = run_count_batched_stream(
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        batch_size=300,
        max_batches=3,
    )
    sizes = {
        r.batch_id: r.n_rows
        for r in b.result(spark)
        .groupBy("batch_id")
        .agg(F.count("*").alias("n_rows"))
        .collect()
    }
    assert sizes == {0: 300, 1: 300, 2: 300}


def test_events_stream_memoizes_schema_until_the_file_changes(spark, tmp_path):
    """The first stream build infers the events schema (a Parquet job);
    the second starts no job before ``.start()``. Rewriting the file with
    another schema re-infers it."""
    import pandas as pd

    path = tmp_path / "events.parquet"
    ev = pd.DataFrame(
        {"event_id": [1, 2], "user_id": [7, 8], "event_type": ["a", "b"]}
    )
    ev.to_parquet(path)
    assert _events_stream(spark, str(tmp_path)).columns == list(ev.columns)
    with no_spark_job(spark, "a second events stream build"):
        assert _events_stream(spark, str(tmp_path)).columns == list(ev.columns)
    ev.assign(value=[0.5, 1.5]).to_parquet(path)
    got = _events_stream(spark, str(tmp_path)).columns
    assert got == [*ev.columns, "value"]


def test_count_batcher_remainder_flush(spark, tmp_path):
    """Cap above supply → remainder lands as a final partial file
    (consumer.py:85-94)."""
    stream = _events_stream(spark, SF)
    b = run_count_batched_stream(
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        batch_size=300,
        max_batches=5,
    )
    sizes = {
        r.batch_id: r.n_rows
        for r in b.result(spark)
        .groupBy("batch_id")
        .agg(F.count("*").alias("n_rows"))
        .collect()
    }
    assert sizes == {0: 300, 1: 300, 2: 300, 3: 100}
    # all 1000 input rows preserved, none duplicated
    assert b.result(spark).select("event_id").distinct().count() == 1000


def test_window_aggs_batch_semantics(spark):
    ev = load_table(spark, SF, "events")
    tumbling = windows.tumbling_agg(ev).collect()
    assert sum(r.n_events for r in tumbling) == 1000
    sliding = windows.sliding_agg(ev, width="2 hours", slide="1 hour").collect()
    # every event lands in exactly 2 sliding windows
    assert sum(r.n_events for r in sliding) == 2000
    sess = windows.session_agg(ev, gap="30 minutes").collect()
    assert sum(r.n_events for r in sess) == 1000
    assert all(r.session_start <= r.session_end for r in sess)


def test_kafka_json_roundtrip_and_corrupt_skip(spark):
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("kind", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "click", 1.5), (2, "view", 2.5)], ["event_id", "kind", "value"]
    )
    encoded = encode_json(df)
    assert encoded.columns == ["value"]
    corrupt = spark.createDataFrame(
        [("not json",), ("[1,2,3]",)], ["value"]
    )
    both = encoded.unionByName(corrupt)
    decoded = decode_json_stream(both, schema).orderBy("event_id").collect()
    # corrupt payloads skipped (consumer.py:47-49); valid rows intact
    assert [(r.event_id, r.kind, r.value) for r in decoded] == [
        (1, "click", 1.5),
        (2, "view", 2.5),
    ]


def test_global_index_dense_on_shuffled_multipartition_input(spark):
    """_global_index must assign a dense 0..n-1 index even when the input
    arrives through a shuffle (non-deterministic partition order) — the
    localCheckpoint pins ONE evaluation for both the stats job and the
    downstream plan."""
    from kafka_pyspark_bigdata_spark.streaming.batcher import CountBatcher

    df = (
        load_table(spark, SF, "events")
        .repartition(7, F.col("user_id"))
        .select("event_id", "user_id")
    )
    b = CountBatcher(out_dir="/tmp/unused_gidx")
    indexed, total = b._global_index(df)
    assert total == 1000
    idx = sorted(r["_idx"] for r in indexed.select("_idx").collect())
    assert idx == list(range(total))
    # batch bucketing derived from the index is exact-size
    sizes = (
        indexed.withColumn("b", (F.col("_idx") / 250).cast("int"))
        .groupBy("b")
        .count()
        .collect()
    )
    assert {r["b"]: r["count"] for r in sizes} == {0: 250, 1: 250, 2: 250, 3: 250}


import pytest


@pytest.mark.skipif(
    not os.environ.get("KAFKA_BOOTSTRAP"),
    reason="set KAFKA_BOOTSTRAP=host:port (and put spark-sql-kafka on the "
    "classpath) to run the real-broker integration smoke",
)
def test_kafka_roundtrip_against_real_broker(spark, tmp_path):
    """O5/O7 against a live broker: stream events → kafka_sink → topic →
    kafka_source → memory sink; every event_id must survive the hop."""
    import uuid

    from kafka_pyspark_bigdata_spark.streaming.kafka import kafka_sink, kafka_source

    bootstrap = os.environ["KAFKA_BOOTSTRAP"]
    topic = f"kpbd_smoke_{uuid.uuid4().hex[:8]}"
    src = _events_stream(spark, SF).select("event_id", "event_type", "value")
    q = kafka_sink(src, bootstrap, topic, str(tmp_path / "ckpt_sink"))
    q.processAllAvailable()
    q.stop()

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    back = kafka_source(spark, bootstrap, topic, schema)
    name = f"kafka_back_{uuid.uuid4().hex[:8]}"
    q2 = (
        back.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_src"))
        .start()
    )
    q2.awaitTermination()
    assert spark.table(name).select("event_id").distinct().count() == 1000


def test_count_batcher_across_micro_batches(spark, tmp_path):
    """The remainder-carry path must hold when the stream arrives as MANY
    micro-batches (maxFilesPerTrigger=1): 4 files × 250 rows with
    batch_size=300 forces a carry into every batch; final flush lands the
    100-row tail. Total rows preserved exactly."""
    src_dir = str(tmp_path / "src")
    ev = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    ev.repartition(4).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    b = run_count_batched_stream(
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        batch_size=300,
        max_batches=10,
    )
    sizes = {
        r.batch_id: r.n_rows
        for r in b.result(spark)
        .groupBy("batch_id")
        .agg(F.count("*").alias("n_rows"))
        .collect()
    }
    assert sum(sizes.values()) == 1000
    full = {k: v for k, v in sizes.items() if v == 300}
    assert len(full) == 3 and sizes[max(sizes)] == 100
    assert b.result(spark).select("event_id").distinct().count() == 1000


def test_count_batcher_idempotent_on_batch_redelivery(spark, tmp_path):
    """foreachBatch is at-least-once: redelivering the SAME batch_id must
    be a no-op (no duplicate rows, no double-advanced pending state)."""
    from kafka_pyspark_bigdata_spark.streaming.batcher import CountBatcher

    df = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    b = CountBatcher(str(tmp_path / "out"), batch_size=300, max_batches=5)
    b.process_batch(df, batch_id=0)
    before = b.result(spark).count()
    b.process_batch(df, batch_id=0)  # redelivery — must not re-append
    assert b.result(spark).count() == before
    b.process_batch(df, batch_id=1)  # a NEW batch still lands
    assert b.result(spark).count() > before
    assert b.result(spark).groupBy("event_id").count().filter("count > 2").isEmpty()



def test_upsert_latest_multibatch_and_state_size(spark):
    """The upsert sink really runs multiple micro-batches (checkpoint
    offsets) and its state holds exactly one row per distinct key."""
    import glob
    import tempfile

    from kafka_pyspark_bigdata_spark.streaming.queries import (
        UPSERT_SRC_FILES,
        streaming_upsert_latest,
    )

    out = streaming_upsert_latest(spark, SF)
    n_users = (
        load_table(spark, SF, "events").select("user_id").distinct().count()
    )
    assert out.count() == n_users
    assert out.groupBy("user_id").count().filter("count > 1").isEmpty()
    # same per-(tag, sf, pid) path the sink's scratch_dir call produced;
    # NOT scratch_dir() itself — calling it here would wipe the checkpoint
    ckpt = os.path.join(
        tempfile.gettempdir(),
        "kpbd_scratch",
        f"upsert_state_{os.path.basename(SF)}_p{os.getpid()}",
        "_ckpt",
        "offsets",
        "*",
    )
    assert len(glob.glob(ckpt)) >= UPSERT_SRC_FILES


def test_watermark_lates_drop_and_retention(spark):
    """Windows finalized before the stragglers arrived hold on-time-only
    counts (late rows dropped); windows past the final watermark are
    never emitted; total emitted rows < full batch window count."""
    from pyspark.sql import functions as F

    from kafka_pyspark_bigdata_spark.streaming.queries import (
        WM_LATE_MOD,
        streaming_watermark_lates,
    )

    out = streaming_watermark_lates(spark, SF).cache()
    ev = load_table(spark, SF, "events")
    # every emitted window <= final watermark: max ts minus 2h
    max_ts = ev.agg(F.max("ts")).first()[0]
    assert all(
        r.window_end <= max_ts.strftime("%Y-%m-%d %H:%M:%S")
        for r in out.select("window_end").collect()
    )
    # earliest emitted window: on-time rows only
    first = out.orderBy("window_start").first()
    ontime_n = (
        ev.filter(F.col("event_id") % WM_LATE_MOD != 0)
        .filter(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss") == first.window_start)
        .count()
    )
    assert first.n_events == ontime_n
    # and strictly fewer rows than the all-inclusive batch rollup
    full = ev.groupBy(F.date_trunc("hour", "ts")).count().count()
    assert out.count() < full
    out.unpersist()


def test_chained_windows_oracle_and_cascade_invariants(spark):
    """Two chained stateful aggregations in one query (value-exact vs the
    batch cascade oracle in test_streaming_oracle): every emitted hour
    has 1..4 15-minute blocks, the peak block never exceeds the hour
    total, and block counts sum consistently."""
    rows = sq.streaming_chained_windows(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        assert 1 <= r.n_blocks <= 4
        assert r.peak_15min <= r.n_events
        assert r.n_events >= r.n_blocks  # every block holds ≥1 event


def test_outer_join_supersets_inner_with_expired_nulls(spark):
    """Left-outer stream join (value-exact vs the watermark-emission oracle
    in test_streaming_oracle): its matched subset equals the inner join
    exactly, and every NULL row's click window fully precedes the final
    watermark."""
    sf = "/root/testdata/sf0.001"
    outer = sq.streaming_stream_outer_join(spark, sf).collect()
    inner = {
        (r.click_id, r.purchase_id)
        for r in sq.streaming_stream_join(spark, sf).collect()
    }
    matched = {(r.click_id, r.purchase_id) for r in outer if r.purchase_id is not None}
    assert matched == inner
    assert any(r.purchase_id is None for r in outer)


def test_streaming_hll_within_published_bound(spark):
    """Every streamed window's HLL estimate must sit within the asserted
    bound of the exact batch distinct count."""
    from kafka_pyspark_bigdata_spark.streaming import queries as SQ

    rows = SQ.streaming_hll_windowed(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r.within_bound for r in rows)
    assert all(r.exact_users > 0 for r in rows)


def test_exactly_once_sink_replay_skips_committed_batch(spark):
    """The txn-ledger foreachBatch sink under an injected crash: the first
    run dies AFTER batch EXACTLY_ONCE_FAIL_AT's sink commit but BEFORE its
    streaming commit log entry; the same-checkpoint restart must re-run
    that batch id and SKIP the write. Proof obligations: the crash actually
    fired (the fail flag was consumed), the ledger holds exactly one txn
    dir per source file, and the union of txn dirs equals the input —
    every event exactly once despite the replay."""
    import tempfile

    from kafka_pyspark_bigdata_spark.streaming.queries import (
        EXACTLY_ONCE_SRC_FILES,
        streaming_exactly_once_sink,
    )

    sf = "/root/testdata/sf0.001"
    out = {r.event_type: r for r in streaming_exactly_once_sink(spark, sf).collect()}
    root = os.path.join(
        tempfile.gettempdir(),
        "kpbd_scratch",
        f"exactly_once_{os.path.basename(sf)}_p{os.getpid()}",
    )
    assert not os.path.exists(os.path.join(root, "fail_once"))  # crash fired
    txns = [d for d in os.listdir(os.path.join(root, "sink")) if d.startswith("txn_")]
    assert len(txns) == EXACTLY_ONCE_SRC_FILES  # one commit per batch, no dup dir
    sink_total = spark.read.parquet(os.path.join(root, "sink", "txn_*")).count()
    ev = load_table(spark, sf, "events")
    assert sink_total == ev.count()  # replayed batch skipped, none lost
    truth = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert {t: r.n_events for t, r in out.items()} == {
        t: r.n_events for t, r in truth.items()
    }


def test_checkpoint_resume_exactly_once(spark):
    """Second start against the same checkpoint must process ONLY files
    landed after the first run: sink holds every event exactly once."""
    from kafka_pyspark_bigdata_spark.sources.batch import load_table
    from kafka_pyspark_bigdata_spark.streaming.queries import (
        streaming_checkpoint_resume,
    )

    sf = "/root/testdata/sf0.001"
    out = streaming_checkpoint_resume(spark, sf)
    ev = load_table(spark, sf, "events")
    per_type = {r.event_type: r.n_rows for r in out.collect()}
    truth = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_type == truth  # any replay doubles a count; any loss drops one
