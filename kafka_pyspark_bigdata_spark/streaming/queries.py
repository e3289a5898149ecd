"""Streaming driver-contract queries: real Structured Streaming runs
(file source, availableNow trigger) whose bounded results are checkable.

``streaming_hourly_window`` even gets an exact SQL oracle: a tumbling
1-hour window over a bounded replay is semantically identical to the batch
hourly rollup, so the DuckDB comparison validates the streaming plan's
values, not just its row count.

Each rule the queries share has one home:

- ``_run`` runs a configured stream writer to completion (``availableNow``
  trigger, then wait); ``_run_to_memory`` runs a stream into a fresh
  memory table through it and returns that table.
- ``_replay`` writes a frame as N single-file parts with increasing
  mtimes and returns the ``maxFilesPerTrigger=1`` stream over them. The
  file source takes files in mtime order, one per trigger, and a part
  with no rows still lands one file, so N parts always replay as N
  micro-batches, in order, whatever the input holds. That is what lets
  ``streaming_exactly_once_sink`` crash at batch 2 on one event or none.
- ``windows._totals`` is the count + exact ``value`` sum every rollup
  emits; ``windows._ts`` and ``windows._bounds`` format window bounds.
- ``_click_purchase_join`` builds the watermarked click and purchase
  streams and their interval condition for the inner and outer joins.
- ``stateful.STREAM_SESSION_GAP_MIN`` is the session gap of the session
  window, the transformWithState counter and their oracles.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from ..functions.numeric import dsum_sql, half_up_cents_sql
from ..sources.batch import (
    EV_US, app_memo, load_table, read_events, scratch_dir, table_path,
)
from .batcher import run_count_batched_stream
from .stateful import STREAM_SESSION_GAP_MIN, running_user_totals, session_counts
from .windows import _bounds, _totals, _ts, session_agg, sliding_agg, tumbling_agg

BATCH_SIZE = 2000
MAX_BATCHES = 3


def _run(writer: DataStreamWriter) -> None:
    """Run ``writer``'s stream over all its source holds now, then stop;
    an exception a batch raises surfaces here."""
    writer.trigger(availableNow=True).start().awaitTermination()


def _run_to_memory(
    agg: DataFrame, name_prefix: str, output_mode: str = "complete"
) -> DataFrame:
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    _run(agg.writeStream.format("memory").queryName(name).outputMode(output_mode))
    return agg.sparkSession.table(name)


def _replay(
    frame: DataFrame, src: str, parts: list[Column], first: int = 0
) -> DataFrame:
    """Write ``frame.filter(p)`` for each ``p`` in ``parts`` as one parquet
    file in ``src``, the i-th (counting from ``first``) with mtime
    1e9 + 100·i s, and return the ``maxFilesPerTrigger=1`` stream over
    ``src``: one micro-batch per file, in mtime order."""
    os.makedirs(src, exist_ok=True)
    for i, part in enumerate(parts, first):
        tmp = f"{src}_tmp{i}"
        frame.filter(part).coalesce(1).write.parquet(tmp)
        name = next(f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet"))
        dst = os.path.join(src, f"part{i}.parquet")
        shutil.move(os.path.join(tmp, name), dst)
        os.utime(dst, (1_000_000_000 + 100 * i,) * 2)
        shutil.rmtree(tmp)
    return (
        frame.sparkSession.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


# Raw (nanos-as-long) events schema, memoized by app_memo on the events
# file stamp: inferring it is one Parquet footer job, and every
# streaming query here needs it.
_EVENTS_SCHEMA_CACHE: dict[tuple[str, str, str, tuple[int, int, int]], StructType] = {}


def _events_schema(spark: SparkSession, sf_dir: str) -> StructType:
    return app_memo(
        _EVENTS_SCHEMA_CACHE, spark, sf_dir, "events_schema", "events",
        lambda: spark.read.parquet(table_path(sf_dir, "events")).schema,
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming replay of the events fixture (the broker-free
    stand-in for the Kafka source; see streaming.kafka for the real one)."""
    return read_events(
        spark,
        lambda: spark.readStream.schema(_events_schema(spark, sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir),
    )


def streaming_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window over a streamed replay of events,
    landed in a memory sink — value-identical to the batch rollup."""
    stream = _events_stream(spark, sf_dir)
    agg = tumbling_agg(stream, ts_col="ts", width="1 hour")
    return _run_to_memory(agg, "hourly").orderBy("window_start")


STREAMING_HOURLY_SQL = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM events GROUP BY 1 ORDER BY window_start
"""


def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2h-wide / 1h-slide event-time window over a streamed replay: every
    event lands in exactly two windows. The oracle expands each event into
    its two slide-aligned window starts — value-identical to the streaming
    state machine on a bounded replay."""
    stream = _events_stream(spark, sf_dir)
    agg = sliding_agg(stream, ts_col="ts", width="2 hours", slide="1 hour")
    return _run_to_memory(agg, "sliding").orderBy("window_start")


STREAMING_SLIDING_SQL = f"""
WITH {EV_US},
expanded AS (
  SELECT UNNEST([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                 date_trunc('hour', ts)]) AS ws,
         value
  FROM ev
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM expanded GROUP BY ws ORDER BY window_start
"""


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows closed by a 30-minute idle gap — the
    dynamic-window stateful operator (`session_window`). The oracle
    reproduces the semantics batch-side with the lag → gap-flag → running
    sum sessionization; session end = last event + gap (Spark's window.end
    contract)."""
    stream = _events_stream(spark, sf_dir)
    agg = session_agg(
        stream, ts_col="ts", gap=f"{STREAM_SESSION_GAP_MIN} minutes", key="user_id"
    )
    return _run_to_memory(agg, "session").orderBy("user_id", "session_start")


STREAMING_SESSION_SQL = f"""
WITH {EV_US},
g AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                      > {STREAM_SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL {STREAM_SESSION_GAP_MIN} MINUTE,
                '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: `dropDuplicates` on (user_id, event_type)
    keeps the first arrival per key in the dedup state store, then a
    running aggregate counts survivors per type — i.e. distinct users per
    event type, which is what the oracle checks (WHICH row survives is
    arrival-order-dependent; the keyed count is not)."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_distinct_users"))
    )
    return _run_to_memory(agg, "dedup").orderBy("event_type")


STREAMING_DEDUP_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
FROM events GROUP BY event_type ORDER BY event_type
"""


STREAM_JOIN_WINDOW_MIN = 30


def _click_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Each click joined (``how``) to the same user's purchases at most
    STREAM_JOIN_WINDOW_MIN after it, both sides watermarked replays of
    events, run to a memory sink in append mode."""

    def side(kind: str, p: str) -> DataFrame:
        return (
            _events_stream(spark, sf_dir)
            .filter(F.col("event_type") == kind)
            .select(
                F.col("event_id").alias(f"{kind}_id"),
                F.col("user_id").alias(f"{p}_user"),
                F.col("ts").alias(f"{p}_ts"),
            )
            .withWatermark(f"{p}_ts", "1 hour")
        )

    window = F.expr(f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES")
    joined = side("click", "c").join(
        side("purchase", "p"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + window),
        how,
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))
    joined = _run_to_memory(joined, f"ss_{how}", output_mode="append")
    return joined.orderBy("click_id", "purchase_id")


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases within 30 minutes AFTER a click
    by the same user — two independent streaming sources joined on the
    user key plus an event-time interval bound. The watermarks bound the
    join state (each side holds only 1h of events at steady state); on a
    bounded availableNow replay the emitted matches equal the batch join,
    which is exactly what the oracle runs."""
    return _click_purchase_join(spark, sf_dir, "inner")


STREAMING_JOIN_SQL = f"""
WITH {EV_US}
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
FROM ev c JOIN ev p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
ORDER BY click_id, purchase_id
"""


def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join — the enrichment pattern (stream of events
    joined against a slowly-changing batch dimension) and the one
    Structured Streaming join family the stream-stream interval join
    doesn't cover. The static side here is a per-user profile derived
    from the batch table (first-seen day + lifetime event count); Spark
    re-plans the static side per micro-batch, so at scale it is a
    broadcast dimension against each batch, with no streaming state at
    all (unlike stream-stream, nothing is buffered).

    The streamed aggregate per (profile cohort, event_type) is bounded
    and batch-equivalent on an availableNow replay, which is exactly
    what the oracle computes."""
    ev_batch = load_table(spark, sf_dir, "events")
    profile = ev_batch.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_d"),
        F.count(F.lit(1)).alias("lifetime_events"),
    )
    cohort = (F.col("lifetime_events") >= 100).alias("is_heavy")
    stream = _events_stream(spark, sf_dir).select("user_id", "event_type")
    joined = stream.join(profile.select("user_id", cohort), "user_id")
    agg = joined.groupBy("is_heavy", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return _run_to_memory(agg, "ssjoin_static").orderBy("is_heavy", "event_type")


STREAMING_STATIC_JOIN_SQL = """
WITH profile AS (
  SELECT user_id, COUNT(*) >= 100 AS is_heavy FROM events GROUP BY user_id
)
SELECT p.is_heavy, e.event_type, COUNT(*) AS n_events
FROM events e JOIN profile p USING (user_id)
GROUP BY 1, 2 ORDER BY is_heavy, event_type
"""


def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-user
    running totals updated across micro-batches. The memory sink holds one
    row per (user, update); the FINAL state per user is the row with the
    maximal (monotonically growing) event count — selected with ``max_by``
    — and must equal the batch aggregate the oracle computes, however the
    replay was split into batches."""
    stream = _events_stream(spark, sf_dir)
    updates = _run_to_memory(
        running_user_totals(stream), "stateful", output_mode="update"
    )
    return (
        updates.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(sum_cents, n_events)").alias("sum_cents"),
        )
        .orderBy("user_id")
    )


STREAMING_STATEFUL_SQL = f"""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM({half_up_cents_sql("value")}) AS BIGINT) AS sum_cents
FROM events GROUP BY user_id ORDER BY user_id
"""


TWS_SPLIT_TS = "2024-01-16 00:00:00"  # two time-ordered micro-batches


def streaming_tws_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user SESSION COUNTS via ``transformWithStateInPandas`` (the
    Spark 4 v2 stateful API, successor of applyInPandasWithState):
    ValueState carries (last event time, session count) across a
    genuinely multi-batch, time-split replay — a session spanning the
    batch boundary must NOT be double-counted, which only works if the
    state survives between batches. The oracle is the batch
    sessionization (lag → 30-min-gap flags → sum) per user, so the
    streaming state machine's final answer gets a full value check."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    mid = F.unix_micros(F.lit(TWS_SPLIT_TS).cast("timestamp"))
    src = os.path.join(scratch_dir("tws_sessions", sf_dir), "src")
    stream = _replay(ev, src, [F.col("ts_us") < mid, F.col("ts_us") >= mid])
    updates = _run_to_memory(session_counts(stream), "tws", output_mode="update")
    # final state per user = the row with the maximal (monotone) last_us
    return (
        updates.groupBy("user_id")
        .agg(F.expr("max_by(n_sessions, last_us)").alias("n_sessions"))
        .orderBy("user_id")
    )


STREAMING_TWS_SQL = f"""
WITH {EV_US},
g AS (
  SELECT user_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                      > {STREAM_SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions
FROM g GROUP BY user_id ORDER BY user_id
"""


def streaming_count_batcher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-based micro-batcher end to end (O9/O10): stream events →
    exact-size batch files (cap + remainder-flush semantics) → per-file row
    counts. Rows-only check: file sizing is the operator's contract."""
    stream = _events_stream(spark, sf_dir)
    out_dir = scratch_dir("count_batcher", sf_dir)
    ckpt = os.path.join(out_dir, "_ckpt")
    batcher = run_count_batched_stream(
        stream,
        out_dir=out_dir,
        checkpoint_dir=ckpt,
        batch_size=BATCH_SIZE,
        max_batches=MAX_BATCHES,
    )
    return (
        batcher.result(spark)
        .groupBy("batch_id")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("batch_id")
    )


WM_DELAY_MS = 2 * 3600 * 1000  # 2-hour watermark
WM_LATE_MOD = 3  # event_id % 3 == 0 rows arrive late (last batch)
WM_MID_TS = "2024-01-16 00:00:00"  # fixture mid-point: splits on-time replay


def streaming_watermark_lates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append-mode emission semantics, value-exact, over a
    THREE-batch replay: on-time first half (days 1-15), on-time second
    half (advances the watermark far past the first half's windows and
    EVICTS them), then every straggler (event_id % 3 == 0).

    The oracle pins Structured Streaming's real contract, empirically
    calibrated on this engine version and deterministic by construction:

    - Batch 2's eviction emits first-half windows with ON-TIME-ONLY
      counts (end ≤ wm1 = max(first-half ts) − 2h).
    - Stragglers landing in windows still in state (end > wm1) merge
      normally — the grace the watermark buys.
    - Stragglers landing in ALREADY-EVICTED windows are DROPPED: the
      input late-filter compares each row's window end against the
      watermark carried over from the previous batch, so data behind an
      eviction never resurfaces (no duplicate append emission).
    - Windows whose end exceeds the final watermark stay in state,
      unemitted.

    Spark tracks event time in MILLISECONDS, so the SQL mirror does its
    watermark arithmetic in epoch-ms BIGINTs — micros truncation
    included. Batch order is forced by explicit file mtimes (the file
    source orders by modification time). State is bounded by the
    watermark — O(open windows) — which is the 100 TB property this
    operator exists to keep.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    ontime = F.col("event_id") % WM_LATE_MOD != 0
    mid = F.lit(WM_MID_TS).cast("timestamp")
    root = scratch_dir("wm_lates", sf_dir)
    stream = _replay(ev, os.path.join(root, "src"), [
        ontime & (F.col("ts") < mid),
        ontime & (F.col("ts") >= mid),
        F.col("event_id") % WM_LATE_MOD == 0,
    ])
    agg = _totals(
        stream.withWatermark("ts", "2 hours"), F.window("ts", "1 hour").alias("w")
    )
    out = os.path.join(root, "out")
    _run(
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(root, "_ckpt"))
        .outputMode("append")
    )
    return (
        spark.read.parquet(out)
        .select(*_bounds("window"), "n_events", "sum_value")
        .orderBy("window_start", "n_events")
    )


STREAMING_WM_SQL = f"""
WITH {EV_US},
ontime AS (SELECT ts, value FROM ev WHERE event_id % {WM_LATE_MOD} <> 0),
wm1 AS (
  SELECT MAX(epoch_ms(ts)) - {WM_DELAY_MS} AS wm FROM ontime
  WHERE ts < TIMESTAMP '{WM_MID_TS}'
),
wmf AS (SELECT MAX(epoch_ms(ts)) - {WM_DELAY_MS} AS wm FROM ev),
emitted AS (
  -- batch-2 eviction: first-half windows, on-time rows only
  SELECT date_trunc('hour', ts) AS ws, COUNT(*) AS n_events,
         {dsum_sql('value')} AS sum_value
  FROM ontime, wm1
  GROUP BY 1, wm1.wm
  HAVING epoch_ms(ws + INTERVAL 1 HOUR) <= wm1.wm
  UNION ALL
  -- windows still in state when the stragglers arrived: merged counts
  -- (stragglers behind wm1 were dropped by the input late-filter)
  SELECT date_trunc('hour', ts) AS ws, COUNT(*) AS n_events,
         {dsum_sql('value')} AS sum_value
  FROM ev, wm1, wmf
  GROUP BY 1, wm1.wm, wmf.wm
  HAVING epoch_ms(ws + INTERVAL 1 HOUR) > wm1.wm
     AND epoch_ms(ws + INTERVAL 1 HOUR) <= wmf.wm
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       n_events, sum_value
FROM emitted
ORDER BY window_start, n_events
"""


UPSERT_SRC_FILES = 3  # split the replay into N files → N micro-batches


def streaming_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed UPSERT sink (foreachBatch MERGE): maintain "latest event per
    user" as a persisted table while the stream replays in
    ``UPSERT_SRC_FILES`` micro-batches (maxFilesPerTrigger=1 over a
    pre-split copy of events, so the merge genuinely runs N times on
    partial data).

    Each batch: reduce the batch to its per-key argmax — by (ts,
    event_id), an ASSOCIATIVE merge, so the final state is independent
    of how the replay is split — then merge with the existing state and
    atomically swap the state dir (write tmp → replace), the parquet
    stand-in for MERGE INTO on a lakehouse table format; there, the
    rewrite is bounded to the key-bucket partitions a batch touches
    rather than the whole state. State size is O(distinct keys), never
    O(events). The oracle is the batch argmax over all events — this
    streaming operator gets a full value-hash check, not rows-only."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    state_root = scratch_dir("upsert_state", sf_dir)
    n = UPSERT_SRC_FILES
    stream = _replay(ev, os.path.join(state_root, "src"), [
        F.col("event_id") % n == i for i in range(n)
    ])
    state_dir = os.path.join(state_root, "state")
    tmp_dir = os.path.join(state_root, "state_tmp")
    ckpt = os.path.join(state_root, "_ckpt")

    def _latest(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id")
            .agg(
                F.max(F.struct("ts", "event_id", "value")).alias("m")
            )
            .select("user_id", "m.ts", "m.event_id", "m.value")
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        latest = _latest(batch_df)
        if os.path.exists(state_dir):
            old = batch_df.sparkSession.read.parquet(state_dir)
            latest = _latest(old.unionByName(latest))
        latest.write.mode("overwrite").parquet(tmp_dir)  # materializes the read
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.replace(tmp_dir, state_dir)

    _run(stream.writeStream.foreachBatch(_merge).option("checkpointLocation", ckpt))
    return (
        spark.read.parquet(state_dir)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            _ts("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


STREAMING_UPSERT_SQL = f"""
WITH {EV_US},
r AS (
  SELECT user_id, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev
)
SELECT user_id, event_id AS last_event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       value AS last_value
FROM r WHERE rn = 1 ORDER BY user_id
"""


EXACTLY_ONCE_SRC_FILES = 6  # replay in 6 micro-batches (maxFilesPerTrigger=1)
EXACTLY_ONCE_FAIL_AT = 2  # inject the crash after THIS batch's sink commit


def streaming_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END EXACTLY-ONCE under failure+replay — the idempotent
    foreachBatch sink pattern (Delta's txnAppId/txnVersion, re-expressed
    on plain parquet): each micro-batch lands at a DETERMINISTIC
    batch-id-keyed path via write-to-tmp + atomic rename, so the rename
    IS the transaction ledger — a replayed batch id finds its path
    already committed and is SKIPPED instead of appended twice.

    The failure is actually exercised, not assumed: the first run's
    foreachBatch RAISES after batch ``EXACTLY_ONCE_FAIL_AT``'s sink
    commit succeeds but before Structured Streaming writes the commit
    log for it — exactly the crash window that makes a plain append
    sink double-count. The restart (SAME checkpoint) re-executes that
    batch id with the logged offsets; the txn guard sees the committed
    path and skips. The returned aggregate over the sink equals the
    plain batch aggregate over all events — the DuckDB value-hash match
    is therefore a PROOF of no-double-count under replay.

    At 100 TB this is the standing pattern for any non-transactional
    sink fed by foreachBatch: per-batch output paths keyed by
    (appId, batchId), rename-as-commit, replay-safe by construction;
    on a lakehouse table format the same contract is one option
    (txnAppId/txnVersion) on the writer. State appended per batch is
    the batch's rows — the ledger adds zero scan cost downstream."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    root = scratch_dir("exactly_once", sf_dir)
    n = EXACTLY_ONCE_SRC_FILES
    stream = _replay(ev, os.path.join(root, "src"), [
        F.col("event_id") % n == i for i in range(n)
    ])
    sink_dir = os.path.join(root, "sink")
    tmp_root = os.path.join(root, "tmp")
    ckpt = os.path.join(root, "_ckpt")
    fail_flag = os.path.join(root, "fail_once")
    os.makedirs(sink_dir, exist_ok=True)
    open(fail_flag, "w").close()

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        final = os.path.join(sink_dir, f"txn_{batch_id}")
        if os.path.exists(final):
            return  # already committed by a previous attempt: idempotent skip
        tmp = os.path.join(tmp_root, f"txn_{batch_id}")
        batch_df.write.mode("overwrite").parquet(tmp)
        os.replace(tmp, final)  # rename-as-commit: the ledger entry
        if batch_id == EXACTLY_ONCE_FAIL_AT and os.path.exists(fail_flag):
            os.remove(fail_flag)
            # crash AFTER the sink commit, BEFORE the streaming commit log:
            # the exact window where a non-idempotent sink double-writes.
            raise RuntimeError("injected crash between sink and checkpoint commit")

    writer = stream.writeStream.foreachBatch(_commit).option("checkpointLocation", ckpt)
    try:
        _run(writer)
    except Exception as exc:  # noqa: BLE001 — StreamingQueryException expected
        if "injected crash" not in str(exc):
            raise
    else:
        # loud failure on a DISTINCT path: the sentinel below must not
        # share the "injected crash" substring the except clause matches,
        # or a never-firing injection would be silently swallowed
        raise AssertionError(
            "exactly-once protocol not exercised: the failure injection "
            "never raised (check maxFilesPerTrigger batching and "
            "EXACTLY_ONCE_FAIL_AT)"
        )
    _run(writer)  # restart, same checkpoint: replays the failed batch id, guard skips
    sink = spark.read.parquet(os.path.join(sink_dir, "txn_*"))
    return _totals(sink, "event_type").orderBy("event_type")


STREAMING_EXACTLY_ONCE_SQL = f"""
WITH {EV_US}
SELECT event_type, COUNT(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM ev GROUP BY event_type ORDER BY event_type
"""


def streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (supported since
    Spark 3.4, append mode only): a 15-minute tumbling count per event
    type feeds a second event-time aggregation that rolls the blocks up
    to hourly (blocks present, total events, peak block) — the
    pre-aggregation cascade every metrics pipeline runs, expressed as one
    query instead of two jobs wired through a sink.

    The stage-2 event time is ``window_time(w15)`` (the 15-min window's
    inclusive end), so each block lands in the hour that contains it; the
    single watermark (delay 0) propagates through both operators, and
    only hours whose end ≤ the final watermark (max event time,
    ms-truncated — Spark tracks event time in milliseconds) are emitted.
    The oracle reproduces exactly that emission set. State is O(open
    windows) in both stages — the bounded-state cascade shape at 100 TB.
    """
    stream = _events_stream(spark, sf_dir)
    w15 = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "15 minutes").alias("w15"), "event_type")
        .agg(F.count(F.lit(1)).alias("n15"))
    )
    hourly = (
        w15.groupBy(
            F.window(F.window_time("w15"), "1 hour").alias("wh"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("n15").alias("n_events"),
            F.max("n15").alias("peak_15min"),
        )
    )
    return (
        _run_to_memory(hourly, "chained", output_mode="append")
        .select(
            _ts("wh.start").alias("hour_start"),
            "event_type",
            "n_blocks",
            "n_events",
            "peak_15min",
        )
        .orderBy("hour_start", "event_type")
    )


STREAMING_CHAINED_SQL = f"""
WITH {EV_US},
wm AS (SELECT MAX(epoch_us(ts) // 1000) AS wm_ms FROM ev),
b AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(ts) % (15 * 60 * CAST(1000000 AS BIGINT)) AS b15_us,
         COUNT(*) AS n15
  FROM ev GROUP BY 1, 2
),
h AS (
  SELECT event_type,
         b15_us - b15_us % (3600 * CAST(1000000 AS BIGINT)) AS h_us,
         COUNT(*) AS n_blocks,
         CAST(SUM(n15) AS BIGINT) AS n_events,
         MAX(n15) AS peak_15min
  FROM b GROUP BY 1, 2
)
SELECT strftime(make_timestamp(h_us), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type, n_blocks, n_events, peak_15min
FROM h CROSS JOIN wm
WHERE (h_us + 3600 * CAST(1000000 AS BIGINT)) // 1000 <= wm_ms
ORDER BY hour_start, event_type
"""


def streaming_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the watermark feature inner joins
    don't exercise: a click with no purchase in its 30-minute window must
    still emit (purchase_id NULL), but only once the watermark proves no
    match can arrive. On the bounded replay the emission contract is
    deterministic: matched pairs emit as in the inner join; unmatched
    clicks emit IFF their match window fully precedes the final GLOBAL
    watermark — which is the MIN across the two input streams of (that
    side's max event time − its delay), ms-truncated; Spark advances the
    query watermark at the pace of the SLOWEST side, so the last click
    itself never null-emits (its own side's watermark can't pass it).
    Later unmatched clicks stay in state, unemitted. The oracle
    reproduces exactly that set. State stays bounded by the same
    watermark that drives the null emission — the property that makes
    outer stream joins runnable at 100 TB."""
    return _click_purchase_join(spark, sf_dir, "left_outer")


STREAMING_OUTER_JOIN_SQL = f"""
WITH {EV_US},
wm AS (
  SELECT LEAST(
           MAX(CASE WHEN event_type = 'click'
                    THEN epoch_us(ts) // 1000 END),
           MAX(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) // 1000 END)
         ) - 3600 * 1000 AS wm_ms
  FROM ev
),
matched AS (
  SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
  FROM ev c JOIN ev p
    ON c.user_id = p.user_id
   AND p.ts >= c.ts
   AND p.ts <= c.ts + INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
  WHERE c.event_type = 'click' AND p.event_type = 'purchase'
),
expired_unmatched AS (
  SELECT c.event_id AS click_id, CAST(NULL AS BIGINT) AS purchase_id,
         c.user_id
  FROM ev c CROSS JOIN wm
  WHERE c.event_type = 'click'
    AND (epoch_us(c.ts) + {STREAM_JOIN_WINDOW_MIN} * 60 * CAST(1000000 AS BIGINT))
        // 1000 < wm_ms
    AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.event_id)
)
SELECT * FROM matched
UNION ALL
SELECT * FROM expired_unmatched
ORDER BY click_id, purchase_id
"""


HLL_WIN_RSD = 0.02
HLL_WIN_BOUND = 0.10  # asserted |approx − exact| bound: 10% + 1


def streaming_hll_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed APPROXIMATE distinct users in Structured Streaming: exact
    ``count_distinct`` is unsupported in streaming aggregations (state
    would be unbounded per window), so the production shape is HLL++
    (``approx_count_distinct``) — constant state per window, mergeable
    across micro-batches. The streamed estimate is then audited against
    the exact batch distinct per window: the oracle-checkable surface is
    the exact count + ``within_bound`` (same contract as
    ``sketch_hll_error``, here proving the STREAMING state machine's
    merged sketch, not the batch one)."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", HLL_WIN_RSD).alias("approx_users")
        )
        .select(_ts("w.start").alias("window_start"), "approx_users")
    )
    streamed = _run_to_memory(agg, "hllwin")
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(_ts(F.window("ts", "6 hours")["start"]).alias("window_start"))
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return (
        streamed.join(exact, "window_start")
        .select(
            "window_start",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= HLL_WIN_BOUND * F.col("exact_users") + 1
            ).alias("within_bound"),
        )
        .orderBy("window_start")
    )


STREAMING_HLL_WIN_SQL = """
WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
w AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS ws, user_id FROM ev
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM w GROUP BY ws ORDER BY window_start
"""



def streaming_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once RESUME across restarts — the production property that
    makes Structured Streaming a pipeline you can kill: run a file-source
    → parquet-sink stream to completion, land MORE source files, then
    START THE QUERY AGAIN against the same checkpoint. The second run's
    offset log skips everything the first run committed, so the sink
    holds every event exactly once; any replay or loss would break the
    hash-exact oracle (counts + decimal sums over the full fixture).

    Two cooperating logs give the guarantee: the source checkpoint
    records which files are committed, and the parquet sink's
    _spark_metadata manifest makes batch writes atomic — together,
    at-least-once replay collapses to exactly-once. Scratch roots are
    wiped per invocation so repeated gate runs stay deterministic.
    """
    root = scratch_dir("ckpt_resume", sf_dir)
    sink = os.path.join(root, "sink")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    for phase in (0, 1):  # even event ids, then odd ones land and rerun
        stream = _replay(
            ev, os.path.join(root, "src"), [F.col("event_id") % 2 == phase], phase
        )
        _run(
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .outputMode("append")
        )
    return _totals(spark.read.parquet(sink), "event_type", n="n_rows").orderBy(
        "event_type"
    )


STREAMING_CKPT_RESUME_SQL = f"""
SELECT event_type, COUNT(*) AS n_rows, {dsum_sql('value')} AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""



PYTICKS_N = 200
PYTICKS_BATCH = 25


def streaming_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector via the Python DataSource API
    (``SimpleDataSourceStreamReader``): the source owns its offset
    bookkeeping ({"i": n} dict), each micro-batch reads
    [start, start+PYTICKS_BATCH), and ``readBetweenOffsets`` makes
    batches REPLAYABLE for recovery — the same contract a Kafka reader
    implements, demonstrated broker-free. This is the extension point
    for streams Spark has no built-in source for (device feeds,
    internal queues, REST tails).

    Python streaming sources don't support Trigger.AvailableNow (Spark
    falls back to single-batch), so the drain loop polls the memory
    sink until the deterministic tick count arrives, then stops the
    query — bounded by a timeout, deterministic at completion. The
    rollup over the drained ticks is closed-form oracle-checked.
    """
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class TickReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = start["i"]
            if i >= PYTICKS_N:
                return iter([]), {"i": i}
            end = min(i + PYTICKS_BATCH, PYTICKS_N)
            return iter([(j, (j * 7) % 10) for j in range(i, end)]), {"i": end}

        def readBetweenOffsets(self, start, end):
            return iter(
                [(j, (j * 7) % 10) for j in range(start["i"], end["i"])]
            )

    class TickSource(DataSource):
        @classmethod
        def name(cls):
            return "pyticks"

        def schema(self):
            return "id bigint, v bigint"

        def simpleStreamReader(self, schema):
            return TickReader()

    spark.dataSource.register(TickSource)
    name = "pyticks_" + uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("pyticks")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        # no trigger clause: micro-batches run back-to-back (default
        # ProcessingTime(0)) — a 1s trigger would add ~8s of idle wall
        # time for the 8 deterministic batches.
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= PYTICKS_N:
                break
            time.sleep(0.2)
    finally:
        q.stop()
    got = spark.table(name).count()
    if got != PYTICKS_N:
        # A partial drain must fail LOUDLY: returning a rollup over fewer
        # than PYTICKS_N rows would surface downstream as a confusing oracle
        # value mismatch instead of the real problem (a too-slow environment).
        raise TimeoutError(
            f"python datasource stream drained {got}/{PYTICKS_N} rows "
            "within the 120s deadline"
        )
    return (
        spark.table(name)
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("v")
    )


STREAMING_PYSRC_SQL = f"""
WITH src AS (
  SELECT i AS id, (i * 7) % 10 AS v
  FROM (SELECT unnest(generate_series(0, {PYTICKS_N - 1})) AS i)
)
SELECT v, COUNT(*) AS n, MIN(id) AS min_id, MAX(id) AS max_id
FROM src GROUP BY v ORDER BY v
"""



_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def streaming_rocksdb_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful aggregation on the ROCKSDB state store — the backend
    that makes big streaming state viable: the default HDFS-backed
    provider keeps every key in executor heap (state size is bounded by
    memory), while RocksDB spills to local SSD with incremental
    checkpoint upload, so keyed state can grow to billions of keys.
    Same query semantics, one conf — this entry proves the engine's
    plans are state-backend-agnostic by hash-matching the batch oracle
    under the RocksDB provider.

    The provider conf is read at query START, so it's set just for
    this run and restored after (session hygiene for the other
    streaming entries).
    """
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
    )
    try:
        agg = _totals(_events_stream(spark, sf_dir), "event_type")
        # materialize fully before the conf flips back
        out = _run_to_memory(agg, "rocksdb").orderBy("event_type").localCheckpoint()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    return out


STREAMING_ROCKSDB_SQL = f"""
SELECT event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""



def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the state-BOUNDED streaming
    dedup (Spark 3.5+): unlike plain ``dropDuplicates`` (used by
    streaming_dedup_counts), whose key state grows forever, this
    operator evicts a key's dedup state once the watermark passes it,
    so state size is O(keys per watermark window) — the only viable
    dedup contract for an unbounded 100 TB/day stream where keys don't
    repeat across days. The trade: duplicates separated by more than
    the watermark delay are NOT collapsed (at-least-once dedup, not
    global).

    On this bounded replay every duplicate falls inside one watermark
    window, so the result equals exact global dedup — which is what the
    oracle checks (semantic equivalence on the bounded case; the state
    eviction is the scale story, not a fixture-visible behavior).
    """
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_distinct_users"))
    )
    return _run_to_memory(agg, "wmdedup").orderBy("event_type")


def _tws_available() -> bool:
    """transformWithStateInPandas ships state over a protobuf channel;
    the API exists on every Spark 4 install but EXECUTES only where
    google.protobuf is importable (not the case in this sandbox — the
    applyInPandasWithState path above has no such dependency and stays
    the always-on stateful operator)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


QUERIES = {
    streaming_checkpoint_resume: STREAMING_CKPT_RESUME_SQL,
    streaming_python_source: STREAMING_PYSRC_SQL,
    streaming_rocksdb_agg: STREAMING_ROCKSDB_SQL,
    streaming_dedup_within_watermark: STREAMING_DEDUP_SQL,
    streaming_hll_windowed: STREAMING_HLL_WIN_SQL,
    streaming_hourly_window: STREAMING_HOURLY_SQL,
    streaming_chained_windows: STREAMING_CHAINED_SQL,
    streaming_stream_outer_join: STREAMING_OUTER_JOIN_SQL,
    streaming_upsert_latest: STREAMING_UPSERT_SQL,
    streaming_exactly_once_sink: STREAMING_EXACTLY_ONCE_SQL,
    streaming_watermark_lates: STREAMING_WM_SQL,
    streaming_sliding_window: STREAMING_SLIDING_SQL,
    streaming_session_window: STREAMING_SESSION_SQL,
    streaming_dedup_counts: STREAMING_DEDUP_SQL,
    streaming_stream_join: STREAMING_JOIN_SQL,
    streaming_static_join: STREAMING_STATIC_JOIN_SQL,
    streaming_stateful_totals: STREAMING_STATEFUL_SQL,
    # Rows-only: count-triggered micro-batch boundaries are an execution
    # artifact, not a relational result.
    streaming_count_batcher: None,
}

if _tws_available():
    QUERIES[streaming_tws_sessions] = STREAMING_TWS_SQL
