"""Custom stateful streaming operator via ``applyInPandasWithState`` —
the escape hatch for per-key streaming logic Spark's built-in windows can't
express (SURVEY.md §2: the reference's only stateful op is the count
batcher; this adds the general-purpose API the north star asks for).

The demonstration operator keeps per-user running totals (event count +
exact value sum) across micro-batches in a GroupState and emits the updated
totals every batch. Design points that make it correct at scale:

- State is keyed by user_id → Spark shuffles each micro-batch once on the
  key and partitions the state store the same way; state size is O(users).
- Batches arrive as an Arrow-backed pandas iterator (no row-at-a-time
  Python), and the per-key pass is linear.
- The sum is kept as integer cents (floor(value*100 + 0.5)) so it is
  exact and ORDER-INDEPENDENT — the emitted totals do not depend on how
  the bounded replay was split into micro-batches, which is what lets a
  SQL oracle check the final state.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("n_events", LongType(), True),
        StructField("sum_cents", LongType(), True),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType(), True),
        StructField("sum_cents", LongType(), True),
    ]
)


def _update_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n_events, sum_cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n_events += len(pdf)
        sum_cents += int(
            np.floor(pdf["value"].to_numpy(dtype=np.float64) * 100.0 + 0.5)
            .astype(np.int64)
            .sum()
        )
    state.update((n_events, sum_cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n_events], "sum_cents": [sum_cents]}
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Per-user running (count, exact-cents sum) over a stream of
    (user_id, value) rows, emitted after every micro-batch update."""
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# transformWithState (the v2 stateful API): per-user session counting
# ---------------------------------------------------------------------------

STREAM_SESSION_GAP_MIN = 30  # session gap of every sessionizing query
TWS_GAP_US = STREAM_SESSION_GAP_MIN * 60 * 1_000_000  # the gap in microseconds

TWS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("n_sessions", LongType(), True),
        StructField("last_us", LongType(), True),
    ]
)


def _make_session_counter():
    """Factory (deferred import: the v2 API only exists on Spark 4.x).

    The processor keeps (last_us, n_sessions) in a ValueState per user
    and counts a NEW session whenever an event arrives more than 30
    minutes after the user's previous event — across micro-batch
    boundaries, which is the part the built-in ``session_window``
    aggregation hides and this API exposes: state must survive between
    handleInputRows calls. Rows within a batch are sorted by (ts,
    event_id) in the Arrow-backed pandas frame; correctness across
    batches needs batch-monotone event time, which the time-split
    replay guarantees (same contract a Kafka source provides per
    partition with in-order producers)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SessionCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "sess", "last_us LONG, n_sessions LONG"
            )

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            last_us, n_sessions = (
                self._state.get() if self._state.exists() else (None, 0)
            )
            pdf = pd.concat(list(rows)).sort_values(["ts_us", "event_id"])
            for ts_us in pdf["ts_us"].to_numpy(dtype=np.int64):
                if last_us is None or ts_us - last_us > TWS_GAP_US:
                    n_sessions += 1
                last_us = int(ts_us)
            self._state.update((last_us, n_sessions))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_sessions": [n_sessions],
                    "last_us": [last_us],
                }
            )

        def close(self) -> None:
            pass

    return SessionCounter()


def session_counts(stream: DataFrame) -> DataFrame:
    """Per-user session count over (user_id, ts_us, event_id) rows via
    ``transformWithStateInPandas`` — one shuffle on the key per batch,
    state size O(users) × 16 bytes."""
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_session_counter(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
