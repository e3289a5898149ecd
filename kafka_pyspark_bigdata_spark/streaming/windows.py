"""Event-time windowed aggregation over streams (extension beyond the
reference, which has no watermarks/event-time windows — SURVEY.md §2
"streaming semantics" gap; the `events` fixture exists to exercise them).

All three window shapes (tumbling, sliding, session) are built-in
Structured Streaming operators: watermark bounds state, partial aggregation
happens per micro-batch, and state is keyed by (window, keys) — the
standard scale-out shape for streaming rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import dsum


def tumbling_agg(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling event-time window: count + exact sum per window (+keys)."""
    groups = [F.window(ts_col, width).alias("w"), *(keys or [])]
    return (
        df.groupBy(*groups)
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *(keys or []),
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "2 hours",
    slide: str = "1 hour",
) -> DataFrame:
    """Sliding window: each event lands in width/slide windows."""
    return (
        df.groupBy(F.window(ts_col, width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


def session_agg(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Session window: activity sessions per key closed by a gap timeout —
    the dynamic-window stateful op (state size bounded by the watermark)."""
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), key)
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            key,
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
