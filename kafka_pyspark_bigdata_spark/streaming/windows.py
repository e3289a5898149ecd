"""Event-time windowed aggregation over streams (extension beyond the
reference, which has no watermarks/event-time windows — SURVEY.md §2
"streaming semantics" gap; the `events` fixture exists to exercise them).

All three window shapes (tumbling, sliding, session) are built-in
Structured Streaming operators: watermark bounds state, partial aggregation
happens per micro-batch, and state is keyed by (window, keys) — the
standard scale-out shape for streaming rollups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import dsum


def _ts(col) -> Column:
    """``col`` (a timestamp or a window bound) as ``yyyy-MM-dd HH:mm:ss``."""
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def _bounds(prefix: str) -> list[Column]:
    """Window ``w``'s start and end as text, named ``{prefix}_start`` and
    ``{prefix}_end``."""
    return [_ts(f"w.{b}").alias(f"{prefix}_{b}") for b in ("start", "end")]


def _totals(df: DataFrame, *groups, n: str = "n_events") -> DataFrame:
    """Row count (named ``n``) and exact ``value`` sum per ``groups``: the
    totals every streaming rollup emits."""
    return df.groupBy(*groups).agg(
        F.count(F.lit(1)).alias(n), dsum("value").alias("sum_value")
    )


def tumbling_agg(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling event-time window: count + exact sum per window (+keys)."""
    keys = keys or []
    return _totals(df, F.window(ts_col, width).alias("w"), *keys).select(
        _ts("w.start").alias("window_start"), *keys, "n_events", "sum_value"
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "2 hours",
    slide: str = "1 hour",
) -> DataFrame:
    """Sliding window: each event lands in width/slide windows."""
    return _totals(df, F.window(ts_col, width, slide).alias("w")).select(
        *_bounds("window"), "n_events", "sum_value"
    )


def session_agg(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Session window: activity sessions per key closed by a gap timeout —
    the dynamic-window stateful op (state size bounded by the watermark)."""
    return _totals(df, F.session_window(ts_col, gap).alias("w"), key).select(
        key, *_bounds("session"), "n_events", "sum_value"
    )
