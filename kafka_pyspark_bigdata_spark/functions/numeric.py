"""Deterministic (engine-portable) numeric aggregation.

Floating-point sums depend on accumulation order, which differs between
engines and between runs at different parallelism (partial aggregation sums
per-partition, then merges). For oracle-exact results we accumulate in
DECIMAL — exact, associative, order-independent — and cast the final value
back to DOUBLE. Both Spark and DuckDB then produce bit-identical doubles.

This costs little: decimal sum is still a single-pass partial aggregation
(map-side combine + one shuffle of 16-byte accumulators), so the plan shape
at 100 TB is identical to a double sum.

Input-side cast double→decimal is itself deterministic across engines as
long as the value is not exactly on a rounding boundary — impossible for a
binary double vs a decimal half-ulp except for short binary fractions, which
the fixture generators don't produce.

``half_up_cents`` is the one Spark spelling of a DOUBLE rounded half up
to integer cents. ``md5_int`` is the one Spark spelling of a
content-addressed integer (an md5 hex prefix read as BIGINT), the hash
both engines compute alike.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Default precision/scale: fits TPC-H-ish money (< 10^10) with 2 decimals.
PREC, SCALE = 18, 2


def dsum(col: Column | str, scale: int = SCALE, prec: int = PREC) -> Column:
    """Order-independent SUM: decimal accumulate, double result."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({prec},{scale})")).cast("double")


def davg(col: Column | str, scale: int = SCALE, prec: int = PREC) -> Column:
    """Order-independent AVG = exact decimal SUM / COUNT, divided in double.

    (Native AVG over decimal has engine-specific result-scale rules; an
    explicit double division sidesteps them.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({prec},{scale})")).cast("double") / F.count(c)


def cents(col: Column | str) -> Column:
    """Money as integer cents: exact decimal(18,2) times 100, as BIGINT."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast(f"decimal({PREC},{SCALE})") * 100).cast("bigint")


def half_up_cents(col: str) -> Column:
    """Money as integer cents rounded half up from the DOUBLE itself,
    floor(x·100 + 0.5) as BIGINT (DuckDB spells it
    ``CAST(floor(x * 100.0 + 0.5) AS BIGINT)``); ``cents`` goes through
    decimal(18,2) instead."""
    return F.expr(f"CAST(FLOOR({col} * 100.0 + 0.5) AS BIGINT)")


def dsum_expr(expr: Column) -> Column:
    """Order-independent SUM of a pre-built decimal expression."""
    return F.sum(expr).cast("double")


def md5_int(col: Column | str, n: int, start: int = 1) -> Column:
    """The ``n`` hex digits of md5(col) from position ``start``, read as a
    BIGINT: the content-addressed integer behind every engine-portable
    sampler, sketch and bucket (DuckDB spells it
    ``('0x' || substr(md5(x), start, n))::BIGINT``). ``n`` <= 15 keeps it
    non-negative."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(F.encode(c.cast("string"), "UTF-8")), start, n), 16, 10
    ).cast("bigint")


# --- ANSI-SQL mirrors for the DuckDB oracle -------------------------------

def dsum_sql(col: str, scale: int = SCALE, prec: int = PREC) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL({prec},{scale}))) AS DOUBLE)"


def davg_sql(col: str, scale: int = SCALE, prec: int = PREC) -> str:
    return (
        f"CAST(SUM(CAST({col} AS DECIMAL({prec},{scale}))) AS DOUBLE) / COUNT({col})"
    )
