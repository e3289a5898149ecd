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
to integer cents, and ``half_up_cents_sql`` its oracle twin. ``md5_int``
is the one Spark spelling of a content-addressed integer (an md5 hex
prefix read as BIGINT), the hash both engines compute alike.

Order statistics are rank arithmetic, never interpolating percentile
built-ins: ``ranked`` adds each row's ``rn`` within its group and the
group's ``cnt``; ``exact_median`` reads the mean of the middle one or two
rows off it, and ``lower_median`` the row ranked (cnt + 1) DIV 2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

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
    floor(x·100 + 0.5) as BIGINT, spelled as ``half_up_cents_sql`` in both
    engines; ``cents`` goes through decimal(18,2) instead."""
    return F.expr(half_up_cents_sql(col))


def ranked(df: DataFrame, key: str | None, *order: str) -> DataFrame:
    """``df`` plus ``rn``, each row's row_number within its ``key`` group
    in ``order`` (a total order, so the rank is engine-exact), and
    ``cnt``, the group's row count. ``key`` None ranks the whole frame as
    one group."""
    keys = [key] if key else []
    return df.select(
        "*",
        F.row_number().over(Window.partitionBy(*keys).orderBy(*order)).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(*keys)).alias("cnt"),
    )


def exact_median(
    df: DataFrame, key: str, value: str, tiebreak: str, out: str, n: str | None = None
) -> DataFrame:
    """(key, out[, n]): each ``key``'s exact median of ``value``, the mean
    of its middle one or two rows by (value, tiebreak), and with ``n`` the
    group's row count. A mean of at most two doubles is order-independent,
    so the median is bit-identical in any engine."""
    mid = ranked(df, key, value, tiebreak).filter(
        (F.col("rn") == F.expr("(cnt + 1) div 2"))
        | (F.col("rn") == F.expr("(cnt + 2) div 2"))
    )
    size = [F.max("cnt").alias(n)] if n else []
    return mid.groupBy(key).agg(F.avg(value).alias(out), *size)


def lower_median(
    df: DataFrame, key: str, value: str, tiebreak: str, out: str
) -> DataFrame:
    """(key, out, cnt): each ``key``'s exact lower median of ``value``, the
    row ranked (cnt + 1) DIV 2 by (value, tiebreak), and the group's row
    count."""
    return (
        ranked(df, key, value, tiebreak)
        .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select(key, F.col(value).alias(out), "cnt")
    )


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

def half_up_cents_sql(x: str) -> str:
    """SQL text of ``x`` (a DOUBLE expression) rounded half up to integer
    cents: the rule of ``half_up_cents``, as both engines parse it."""
    return f"CAST(FLOOR({x} * 100.0 + 0.5) AS BIGINT)"


def dsum_sql(col: str, scale: int = SCALE, prec: int = PREC) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL({prec},{scale}))) AS DOUBLE)"


def davg_sql(col: str, scale: int = SCALE, prec: int = PREC) -> str:
    return (
        f"CAST(SUM(CAST({col} AS DECIMAL({prec},{scale}))) AS DOUBLE) / COUNT({col})"
    )
