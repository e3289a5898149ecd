"""Time-series similarity search over per-user activity series.

The streaming/OLAP literature (e.g. "Time Series Similarity Search for
Streaming Data in Distributed Systems", EDBT 2019) searches large series
collections with a two-stage design: a cheap piecewise summary prunes the
pair space, an exact distance verifies survivors. ``ts_similarity_paa``
re-expresses that design Spark-first:

1. Each user's 30-day activity series (daily value sums, missing days 0)
   is summarized by PAA — Piecewise Aggregate Approximation: 8 segment
   sums (Keogh et al., public).
2. Segment sums quantize to coarse integer levels; 2 band keys of 4
   levels each bucket the users (the same banding trick as MinHash-LSH:
   near-identical series agree on at least one whole band).
3. Candidates from the band self-join verify with the EXACT Euclidean
   distance on the full dense series; the closest pairs win.

Everything before the final sqrt is INTEGER: daily sums accumulate in
cents (value has 2 decimals, so cents are exact), quantization is integer
division, and the verify distance is a bigint sum of squared cent diffs —
ranking happens on that integer, so pair order is engine-exact and the
only double in the output is the display distance.

Scale shape: daily aggregation is one (user, day)-keyed partial agg; the
dense 30-vector build is a broadcast day-grid join + per-user
collect/sort (state = series length per user); banding shuffles 2 short
keys per user; the verify join touches candidates only — never the
users² product.

Shared rules, each with one home: ``_events_by_day`` is the events →
(key, day, cents) scan under every daily series (``_daily_sums`` its
per-day sum, ``_ev_cte`` its oracle CTE); ``_dense_daily`` the
user × observed-day grid; ``_ordered_list`` a series as one day-ordered array;
``_paa_sums`` the PAA segment sums; ``_array_sum`` / ``_dot`` the exact
in-row integer sums; ``_lag_overlap`` the lag-L overlap pair;
``_lttb_area`` the LTTB triangle area in either engine. The exact
per-series lower median is ``functions.numeric.lower_median``.

Short series: a lag-L statistic over a series of n ≤ L days has no
overlap, so it is NULL (``ts_autocorr``'s rL, ``ts_cross_correlation``'s
r, whose ``n_overlap`` reads n − L, negative below the lag and −L on an
empty table) — DuckDB's answer, whose list slices come out empty where
Spark's ``slice`` would raise. A correlation over an overlap with no
variance is NULL too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import cents, half_up_cents, lower_median
from ..sources.batch import load_table

TS_SEGMENTS = 4  # PAA segments per series
TS_BANDS = 2  # band keys (TS_SEGMENTS/TS_BANDS quantized levels each)
# Quantization step (200.00 value units): at the fixture's daily-sum
# scale this prunes ~92% of the pair space at sf0.1 (84k candidates for
# 1500 users) while every SF keeps a healthy candidate pool — the
# coarser 600.00 step left 45% of all pairs as candidates, which defeats
# the banding at scale.
TS_QSTEP_CENTS = 20_000
TS_TOP_PAIRS = 20

_SEG_PER_BAND = TS_SEGMENTS // TS_BANDS


def _events_by_day(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    """(key, d, cents): each event's ``key``, calendar day and value in
    exact integer cents — the scan under every daily series here."""
    return load_table(spark, sf_dir, "events").select(
        key, F.to_date("ts").alias("d"), cents("value").alias("cents")
    )


def _daily_sums(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    """(key, d, v): the cent sum of each ``key`` on each observed day."""
    return (
        _events_by_day(spark, sf_dir, key)
        .groupBy(key, "d")
        .agg(F.sum("cents").alias("v"))
    )


def _ev_cte(key: str) -> str:
    """Oracle mirror of ``_events_by_day``: the ``ev`` CTE."""
    return f"""ev AS (
  SELECT {key}, CAST(ts AS DATE) AS d,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
)"""


def _ordered_list(order: str, value: str) -> Column:
    """Aggregate: the group's ``value``s as one array in ``order`` order
    (DuckDB: ``list(value ORDER BY order)``)."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct(order, value))), lambda s: s[value]
    )


def _paa_sums(dense: DataFrame, segments: int) -> DataFrame:
    """(user_id, seg, segsum): PAA — each dense series' cent sum over
    ``segments`` equal slices of the day grid (day di is in segment
    di·segments div nd)."""
    return (
        dense.withColumn("seg", F.expr(f"di * {segments} div nd"))
        .groupBy("user_id", "seg")
        .agg(F.sum("v").alias("segsum"))
    )


def _array_sum(arr: Column | str, acc_type: str = "bigint") -> Column:
    """Exact in-row sum of an integer array, accumulated in ``acc_type``."""
    return F.aggregate(arr, F.lit(0).cast(acc_type), lambda acc, v: acc + v)


def _dot(a: Column | str, b: Column | str, acc_type: str = "bigint") -> Column:
    """Exact in-row Σ aᵢ·bᵢ of two equal-length integer arrays."""
    return _array_sum(F.zip_with(a, b, lambda x, y: x * y), acc_type)


def _lag_overlap(
    x: str, y: str, n: Column, lag: Column | int
) -> tuple[Column, Column]:
    """The windows a lag-``lag`` statistic pairs over length-``n`` arrays:
    x's first n − lag elements and y's last n − lag, so element i of one
    meets element i + lag of the other. A series no longer than the lag
    has no overlap: both windows are NULL, and so is every sum over them,
    as DuckDB's list_sum over its empty slices is; ``slice`` never sees
    the negative length it would raise on."""
    m = n - lag
    return F.when(m > 0, F.slice(x, 1, m)), F.when(m > 0, F.slice(y, 1 + lag, m))


# Oracle mirror of ``_dense_daily``: the CTE chain ev → bounds → daily →
# days → users → dense, shared by every oracle over the dense series.
_DENSE_DAILY_CTES = _ev_cte("user_id") + """,
bounds AS (
  SELECT MIN(d) AS d0, datediff('day', MIN(d), MAX(d)) + 1 AS nd FROM ev
),
daily AS (
  SELECT user_id, datediff('day', d0, d) AS di, nd, SUM(cents) AS v
  FROM ev, bounds GROUP BY 1, 2, 3
),
days AS (SELECT DISTINCT di, nd FROM daily),
users AS (SELECT DISTINCT user_id FROM daily),
dense AS (
  SELECT u.user_id, g.di, g.nd, COALESCE(daily.v, 0) AS v
  FROM users u CROSS JOIN days g
  LEFT JOIN daily ON daily.user_id = u.user_id AND daily.di = g.di
)"""

# ... plus each user's dense series as one day-ordered list
_DENSE_SERIES_CTES = _DENSE_DAILY_CTES + """,
series AS (
  SELECT user_id, list(v ORDER BY di) AS vec FROM dense GROUP BY 1
)"""


def _dense_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, di, nd, v): day-indexed DENSE daily cent sums per user —
    day grid broadcast-joined so missing days are explicit zeros."""
    ev = _events_by_day(spark, sf_dir, "user_id")
    bounds = ev.agg(
        F.min("d").alias("d0"), (F.datediff(F.max("d"), F.min("d")) + 1).alias("nd")
    )
    daily = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.datediff("d", "d0").alias("di"),
            "cents",
            "nd",
        )
        .groupBy("user_id", "di", "nd")
        .agg(F.sum("cents").alias("v"))
    )
    days = daily.select("di", "nd").distinct()
    users = daily.select("user_id").distinct()
    return (
        users.crossJoin(F.broadcast(days))
        .join(daily, ["user_id", "di", "nd"], "left")
        .na.fill(0, ["v"])
    )


def ts_similarity_paa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top closest user pairs by exact Euclidean distance on daily-sum
    series, candidates from PAA band agreement (docstring above)."""
    # the PAA query reads the densified grid TWICE (full series + segment
    # sums); pin so the multi-join densification chain runs once
    dense = _dense_daily(spark, sf_dir).localCheckpoint(eager=False)
    series = dense.groupBy("user_id").agg(_ordered_list("di", "v").alias("vec"))
    # PAA segment sums -> quantized levels -> band keys
    seg = _paa_sums(dense, TS_SEGMENTS).withColumn(
        "q", F.expr(f"segsum div {TS_QSTEP_CENTS}")
    )
    bands = (
        seg.withColumn("band", F.expr(f"seg div {_SEG_PER_BAND}"))
        .groupBy("user_id", "band")
        .agg(
            F.concat_ws(
                "|", F.array_sort(F.collect_list(F.struct("seg", "q"))).cast("string")
            ).alias("bk")
        )
    )
    cand = (
        bands.select(F.col("user_id").alias("user_a"), "band", "bk")
        .join(
            bands.select(F.col("user_id").alias("user_b"), "band", "bk"),
            ["band", "bk"],
        )
        .filter(F.col("user_a") < F.col("user_b"))
        .select("user_a", "user_b")
        .dropDuplicates()
    )
    va = series.select(F.col("user_id").alias("user_a"), F.col("vec").alias("va"))
    vb = series.select(F.col("user_id").alias("user_b"), F.col("vec").alias("vb"))
    sum_sq = _array_sum(F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)))
    # r13 (guide §2.4): rank-then-filter ran a row_number window over
    # every verified candidate pair — a single-partition global sort.
    # orderBy().limit() is a TakeOrdered (per-partition top-k), so only
    # TS_TOP_PAIRS rows sort globally. Same ordering, same rows.
    return (
        cand.join(va, "user_a")
        .join(vb, "user_b")
        .select("user_a", "user_b", sum_sq.alias("sum_sq"))
        .orderBy("sum_sq", "user_a", "user_b")
        .limit(TS_TOP_PAIRS)
        .select(
            "user_a",
            "user_b",
            "sum_sq",
            F.round(F.sqrt(F.col("sum_sq")) / 100, 6).alias("dist"),
        )
        .orderBy("sum_sq", "user_a", "user_b")
    )


TS_SIMILARITY_SQL = f"""
WITH {_DENSE_SERIES_CTES},
seg AS (
  SELECT user_id, di * {TS_SEGMENTS} // nd AS seg, SUM(v) AS segsum
  FROM dense GROUP BY 1, 2
),
quant AS (SELECT user_id, seg, segsum // {TS_QSTEP_CENTS} AS q FROM seg),
bands AS (
  SELECT user_id, seg // {_SEG_PER_BAND} AS band,
         string_agg('{{' || seg || ', ' || q || '}}', '|' ORDER BY seg) AS bk
  FROM quant GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.user_id AS user_a, b.user_id AS user_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bk = b.bk AND a.user_id < b.user_id
),
scored AS (
  SELECT user_a, user_b,
         list_sum(list_transform(list_zip(x.vec, y.vec),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS sum_sq
  FROM cand JOIN series x ON x.user_id = user_a
            JOIN series y ON y.user_id = user_b
)
SELECT user_a, user_b, CAST(sum_sq AS BIGINT) AS sum_sq,
       round(sqrt(CAST(sum_sq AS DOUBLE)) / 100, 6) AS dist
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY sum_sq, user_a, user_b) AS rank
  FROM scored
) WHERE rank <= {TS_TOP_PAIRS}
ORDER BY sum_sq, user_a, user_b
"""


# Matrix-profile knobs: PAA resolution per series and the subsequence
# (window) length over the PAA series. 16 segments over the 30-day
# grid keep the in-row profile O(M²·L) ≈ 500 integer ops per series.
MP_SEGMENTS = 16
MP_WIN = 4


def ts_matrix_profile_paa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile per series (Yeh et al. 2016, ICDM: "Matrix
    Profile I") over a PAA-reduced daily series (Keogh et al. 2001) —
    the time-series primitive that yields both the DISCORD (the
    subsequence farthest from its nearest neighbor: the series'
    top anomaly; Keogh et al. 2005) and the top MOTIF (the closest
    repeating pair) in one pass. Computed exactly: profile[i] =
    min over j with |i−j| ≥ window (the standard trivial-match
    exclusion zone) of the squared Euclidean distance between
    length-{MP_WIN} subsequences of the {MP_SEGMENTS}-segment PAA
    series; discord = argmax, motif = argmin, first index on ties
    (array_position finds the first occurrence in both engines).

    All arithmetic is integer: daily cent sums → PAA segment sums (no
    division) → BIGINT squared distances. No z-normalization — the
    published profile z-normalizes each subsequence, which needs
    sqrt-of-variance ratios; on fixed-point money series the
    non-normalized distance profile (also standard: "MP with the
    Euclidean, non-normalized distance" in the UCR code base) keeps
    every compared value exact.

    Plan shape (r13): PAA segment sums aggregate STRAIGHT from the
    sparse event rows — the day-rank ledger (a tiny window over the
    distinct observed days) broadcasts each day's segment id onto the
    scan, one (user, segment)-keyed partial agg builds the sums, and a
    per-user fold densifies the ≤{MP_SEGMENTS} segments in-row (absent
    segment = 0, exactly the value the dense grid's zero-filled days
    summed to; summation is associative, so summing cents per segment
    directly equals summing per day then per segment). The r12 shape
    materialized the full users × days grid (crossJoin + left join +
    zero-fill) and collected every user's day vector only to fold it
    back down to {MP_SEGMENTS} sums — at 100 TB that grid carries
    |U|·|D| rows of mostly zeros; the sparse form carries only
    observed events. The profile stays ONE in-row expression (no pair
    shuffle, no window function): per series O(M²·L) ≈ 500 integer
    ops; it never leaves the row."""
    m, L = MP_SEGMENTS, MP_WIN
    nwin = m - L + 1
    ev = _events_by_day(spark, sf_dir, "user_id")
    days = ev.select("d").distinct()
    wd = Window.orderBy("d")
    # day -> PAA segment: dr is the day's 0-based rank among OBSERVED
    # days and dd their count — identical to the dense vec's
    # (position - 1) * m div size(vec) mapping (vec held exactly the
    # observed-day grid, sorted)
    dayseg = (
        days.select("d", (F.row_number().over(wd) - 1).alias("dr"))
        .crossJoin(F.broadcast(days.agg(F.count(F.lit(1)).alias("dd"))))
        .select("d", F.expr(f"dr * {m} div dd").alias("seg"))
    )
    segsums = (
        ev.join(F.broadcast(dayseg), "d")
        .groupBy("user_id", "seg")
        .agg(F.sum("cents").alias("sv"))
    )
    series = segsums.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("seg", "sv"))).alias("sm")
    )
    paa = (
        f"transform(sequence(0, {m - 1}),"
        f" s -> coalesce(try_element_at(sm, s), CAST(0 AS BIGINT)))"
    )
    dist = (
        f"aggregate(sequence(0, {L - 1}), CAST(0 AS BIGINT),"
        f" (a, t) -> a + (element_at(p, CAST(i + t AS INT))"
        f"                - element_at(p, CAST(j + t AS INT)))"
        f"             * (element_at(p, CAST(i + t AS INT))"
        f"                - element_at(p, CAST(j + t AS INT))))"
    )
    profile = (
        f"transform(sequence(1, {nwin}), i -> array_min(transform("
        f" filter(sequence(1, {nwin}), j -> abs(i - j) >= {L}),"
        f" j -> {dist})))"
    )
    return (
        series.select("user_id", F.expr(paa).alias("p"))
        .select("user_id", F.expr(profile).alias("prof"))
        .select(
            "user_id",
            F.expr("array_position(prof, array_max(prof))").alias(
                "discord_idx"
            ),
            F.expr("array_max(prof)").alias("discord_dist"),
            F.expr("array_position(prof, array_min(prof))").alias(
                "motif_idx"
            ),
            F.expr("array_min(prof)").alias("motif_dist"),
        )
        .orderBy("user_id")
    )


def _matrix_profile_sql() -> str:
    m, L = MP_SEGMENTS, MP_WIN
    nwin = m - L + 1
    dist = (
        f"list_sum(list_transform(range(0, {L}),"
        f" t -> (p[i + t] - p[j + t]) * (p[i + t] - p[j + t])))"
    )
    return f"""
WITH {_DENSE_SERIES_CTES},
paa AS (
  SELECT user_id,
         list_transform(range(0, {m}), s -> CAST(COALESCE(list_sum(
           list_transform(range(1, len(vec) + 1),
             d -> CASE WHEN (d - 1) * {m} // len(vec) = s
                  THEN vec[d] ELSE 0 END)), 0) AS BIGINT)) AS p
  FROM series
),
prof AS (
  SELECT user_id,
         list_transform(range(1, {nwin + 1}), i -> CAST(list_min(
           list_transform(list_filter(range(1, {nwin + 1}),
                                      j -> abs(i - j) >= {L}),
             j -> {dist})) AS BIGINT)) AS prof
  FROM paa
)
SELECT user_id,
       CAST(list_position(prof, list_max(prof)) AS BIGINT) AS discord_idx,
       list_max(prof) AS discord_dist,
       CAST(list_position(prof, list_min(prof)) AS BIGINT) AS motif_idx,
       list_min(prof) AS motif_dist
FROM prof ORDER BY user_id
"""


TS_MATRIX_PROFILE_SQL = _matrix_profile_sql()


TS_AC_LAGS = (1, 2, 3, 7)  # lags in observed days of the series


def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag autocorrelation of the daily activity series — the
    periodicity detector that decides which series get seasonal models
    downstream. A lag counts observed days, the days of the series grid
    (``_dense_daily``): a calendar day with no event anywhere in the
    corpus is not in the grid, so lag 7 is a week only where every day
    has an event.

    Exactness: with S = Σx and n fixed, r_L = Σ(n·xᵢ−S)(n·xᵢ₊L−S) /
    Σ(n·xᵢ−S)² — numerator and denominator are EXACT bigints (cent
    inputs), each < 2⁵³ so the final double division is correctly
    rounded and engine-identical; no running float sums anywhere.
    Plan: the dense-series build (one shuffle keyed by user) then pure
    per-row array expressions — autocorrelation at any number of lags
    adds zero shuffles. A series of n ≤ L days has no lag-L pair: rL is
    NULL (``_lag_overlap``).
    """
    dense = _dense_daily(spark, sf_dir)
    series = dense.groupBy("user_id").agg(_ordered_list("di", "v").alias("vec"))
    # Σx and the denominator Σ cvec² are projected once per series: inside
    # the centering lambda, or under each lag's nullif, Spark would fold
    # them again
    n, s = F.col("n"), F.col("s")
    base = (
        series.select(
            "user_id", "vec", F.size("vec").alias("n"), _array_sum("vec").alias("s")
        )
        .select("user_id", "n", F.transform("vec", lambda x: x * n - s).alias("cvec"))
        .withColumn("den", _dot("cvec", "cvec"))
    )

    def r_lag(lag: int):
        num = _dot(*_lag_overlap("cvec", "cvec", n, lag))
        return F.round(
            num.cast("double") / F.nullif("den", F.lit(0)).cast("double"), 6
        ).alias(f"r{lag}")

    return base.select(
        "user_id", *[r_lag(lag) for lag in TS_AC_LAGS]
    ).orderBy("user_id")


def _autocorr_sql() -> str:
    lag_exprs = ",\n       ".join(
        f"""round(CAST(list_sum(list_transform(
             list_zip(cvec[1:(n - {lag})], cvec[(1 + {lag}):n]),
             p -> p[1] * p[2])) AS DOUBLE)
           / nullif(CAST(den AS DOUBLE), 0), 6) AS r{lag}"""
        for lag in TS_AC_LAGS
    )
    return f"""
WITH {_DENSE_SERIES_CTES},
base AS (
  SELECT user_id, len(vec) AS n,
         list_transform(vec, x -> x * len(vec) - list_sum(vec)) AS cvec
  FROM series
),
withden AS (
  SELECT user_id, n, cvec,
         list_sum(list_transform(cvec, x -> x * x)) AS den
  FROM base
)
SELECT user_id,
       {lag_exprs}
FROM withden ORDER BY user_id
"""


def ts_stl_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical trend/seasonal/remainder decomposition of the corpus-wide
    daily activity series (the moving-average STL ancestor): trend =
    centered 7-day mean, seasonal = per-weekday mean of the detrended
    series, remainder = the rest.

    Exactness without float accumulation: every component is carried as
    an exact INTEGER numerator over a known denominator — detrended
    numerator n7 = 7·T − Σ₇, seasonal numerator Σ_dow n7 — and each
    output double is ONE division of exact sub-2⁵³ integers (correctly
    rounded ⇒ engine-identical). Edge days without a full window are
    null, as in the classical definition. The daily-total series is
    |days| rows, so the window/seasonal passes are trivially small; the
    only real work is the first (user-day → day) partial aggregation.
    """
    dense = _dense_daily(spark, sf_dir)
    totals = dense.groupBy("di").agg(F.sum("v").alias("t")).withColumn(
        "dow", F.expr("di % 7")
    )
    w7 = Window.orderBy("di").rowsBetween(-3, 3)
    with7 = totals.withColumn("sum7", F.sum("t").over(w7)).withColumn(
        "cnt7", F.count(F.lit(1)).over(w7)
    )
    # n7 = 7*T - sum7: the detrended value scaled by 7, exact bigint
    n7 = with7.withColumn(
        "n7", F.when(F.col("cnt7") == 7, 7 * F.col("t") - F.col("sum7"))
    )
    seas = (
        n7.filter(F.col("n7").isNotNull())
        .groupBy("dow")
        .agg(F.sum("n7").alias("s_num"), F.count(F.lit(1)).alias("s_cnt"))
    )
    out = n7.join(F.broadcast(seas), "dow", "left")
    trend = F.when(F.col("cnt7") == 7, F.col("sum7") / F.lit(7.0))
    seasonal = F.when(
        F.col("n7").isNotNull(),
        F.col("s_num").cast("double") / (7.0 * F.col("s_cnt")),
    )
    remainder = F.when(
        F.col("n7").isNotNull(),
        (
            7 * F.col("s_cnt") * F.col("t")
            - F.col("s_cnt") * F.col("sum7")
            - F.col("s_num")
        ).cast("double")
        / (7.0 * F.col("s_cnt")),
    )
    return out.select(
        "di",
        "dow",
        F.col("t").alias("total_cents"),
        F.round(trend, 6).alias("trend"),
        F.round(seasonal, 6).alias("seasonal"),
        F.round(remainder, 6).alias("remainder"),
    ).orderBy("di")


TS_STL_SQL = f"""
WITH {_ev_cte("user_id")},
bounds AS (
  SELECT MIN(d) AS d0 FROM ev
),
totals AS (
  SELECT datediff('day', d0, d) AS di, datediff('day', d0, d) % 7 AS dow,
         SUM(cents) AS t
  FROM ev, bounds GROUP BY 1, 2
),
with7 AS (
  SELECT di, dow, t,
         SUM(t) OVER (ORDER BY di ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS sum7,
         COUNT(*) OVER (ORDER BY di ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS cnt7
  FROM totals
),
n7t AS (
  SELECT *, CASE WHEN cnt7 = 7 THEN 7 * t - sum7 END AS n7 FROM with7
),
seas AS (
  SELECT dow, CAST(SUM(n7) AS BIGINT) AS s_num, COUNT(*) AS s_cnt
  FROM n7t WHERE n7 IS NOT NULL GROUP BY dow
)
SELECT di, CAST(n7t.dow AS BIGINT) AS dow, CAST(t AS BIGINT) AS total_cents,
       round(CASE WHEN cnt7 = 7 THEN sum7 / 7.0 END, 6) AS trend,
       round(CASE WHEN n7 IS NOT NULL
                  THEN CAST(s_num AS DOUBLE) / (7.0 * s_cnt) END, 6)
         AS seasonal,
       round(CASE WHEN n7 IS NOT NULL
                  THEN CAST(7 * s_cnt * t - s_cnt * sum7 - s_num AS DOUBLE)
                       / (7.0 * s_cnt) END, 6) AS remainder
FROM n7t LEFT JOIN seas ON seas.dow = n7t.dow
ORDER BY di
"""


def ts_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation linear trend + one-step revenue forecast — the
    closed-form OLS every monitoring pipeline runs per series, as TWO
    aggregates and zero Python: monthly revenue cents per supplier
    nation, then the regression moments (n, Σt, Σy, Σt², Σty) per
    nation, from which slope and the next-month forecast are single
    integer-exact expressions:

        slope    = (nΣty − ΣtΣy) / (nΣt² − (Σt)²)
        forecast = (ΣyΣt² − ΣtΣty + (nΣty − ΣtΣy)·t_next) / den

    Slope is reported in milli-cents/month fixed point; both divisions
    truncate toward zero in Spark (``div``) AND DuckDB (``//``), so
    negative trends stay engine-exact. Moments accumulate in
    DECIMAL(38,0) — at 100 TB Σty tops out ~1e20, beyond int64 but
    comfortably inside 38 digits.

    Scale: supplier/nation are broadcast dimensions; the monthly rollup
    is one partial-agg shuffle on (nation, month) and the moment pass
    reduces ~25 nations × months to 25 rows — the entire regression
    never leaves the JVM and adds no extra fact-table pass. The month
    index origin comes from a broadcast 1-row MIN aggregate, not a
    driver collect."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("ym"),
        cents("l_extendedprice").alias("cents"),
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    origin = li.agg(F.min("ym").alias("ym0"))
    monthly = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .crossJoin(F.broadcast(origin))
        .select("n_name", (F.col("ym") - F.col("ym0")).alias("t"), "cents")
        .groupBy("n_name", "t")
        .agg(F.sum("cents").alias("y"))
    )
    moments = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("st"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("decimal(38,0)").alias("stt"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("y")).alias("sty"),
        F.max("t").alias("t_last"),
    )
    return moments.select(
        "n_name",
        F.col("n").cast("bigint").alias("n_months"),
        F.expr(
            "CAST((n * sty - st * sy) * 1000 div (n * stt - st * st) AS BIGINT)"
        ).alias("slope_millicents"),
        (F.col("t_last") + 1).alias("t_next"),
        F.expr(
            "CAST((sy * stt - st * sty + (n * sty - st * sy) * (t_last + 1))"
            " div (n * stt - st * st) AS BIGINT)"
        ).alias("forecast_cents"),
    ).orderBy("n_name")


TS_TREND_SQL = """
WITH li AS (
  SELECT l_suppkey,
         year(l_shipdate) * 12 + month(l_shipdate) AS ym,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM lineitem
),
origin AS (SELECT MIN(ym) AS ym0 FROM li),
monthly AS (
  SELECT n_name, ym - ym0 AS t, SUM(cents) AS y
  FROM li
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  CROSS JOIN origin
  GROUP BY n_name, ym - ym0
),
m AS (
  SELECT n_name,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(t) AS HUGEINT) AS st,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(t * t) AS HUGEINT) AS stt,
         CAST(SUM(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty,
         MAX(t) AS t_last
  FROM monthly GROUP BY n_name
)
SELECT n_name, CAST(n AS BIGINT) AS n_months,
       CAST((n * sty - st * sy) * 1000 // (n * stt - st * st) AS BIGINT)
         AS slope_millicents,
       t_last + 1 AS t_next,
       CAST((sy * stt - st * sty + (n * sty - st * sy) * (t_last + 1))
            // (n * stt - st * st) AS BIGINT) AS forecast_cents
FROM m ORDER BY n_name
"""



# ---------------------------------------------------------------------------
# LTTB-lite downsampling
# ---------------------------------------------------------------------------

LTTB_BUCKETS = 32


def _lttb_area(num_type: str) -> str:
    """The triangle area both engines rank LTTB points by, scaled by
    c1²·c3 and doubled, with every term cast to ``num_type``
    (DECIMAL(38,0) in Spark, HUGEINT in DuckDB)."""
    terms = ("sx1", "sx3", "sy1", "sy3", "c1", "c3", "x", "y")
    t = {k: f"CAST({k} AS {num_type})" for k in terms}
    return (
        "abs(({sx1} * {c3} - {sx3} * {c1}) * ({y} * {c1} - {sy1})"
        " - ({sx1} - {x} * {c1}) * ({sy3} * {c1} - {sy1} * {c3}))"
    ).format(**t)


def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visualization-grade series downsampling: Largest-Triangle-Three-
    Buckets (Steinarsson 2013), bucket-anchor variant. Each per-type
    series is cut into LTTB_BUCKETS equal time buckets; within a bucket
    the kept point is the one spanning the largest triangle against the
    PREVIOUS and NEXT buckets' average points — the shape-preserving
    pick behind every serious charting pipeline (plain striding drops
    peaks; averages smear them).

    The anchor variant uses bucket averages on both sides instead of the
    previously SELECTED point, removing the sequential dependency that
    makes textbook LTTB a driver loop: every bucket scores
    independently, so the whole plan is two partial-agg shuffles (range
    + bucket stats), one broadcast join of the tiny anchor table back to
    the rows, and a per-bucket top-1 window. Triangle areas compare as
    EXACT integers: the three rational anchor coordinates share the
    denominator c1²·c3 after clearing, so the scaled cross product is
    DECIMAL(38,0) arithmetic — bit-identical across engines, no float
    area ties.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_seconds(F.col("ts")).alias("x"),
        half_up_cents("value").alias("y"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )
    rng = ev.groupBy("event_type").agg(
        F.min("x").alias("min_x"), F.max("x").alias("max_x")
    )
    pts = ev.join(F.broadcast(rng), "event_type").select(
        "event_type",
        "event_id",
        "x",
        "y",
        "ts_s",
        F.expr(f"(x - min_x) * {LTTB_BUCKETS} DIV (max_x - min_x + 1)").alias("b"),
    )
    bstats = pts.groupBy("event_type", "b").agg(
        F.sum("x").alias("sx"), F.sum("y").alias("sy"), F.count(F.lit(1)).alias("c")
    )
    wb = Window.partitionBy("event_type").orderBy("b")
    anchors = bstats.select(
        "event_type",
        "b",
        F.lag("sx").over(wb).alias("sx1"),
        F.lag("sy").over(wb).alias("sy1"),
        F.lag("c").over(wb).alias("c1"),
        F.lead("sx").over(wb).alias("sx3"),
        F.lead("sy").over(wb).alias("sy3"),
        F.lead("c").over(wb).alias("c3"),
    )
    joined = pts.join(F.broadcast(anchors), ["event_type", "b"])
    scored = joined.withColumn("area", F.expr(_lttb_area("DECIMAL(38,0)")))
    # First/last buckets have no prev/next anchor (area NULL): keep the
    # earliest point — LTTB's "always keep the endpoints" rule.
    # r13 (guide §2.4): the per-bucket top-1 was a row_number window over
    # (event_type, b) — a full shuffle + sort of every scored event row.
    # max(struct(...)) is a partial-aggregating argmax over the same
    # ordering: struct comparison is lexicographic and Spark's aggregate
    # ordering ranks NULL smallest, so `area` first gives DESC NULLS
    # LAST for free, and the negated x / event_id give the ASC
    # tie-breaks. Only one pre-reduced row per (type, bucket) crosses
    # the exchange instead of the whole event set.
    pick = scored.groupBy("event_type", "b").agg(
        F.max(
            F.struct(
                F.col("area"),
                (-F.col("x")).alias("nx"),
                (-F.col("event_id")).alias("neid"),
                F.col("ts_s"),
                F.col("y"),
            )
        ).alias("m")
    )
    return (
        pick.select(
            "event_type",
            F.col("b").alias("bucket"),
            F.col("m.ts_s").alias("sel_ts"),
            F.col("m.y").alias("sel_cents"),
            (-F.col("m.neid")).alias("event_id"),
        )
        .orderBy("event_type", "bucket")
    )


TS_LTTB_SQL = f"""
WITH ev AS (
  SELECT event_type, event_id,
         CAST(epoch(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y,
         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
  FROM events
), rng AS (
  SELECT event_type, min(x) AS min_x, max(x) AS max_x FROM ev GROUP BY event_type
), pts AS (
  SELECT ev.event_type, event_id, x, y, ts_s,
         (x - min_x) * {LTTB_BUCKETS} // (max_x - min_x + 1) AS b
  FROM ev JOIN rng ON ev.event_type = rng.event_type
), bstats AS (
  SELECT event_type, b, sum(x) AS sx, sum(y) AS sy, count(*) AS c
  FROM pts GROUP BY event_type, b
), anchors AS (
  SELECT event_type, b,
         lag(sx) OVER w AS sx1, lag(sy) OVER w AS sy1, lag(c) OVER w AS c1,
         lead(sx) OVER w AS sx3, lead(sy) OVER w AS sy3, lead(c) OVER w AS c3
  FROM bstats
  WINDOW w AS (PARTITION BY event_type ORDER BY b)
), scored AS (
  SELECT p.event_type, p.b, p.event_id, p.x, p.y, p.ts_s,
         {_lttb_area("HUGEINT")} AS area
  FROM pts p JOIN anchors a ON p.event_type = a.event_type AND p.b = a.b
), picked AS (
  SELECT event_type, b, ts_s, y, event_id,
         row_number() OVER (
           PARTITION BY event_type, b
           ORDER BY area DESC NULLS LAST, x, event_id
         ) AS rn
  FROM scored
)
SELECT event_type, b AS bucket, ts_s AS sel_ts, y AS sel_cents, event_id
FROM picked WHERE rn = 1 ORDER BY event_type, bucket
"""



MASE_SEASON = 7


def ts_forecast_eval_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy evaluation with MASE (Hyndman & Koehler 2006):
    per-series MAE of the seasonal-naive forecast (y[t-7]) scaled by the
    MAE of the one-step naive (y[t-1]) — the scale-free metric that lets
    error compare across series of different magnitudes, and the
    baseline gate every deployed forecaster must beat (mase < 1).

    One partial-agg shuffle builds the daily series, one window
    partitioned per series computes both lags in a single pass, one
    aggregate folds the absolute errors. Integer cents end-to-end;
    the ratio is fixed-point ppm DIV — engine-exact.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        half_up_cents("value").alias("cents"),
    )
    daily = ev.groupBy("event_type", "day").agg(F.sum("cents").alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    scored = daily.select(
        "event_type",
        F.lag("y", 1).over(w).alias("naive"),
        F.lag("y", MASE_SEASON).over(w).alias("snaive"),
        "y",
    ).filter(F.col("naive").isNotNull() & F.col("snaive").isNotNull())
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.abs(F.col("y") - F.col("naive"))).alias("mae_naive"),
            F.sum(F.abs(F.col("y") - F.col("snaive"))).alias("mae_snaive"),
        )
        .select(
            "event_type",
            "n_days",
            "mae_naive",
            "mae_snaive",
            F.expr("mae_snaive * 1000000 DIV mae_naive").alias("mase_ppm"),
        )
        .orderBy("event_type")
    )


TS_MASE_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT event_type, day, SUM(cents) AS y
  FROM ev GROUP BY event_type, day
), scored AS (
  SELECT event_type,
         lag(y, 1) OVER w AS naive,
         lag(y, {MASE_SEASON}) OVER w AS snaive,
         y
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, COUNT(*) AS n_days,
       CAST(SUM(abs(y - naive)) AS BIGINT) AS mae_naive,
       CAST(SUM(abs(y - snaive)) AS BIGINT) AS mae_snaive,
       CAST(SUM(abs(y - snaive)) * 1000000 // SUM(abs(y - naive)) AS BIGINT) AS mase_ppm
FROM scored
WHERE naive IS NOT NULL AND snaive IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""



MAD_K = 3  # outlier threshold: |dev| > K * MAD


def ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series outlier screen: median + MAD (median absolute
    deviation) instead of mean + stddev — a single wild value shifts a
    z-score filter's own baseline, while the MAD breakdown point is 50%.
    Flags |y − median| > 3·MAD per series.

    Both medians are EXACT lower-median order statistics (row_number ==
    (n+1) DIV 2 over integer cents with event_id tie-break) — no
    approxQuantile, so the oracle hash-matches. Two window passes share
    the per-series partitioning; the two one-row-per-series median
    tables broadcast back. At scale this is the same shape as
    q_quantiles_exact: one shuffle per order-statistic pass.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        half_up_cents("value").alias("cents"),
    )
    med = lower_median(ev, "event_type", "cents", "event_id", "med_cents")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "cents",
        F.abs(F.col("cents") - F.col("med_cents")).alias("adev"),
        "med_cents",
    )
    mad = lower_median(dev, "event_type", "adev", "event_id", "mad_cents")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_cents", "mad_cents")
        .agg(
            F.sum(
                F.when(F.col("adev") > MAD_K * F.col("mad_cents"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


TS_MAD_SQL = f"""
WITH ev AS (
  SELECT event_type, event_id, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events
), ranked AS (
  SELECT event_type, event_id, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM ev
), med AS (
  SELECT event_type, cents AS med_cents FROM ranked WHERE rn = (cnt + 1) // 2
), dev AS (
  SELECT ev.event_type, ev.event_id, ev.cents,
         abs(ev.cents - med_cents) AS adev, med_cents
  FROM ev JOIN med ON ev.event_type = med.event_type
), ranked2 AS (
  SELECT event_type, adev,
         row_number() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM dev
), mad AS (
  SELECT event_type, adev AS mad_cents FROM ranked2 WHERE rn = (cnt + 1) // 2
)
SELECT dev.event_type, med_cents, mad_cents,
       CAST(SUM(CASE WHEN adev > {MAD_K} * mad_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       COUNT(*) AS n
FROM dev JOIN mad ON dev.event_type = mad.event_type
GROUP BY dev.event_type, med_cents, mad_cents
ORDER BY dev.event_type
"""


XCORR_LAGS = (0, 1, 2, 3, 7)
XCORR_A = "click"
XCORR_B = "purchase"


def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAD-LAG analysis: Pearson correlation between the corpus-wide
    daily click total and the purchase total L days LATER, for L in
    {XCORR_LAGS} — the do-clicks-precede-purchases question every
    marketing/capacity team asks of an event stream, and the
    cross-series counterpart to ``ts_autocorr``.

    Exactness: both series reduce to one row of day-indexed cent
    arrays; for each lag the overlap window [0, n−L) is centered by the
    integer transform m·x − S (m = overlap length, S = overlap sum), so
    numerator Σ ca·cb and the two denominators Σ ca², Σ cb² are EXACT
    integers — accumulated in DECIMAL(38,0) (corpus-wide daily cents
    square past 2⁶³; HUGEINT on the oracle side) — and the final r
    rounds to 9 decimals after one correctly-rounded double division.

    Plan: one (day, type)-keyed partial agg over the scan, a 1-row
    collect into arrays, then per-lag pure array expressions against a
    5-row lag relation — adding lags adds zero shuffles, and nothing
    downstream of the first aggregation scales with the event count.

    The day axis is DENSIFIED onto the calendar grid (day index 0 =
    corpus-wide min date, zero-filled through the max observed
    click/purchase day) so lag L means "L calendar days later" even
    when some day has no such events — matching the ``_dense_daily``
    convention used by the other ts_* operators.

    Short series: n_overlap is n − L (negative when the n-day grid is
    shorter than the lag, −L on no click or purchase at all), and r is
    NULL when the overlap has no rows or no variance."""
    ev = _events_by_day(spark, sf_dir, "event_type")
    bounds = ev.agg(F.min("d").alias("d0"))
    daily = (
        ev.crossJoin(F.broadcast(bounds))
        .filter(F.col("event_type").isin(XCORR_A, XCORR_B))
        .groupBy(F.datediff("d", "d0").alias("di"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == XCORR_A, F.col("cents")).otherwise(0)
            ).alias("ac"),
            F.sum(
                F.when(F.col("event_type") == XCORR_B, F.col("cents")).otherwise(0)
            ).alias("pc"),
        )
    )
    # densify: map observed days, then read the full 0..max(di) calendar
    # range with zero fills (a missing day is a 0-cent day, not a gap)
    row = daily.agg(
        F.map_from_entries(
            F.collect_list(F.struct("di", F.struct("ac", "pc")))
        ).alias("m"),
        # the oracle's grid COUNT(*): 0 days on an empty grid
        F.coalesce(F.max("di") + F.lit(1), F.lit(0)).alias("n"),
    ).selectExpr(
        "transform(sequence(0, n - 1), i -> coalesce(m[i].ac, CAST(0 AS BIGINT))) AS avec",
        "transform(sequence(0, n - 1), i -> coalesce(m[i].pc, CAST(0 AS BIGINT))) AS pvec",
        "CAST(n AS INT) AS n",
    )
    lags = spark.createDataFrame([(l,) for l in XCORR_LAGS], "lag int")
    aw, bw = _lag_overlap("avec", "pvec", F.col("n"), F.col("lag"))
    j = F.broadcast(row).crossJoin(lags).select(
        "lag", (F.col("n") - F.col("lag")).alias("m"), aw.alias("aw"), bw.alias("bw")
    )
    dec = "decimal(38,0)"
    centered = j.select(
        "lag",
        "m",
        "aw",
        "bw",
        _array_sum("aw", dec).alias("sa"),
        _array_sum("bw", dec).alias("sb"),
    ).select(
        "lag",
        "m",
        F.transform("aw", lambda x: F.col("m").cast(dec) * x - F.col("sa")).alias("ca"),
        F.transform("bw", lambda x: F.col("m").cast(dec) * x - F.col("sb")).alias("cb"),
    )
    stats = centered.select(
        "lag",
        "m",
        _dot("ca", "cb", dec).alias("num"),
        _dot("ca", "ca", dec).alias("da"),
        _dot("cb", "cb", dec).alias("db"),
    )
    return stats.selectExpr(
        "lag",
        "CAST(m AS INT) AS n_overlap",
        "ROUND(try_divide(CAST(num AS DOUBLE),"
        " sqrt(CAST(da AS DOUBLE) * CAST(db AS DOUBLE))), 9) AS r",
    ).orderBy("lag")


TS_XCORR_SQL = f"""
WITH {_ev_cte("event_type")},
bounds AS (SELECT MIN(d) AS d0 FROM ev),
daily AS (
  SELECT datediff('day', d0, d) AS di,
         SUM(CASE WHEN event_type = '{XCORR_A}' THEN cents ELSE 0 END) AS ac,
         SUM(CASE WHEN event_type = '{XCORR_B}' THEN cents ELSE 0 END) AS pc
  FROM ev, bounds
  WHERE event_type IN ('{XCORR_A}', '{XCORR_B}')
  GROUP BY 1
),
grid AS (
  SELECT UNNEST(range(0, (SELECT MAX(di) FROM daily) + 1)) AS di
),
dense AS (
  SELECT g.di, COALESCE(ac, 0) AS ac, COALESCE(pc, 0) AS pc
  FROM grid g LEFT JOIN daily ON g.di = daily.di
),
vecs AS (
  SELECT list(ac ORDER BY di) AS avec, list(pc ORDER BY di) AS pvec,
         COUNT(*) AS n
  FROM dense
),
lagged AS (
  SELECT lag, n - lag AS m,
         list_slice(avec, 1, n - lag) AS aw,
         list_slice(pvec, 1 + lag, n) AS bw
  FROM vecs, (SELECT UNNEST({list(XCORR_LAGS)}) AS lag)
),
centered AS (
  SELECT lag, m,
         list_transform(aw, x -> CAST(m AS HUGEINT) * x
           - CAST(list_sum(aw) AS HUGEINT)) AS ca,
         list_transform(bw, x -> CAST(m AS HUGEINT) * x
           - CAST(list_sum(bw) AS HUGEINT)) AS cb
  FROM lagged
),
stats AS (
  SELECT lag, m,
         CAST(list_sum(list_transform(list_zip(ca, cb), p -> p[1] * p[2]))
              AS HUGEINT) AS num,
         CAST(list_sum(list_transform(ca, x -> x * x)) AS HUGEINT) AS da,
         CAST(list_sum(list_transform(cb, x -> x * x)) AS HUGEINT) AS db
  FROM centered
)
SELECT lag, CAST(m AS INTEGER) AS n_overlap,
       ROUND(CAST(num AS DOUBLE) / sqrt(CAST(da AS DOUBLE) * CAST(db AS DOUBLE)), 9) AS r
FROM stats ORDER BY lag
"""



# ---------------------------------------------------------------------------
# ts_sax_symbols — Symbolic Aggregate approXimation words (Lin et al. 2003)
# ---------------------------------------------------------------------------

SAX_SEGMENTS = 4  # PAA segments -> one symbol each
SAX_CARD = 4  # alphabet size: quartile breakpoints, symbols 0..3
# Breakpoints are computed on a COARSENED value domain (100.00-unit
# buckets of the segment cent sums) so the cumulative-count pass windows
# over a bounded bucket frame, never over all n·SEGMENTS raw values —
# the SAX detection floor is the bucket width, exactly like PAA's is the
# segment width.
SAX_BUCKET_CENTS = 10_000


def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX — Symbolic Aggregate approXimation (Lin, Keogh et al. 2003,
    public): each user's 30-day activity series reduces to a 4-symbol
    word — PAA segment sums, discretized against corpus-wide quartile
    breakpoints — the representation behind symbolic motif/novelty mining
    and the HOT-SAX anomaly family. The classic formulation z-normalizes
    and uses Gaussian breakpoints; this engine uses EMPIRICAL (equi-depth)
    breakpoints on the raw segment sums, which keeps every step integer
    (cents → bucket ids → cumulative counts → symbol comparisons) and
    therefore engine-exact, with no distributional assumption.

    Plan shape: the dense-series build is the shared ``_dense_daily``
    broadcast grid; segment sums are ONE (user, seg) partial agg;
    breakpoints come from a cumulative window over the DISTINCT BUCKET
    frame (bounded by value-range/bucket-width, not by user count) and
    broadcast back as a 1-row frame; the word assembly is one per-user
    collect over SAX_SEGMENTS structs. Readout: the word histogram —
    |alphabet|^|segments| rows max.
    """
    dense = _dense_daily(spark, sf_dir)
    # seg feeds THREE branches (bucket counts, the n_total aggregate, and
    # the symbol assignment); pin it or the densification chain runs 3x
    # (no cross-branch subplan reuse — the ts_similarity_paa precedent)
    seg = (
        _paa_sums(dense, SAX_SEGMENTS)
        .withColumn("bucket", F.expr(f"segsum div {SAX_BUCKET_CENTS}"))
        .localCheckpoint(eager=False)
    )
    buckets = seg.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = buckets.withColumn("cum", F.sum("cnt").over(w)).crossJoin(
        F.broadcast(seg.agg(F.count(F.lit(1)).alias("n_total")))
    )
    bps = cum.agg(
        *[
            F.min(
                F.when(
                    F.expr(f"cum >= (({j} * n_total) + {SAX_CARD - 1})"
                           f" div {SAX_CARD}"),
                    F.col("bucket"),
                )
            ).alias(f"b{j}")
            for j in range(1, SAX_CARD)
        ]
    )
    sym = seg.crossJoin(F.broadcast(bps)).select(
        "user_id",
        "seg",
        sum(
            (F.col("bucket") > F.col(f"b{j}")).cast("int")
            for j in range(1, SAX_CARD)
        ).alias("s"),
    )
    words = sym.groupBy("user_id").agg(
        F.concat_ws("", _ordered_list("seg", "s").cast("array<string>")).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("user_id").alias("example_user"),
        )
        .orderBy("word")
    )


TS_SAX_SQL = f"""
WITH {_DENSE_DAILY_CTES},
seg AS (
  SELECT user_id, di * {SAX_SEGMENTS} // nd AS seg,
         SUM(v) // {SAX_BUCKET_CENTS} AS bucket
  FROM dense GROUP BY 1, 2
),
cum AS (
  SELECT bucket, SUM(COUNT(*)) OVER (ORDER BY bucket) AS cum
  FROM seg GROUP BY bucket
),
tot AS (SELECT COUNT(*) AS n_total FROM seg),
bps AS (
  SELECT {", ".join(
      f"MIN(CASE WHEN cum >= (({j} * n_total) + {SAX_CARD - 1})"
      f" // {SAX_CARD} THEN bucket END) AS b{j}"
      for j in range(1, SAX_CARD)
  )}
  FROM cum, tot
),
sym AS (
  SELECT user_id, seg,
         {" + ".join(
             f"CASE WHEN bucket > b{j} THEN 1 ELSE 0 END"
             for j in range(1, SAX_CARD)
         )} AS s
  FROM seg, bps
),
words AS (
  SELECT user_id, string_agg(CAST(s AS VARCHAR), '' ORDER BY seg) AS word
  FROM sym GROUP BY user_id
)
SELECT word, COUNT(*) AS n_users, MIN(user_id) AS example_user
FROM words GROUP BY word ORDER BY word
"""


# ---------------------------------------------------------------------------
# ts_holt_linear — double exponential smoothing as an in-row integer fold
# ---------------------------------------------------------------------------

HOLT_H = 3  # forecast horizon (steps ahead)
# Smoothing constants as exact rationals: alpha = 1/4, beta = 1/2 —
# dyadic so every recurrence step is one integer multiply + truncating
# divide, identical in both engines.


def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing per event-type daily
    revenue series — the classic state-carrying forecaster (Holt 1957,
    public) that OLS trend lines (ts_trend_forecast) cannot replace
    when the level drifts: level and trend update RECURSIVELY,
        l_t = α·s_t + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    with α=1/4, β=1/2 held as exact dyadic rationals so each step is
    integer multiply + truncating divide (identical in both engines —
    no float state, no drift over thousands of steps). Initialization
    is the standard l₂=s₂, b₂=s₂−s₁; the fold also carries the
    one-step-ahead SSE (in-sample fit). Output per series: final
    level/trend, SSE, and the h=1..{H} forecasts l+h·b.

    The recurrence is inherently sequential IN TIME but independent
    ACROSS series — the shape that matters at 100 TB: each series
    folds IN-ROW over its sorted value array (Spark `aggregate` HOF
    with a struct accumulator), so a million series are a million
    independent map-side folds after ONE (series, day) partial-agg
    shuffle and one collect_list per series. No UDF, no window over
    raw events, no driver loop. (The oracle unrolls the same
    recurrence as a recursive CTE — see the note above TS_HOLT_SQL on
    the DuckDB list_reduce defect that rules out the fold mirror.)

    Integer ranges: daily cent sums ~1e8 at fixture scale; SSE terms
    square them (~1e16) and sum over the series — document-bounded at
    ~1e18 for 100-step series; beyond that the SSE column (alone)
    saturates BIGINT and would need DECIMAL carry, noted here as the
    tested bound.
    """
    daily = _daily_sums(spark, sf_dir, "event_type")
    series = daily.groupBy("event_type").agg(
        _ordered_list("d", "v").alias("vals")
    ).filter(F.size("vals") >= 2)
    fold = (
        "aggregate("
        " slice(vals, 3, size(vals) - 2),"
        " named_struct("
        "   'l', element_at(vals, 2),"
        "   'b', element_at(vals, 2) - element_at(vals, 1),"
        "   'sse', CAST(0 AS BIGINT)),"
        " (acc, x) -> named_struct("
        "   'l', (x + 3 * (acc.l + acc.b)) div 4,"
        "   'b', (((x + 3 * (acc.l + acc.b)) div 4) - acc.l + acc.b) div 2,"
        "   'sse', acc.sse + (acc.l + acc.b - x) * (acc.l + acc.b - x)))"
    )
    out = series.select(
        "event_type",
        F.size("vals").alias("n_obs"),
        F.expr(fold).alias("st"),
    ).select(
        "event_type",
        "n_obs",
        F.col("st.l").alias("level_cents"),
        F.col("st.b").alias("trend_cents"),
        F.col("st.sse").alias("sse_cents2"),
        *[
            (F.col("st.l") + h * F.col("st.b")).alias(f"forecast_h{h}_cents")
            for h in range(1, HOLT_H + 1)
        ],
    )
    return out.orderBy("event_type")


# The natural DuckDB mirror is list_reduce with a struct accumulator, but
# DuckDB 1.0's list_reduce MISCOMPUTES multi-step folds whose lambda
# repeats a subexpression (verified: the 3-element fold of the Holt step
# returns {42,9,41} while two chained 1-element folds of the identical
# lambda return the correct {42,10,61}). The oracle therefore unrolls the
# recurrence as a RECURSIVE CTE over the per-series step index — the
# engine's established pattern for iterative oracles — where the repeated
# subexpression evaluates correctly.
TS_HOLT_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
  FROM daily
),
nn AS (SELECT event_type, MAX(i) AS n FROM idx GROUP BY event_type),
rec AS (
  SELECT i2.event_type, CAST(2 AS BIGINT) AS t,
         i2.v AS l, i2.v - i1.v AS b, CAST(0 AS BIGINT) AS sse
  FROM idx i1
  JOIN idx i2 ON i1.event_type = i2.event_type AND i1.i = 1 AND i2.i = 2
  UNION ALL
  SELECT r.event_type, r.t + 1,
         (x.v + 3 * (r.l + r.b)) // 4,
         (((x.v + 3 * (r.l + r.b)) // 4) - r.l + r.b) // 2,
         r.sse + (r.l + r.b - x.v) * (r.l + r.b - x.v)
  FROM rec r
  JOIN idx x ON x.event_type = r.event_type AND x.i = r.t + 1
)
SELECT r.event_type, CAST(nn.n AS INTEGER) AS n_obs,
       r.l AS level_cents, r.b AS trend_cents, r.sse AS sse_cents2,
       {", ".join(f"r.l + {h} * r.b AS forecast_h{h}_cents" for h in range(1, HOLT_H + 1))}
FROM rec r JOIN nn USING (event_type)
WHERE r.t = nn.n AND nn.n >= 2
ORDER BY r.event_type
"""


# ---------------------------------------------------------------------------
# ts_changepoint_cusum — Page's CUSUM level-shift detector per series
# ---------------------------------------------------------------------------

CUSUM_SLACK_DIV = 20   # allowance k = mean div 20 (detects >5%-of-mean drift)
CUSUM_THRESH_DIV = 2   # alarm when the CUSUM exceeds h = mean div 2


def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM changepoint monitoring (Page 1954, public) per
    event-type daily revenue series: the sequential statistic
        S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − k)),
        S⁻_t = max(0, S⁻_{t−1} + (μ − x_t − k))
    with reference μ = the series' own mean, allowance k = μ/20 and
    decision threshold h = μ/2 — the standard drift monitor a pipeline
    runs over ingest volumes to catch level shifts that per-day
    thresholds miss (small persistent drifts accumulate; k subtracts
    noise, h gates the alarm).

    The recursion is eliminated, not folded: max(0, ·)-reset CUSUM has
    the exact closed form S_t = P_t − min(0, min_{j≤t} P_j) with P the
    plain prefix sum of deviations, so both engines compute it with
    two RUNNING windows (sum, min) over the per-series daily table —
    no recursive CTE, no dependence on DuckDB's defective list_reduce
    (ts_holt_linear's lesson), and every value is an exact BIGINT (μ,
    k, h are truncating integer divisions of cent sums).

    Scale shape: one (event_type, day) partial-agg shuffle over raw
    events; the windows run inside per-SERIES partitions over daily
    aggregates (≈ n_days rows each), never over raw events; the final
    per-series rollup is a |series|-key agg. A million series are a
    million independent window partitions."""
    daily = _daily_sums(spark, sf_dir, "event_type")
    stats = daily.groupBy("event_type").agg(
        F.expr("sum(v) div count(*)").alias("mu"),
        F.count(F.lit(1)).alias("n_days"),
    )
    base = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "d",
        "v",
        "mu",
        "n_days",
        F.expr(f"mu div {CUSUM_SLACK_DIV}").alias("k"),
        F.expr(f"mu div {CUSUM_THRESH_DIV}").alias("h"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    keep = ["event_type", "d", "n_days", "mu", "k", "h"]
    pref = base.select(
        *keep,
        F.sum(F.expr("v - mu - k")).over(w).alias("pp"),
        F.sum(F.expr("mu - v - k")).over(w).alias("pn"),
    )
    cum = pref.select(
        *keep,
        "pp",
        F.min("pp").over(w).alias("pp_min"),
        "pn",
        F.min("pn").over(w).alias("pn_min"),
    ).select(
        *keep,
        F.expr("pp - least(CAST(0 AS BIGINT), pp_min)").alias("s_pos"),
        F.expr("pn - least(CAST(0 AS BIGINT), pn_min)").alias("s_neg"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("mu").alias("mean_cents"),
            F.max("k").alias("slack_cents"),
            F.max("h").alias("thresh_cents"),
            F.max("s_pos").alias("max_cusum_pos"),
            F.max("s_neg").alias("max_cusum_neg"),
            F.sum(F.expr("CASE WHEN s_pos > h THEN 1 ELSE 0 END")).alias(
                "n_alarm_pos"
            ),
            F.sum(F.expr("CASE WHEN s_neg > h THEN 1 ELSE 0 END")).alias(
                "n_alarm_neg"
            ),
            F.coalesce(
                F.date_format(
                    F.min(
                        F.when(
                            (F.col("s_pos") > F.col("h"))
                            | (F.col("s_neg") > F.col("h")),
                            F.col("d"),
                        )
                    ),
                    "yyyy-MM-dd",
                ),
                F.lit("none"),
            ).alias("first_alarm_day"),
        )
        .orderBy("event_type")
    )


TS_CUSUM_SQL = f"""
WITH {_ev_cte("event_type")},
daily AS (
  SELECT event_type, d, CAST(SUM(cents) AS BIGINT) AS v
  FROM ev GROUP BY event_type, d
),
stats AS (
  SELECT event_type,
         CAST(SUM(v) AS BIGINT) // COUNT(*) AS mu,
         COUNT(*) AS n_days
  FROM daily GROUP BY event_type
),
base AS (
  SELECT d.event_type, d.d, d.v, s.mu, s.n_days,
         s.mu // {CUSUM_SLACK_DIV} AS k,
         s.mu // {CUSUM_THRESH_DIV} AS h
  FROM daily d JOIN stats s USING (event_type)
),
pref AS (
  SELECT event_type, d, n_days, mu, k, h,
         SUM(v - mu - k) OVER w AS pp,
         SUM(mu - v - k) OVER w AS pn
  FROM base
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
runmin AS (
  SELECT event_type, d, n_days, mu, k, h, pp, pn,
         MIN(pp) OVER w AS pp_min,
         MIN(pn) OVER w AS pn_min
  FROM pref
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cus AS (
  SELECT event_type, d, n_days, mu, k, h,
         CAST(pp - LEAST(CAST(0 AS BIGINT), pp_min) AS BIGINT) AS s_pos,
         CAST(pn - LEAST(CAST(0 AS BIGINT), pn_min) AS BIGINT) AS s_neg
  FROM runmin
)
SELECT event_type,
       MAX(n_days) AS n_days,
       MAX(mu) AS mean_cents,
       MAX(k) AS slack_cents,
       MAX(h) AS thresh_cents,
       MAX(s_pos) AS max_cusum_pos,
       MAX(s_neg) AS max_cusum_neg,
       CAST(SUM(CASE WHEN s_pos > h THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarm_pos,
       CAST(SUM(CASE WHEN s_neg > h THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarm_neg,
       COALESCE(strftime(MIN(CASE WHEN s_pos > h OR s_neg > h THEN d END),
                         '%Y-%m-%d'), 'none') AS first_alarm_day
FROM cus GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    ts_changepoint_cusum: TS_CUSUM_SQL,
    ts_holt_linear: TS_HOLT_SQL,
    ts_sax_symbols: TS_SAX_SQL,
    ts_downsample_lttb: TS_LTTB_SQL,
    ts_forecast_eval_mase: TS_MASE_SQL,
    ts_mad_outliers: TS_MAD_SQL,
    ts_trend_forecast: TS_TREND_SQL,
    ts_similarity_paa: TS_SIMILARITY_SQL,
    ts_matrix_profile_paa: TS_MATRIX_PROFILE_SQL,
    ts_autocorr: _autocorr_sql(),
    ts_cross_correlation: TS_XCORR_SQL,
    ts_stl_lite: TS_STL_SQL,
}
