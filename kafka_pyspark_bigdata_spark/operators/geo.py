"""Spatial grid operators: cell aggregation and grid-bucketed distance
join — the geospatial analog of the LSH candidate-generation pattern the
dedup/similarity modules use everywhere (bucket on a coarse key, verify
exactly, never n²).

The fixture has no geographic columns, so coordinates are synthesized
DETERMINISTICALLY from the stable user_id (md5-derived integer
microdegrees — same honestly-labeled-fake precedent as
operators.multimodal): both engines derive identical coordinates, so
every result is value-exact oracle-checkable, and the Spark-side plumbing
(cell keys, neighbor expansion, integer distance verify) is the real
production shape — a real pipeline swaps the synthesizer for its lat/lon
columns and nothing else changes.

All arithmetic is integer microdegrees (BIGINT squared distances): no
floats, no trig — at city scale the flat-earth approximation is standard,
and exactness is what makes the oracle hash-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import md5_int
from ..sources.batch import load_table

# Synthetic world: a 0.1° × 0.1° region (100_000 µdeg per axis).
GEO_SPAN = 100_000
# Grid cell edge, µdeg (~1.1 km). RADIUS ≤ CELL guarantees the 3×3
# neighborhood contains every in-radius candidate (see geo_grid_pairs).
GEO_CELL = 10_000
GEO_RADIUS = 10_000  # pair radius, µdeg


def _coords(user_col: str = "user_id") -> tuple[Column, Column]:
    """Deterministic synthetic coordinates: 48 bits of md5(user_id),
    split into lat/lon microdegree offsets inside the synthetic region.
    Engine-portable (md5 + integer ops only)."""
    h = md5_int(user_col, 12)
    return (
        (h % GEO_SPAN).alias("lat"),
        ((h / GEO_SPAN).cast("bigint") % GEO_SPAN).alias("lon"),
    )


_COORDS_SQL = f"""
u AS (SELECT DISTINCT user_id FROM events),
pts AS (
  SELECT user_id,
         h % {GEO_SPAN} AS lat, (h // {GEO_SPAN}) % {GEO_SPAN} AS lon
  FROM (SELECT user_id,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
        FROM u)
)
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    lat, lon = _coords()
    return users.select("user_id", lat, lon)


def geo_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell density aggregation (the H3/S2-style rollup, square
    cells): users bucketed into ~1.1 km cells with per-cell population
    and bounding coordinates — the map-tile / heatmap primitive.

    One partial-agg shuffle on the (cell_x, cell_y) key; cell ids are
    integer floor-division of the coordinates, so the rollup composes
    with coarser zoom levels by further division (hierarchical grids
    for free). At 100 TB the cell key is low-cardinality and uniform —
    the aggregation is pure map-side combine + tiny shuffle."""
    pts = _points(spark, sf_dir)
    return (
        pts.groupBy(
            (F.col("lat") / GEO_CELL).cast("long").alias("cell_x"),
            (F.col("lon") / GEO_CELL).cast("long").alias("cell_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("lat").alias("lat_min"),
            F.max("lat").alias("lat_max"),
            F.min("lon").alias("lon_min"),
            F.max("lon").alias("lon_max"),
        )
        .orderBy("cell_x", "cell_y")
    )


GEO_CELL_STATS_SQL = f"""
WITH {_COORDS_SQL}
SELECT CAST(lat // {GEO_CELL} AS BIGINT) AS cell_x,
       CAST(lon // {GEO_CELL} AS BIGINT) AS cell_y,
       COUNT(*) AS n_users,
       MIN(lat) AS lat_min, MAX(lat) AS lat_max,
       MIN(lon) AS lon_min, MAX(lon) AS lon_max
FROM pts GROUP BY 1, 2 ORDER BY cell_x, cell_y
"""


def geo_grid_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial self-join: all user pairs within GEO_RADIUS µdeg
    (Euclidean), via grid-bucketed candidate generation — the classic
    distributed spatial join and the exact shape of the LSH dedup path:
    coarse bucket → equi-join → exact verify.

    One side explodes to its 3×3 cell neighborhood (a FIXED 9× fanout,
    not data-dependent), the other stays at its home cell, and the
    equi-join on the cell key yields candidates that the integer
    squared-distance filter verifies exactly. Because RADIUS ≤ CELL,
    any in-radius pair is at most one cell apart per axis, so the
    neighborhood is guaranteed complete AND each pair meets exactly once
    (B's home cell occurs once in A's 3×3 block) — no post-dedup needed.
    The canonical user_a < user_b ordering halves the output. Shuffle
    keys are cells (uniform by construction of the hash coords; a skewed
    real-world grid adds AQE skew-join or per-cell salting on top)."""
    return _grid_pairs_unordered(spark, sf_dir).orderBy("user_a", "user_b")


def _grid_pairs_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified in-radius pair set WITHOUT the presentation sort —
    consumers that aggregate the pairs (DBSCAN) skip the global sort."""
    pts = _points(spark, sf_dir)
    home = pts.select(
        F.col("user_id").alias("user_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        (F.col("lat") / GEO_CELL).cast("long").alias("cx"),
        (F.col("lon") / GEO_CELL).cast("long").alias("cy"),
    )
    probe = pts.select(
        F.col("user_id").alias("user_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy ->"
                f" struct(CAST(lat AS BIGINT) DIV {GEO_CELL} + dx AS cx,"
                f" CAST(lon AS BIGINT) DIV {GEO_CELL} + dy AS cy))))"
            )
        ).alias("cell"),
    ).select("user_a", "lat_a", "lon_a", F.col("cell.cx").alias("cx"), F.col("cell.cy").alias("cy"))
    r2 = GEO_RADIUS * GEO_RADIUS
    return (
        probe.join(home, ["cx", "cy"])
        .filter(F.col("user_a") < F.col("user_b"))
        .withColumn(
            "dist_sq",
            (F.col("lat_a") - F.col("lat_b")) * (F.col("lat_a") - F.col("lat_b"))
            + (F.col("lon_a") - F.col("lon_b"))
            * (F.col("lon_a") - F.col("lon_b")),
        )
        .filter(F.col("dist_sq") <= r2)
        .select("user_a", "user_b", "dist_sq")
    )


GEO_GRID_PAIRS_SQL = f"""
WITH {_COORDS_SQL},
home AS (
  SELECT user_id AS user_b, lat AS lat_b, lon AS lon_b,
         lat // {GEO_CELL} AS cx, lon // {GEO_CELL} AS cy
  FROM pts
),
probe AS (
  SELECT user_id AS user_a, lat AS lat_a, lon AS lon_a,
         lat // {GEO_CELL} + dx.dx AS cx, lon // {GEO_CELL} + dy.dy AS cy
  FROM pts
  CROSS JOIN (VALUES (-1), (0), (1)) AS dx(dx)
  CROSS JOIN (VALUES (-1), (0), (1)) AS dy(dy)
)
SELECT user_a, user_b,
       (lat_a - lat_b) * (lat_a - lat_b)
         + (lon_a - lon_b) * (lon_a - lon_b) AS dist_sq
FROM probe JOIN home USING (cx, cy)
WHERE user_a < user_b
  AND (lat_a - lat_b) * (lat_a - lat_b)
        + (lon_a - lon_b) * (lon_a - lon_b) <= {GEO_RADIUS * GEO_RADIUS}
ORDER BY user_a, user_b
"""


GEO_KNN_K = 3


def geo_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-bounded kNN join: each user's {GEO_KNN_K} nearest
    neighbors within GEO_RADIUS — the spatial nearest-neighbor
    primitive behind store-assignment / meetup-matching queries, and
    the geo analog of ``ann_topk_bruteforce``'s top-k but with
    grid-bucketed candidates instead of a broadcast scan.

    Unlike ``geo_grid_pairs`` the relation is DIRECTED (b near a does
    not make a near b's top-k), so candidates keep both orientations
    and a per-user ``row_number`` over (dist², neighbor id) picks the
    k nearest deterministically. The radius bound is what makes kNN
    joinable at scale: candidates stay within the 3×3 cell block (9×
    fanout, data-independent), so the plan is equi-join + per-user
    top-k — never a cross join; users with fewer than k in-radius
    neighbors return what exists (bounded-kNN semantics, the standard
    production contract). The top-k window partitions on user_id, the
    same key the candidate join shuffles on."""
    pts = _points(spark, sf_dir)
    home = pts.select(
        F.col("user_id").alias("nbr_id"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        (F.col("lat") / GEO_CELL).cast("long").alias("cx"),
        (F.col("lon") / GEO_CELL).cast("long").alias("cy"),
    )
    probe = pts.select(
        "user_id",
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy ->"
                f" struct(CAST(lat AS BIGINT) DIV {GEO_CELL} + dx AS cx,"
                f" CAST(lon AS BIGINT) DIV {GEO_CELL} + dy AS cy))))"
            )
        ).alias("cell"),
    ).select(
        "user_id", "lat_a", "lon_a",
        F.col("cell.cx").alias("cx"), F.col("cell.cy").alias("cy"),
    )
    r2 = GEO_RADIUS * GEO_RADIUS
    w = Window.partitionBy("user_id").orderBy("dist_sq", "nbr_id")
    return (
        probe.join(home, ["cx", "cy"])
        .filter(F.col("user_id") != F.col("nbr_id"))
        .withColumn(
            "dist_sq",
            (F.col("lat_a") - F.col("lat_b")) * (F.col("lat_a") - F.col("lat_b"))
            + (F.col("lon_a") - F.col("lon_b"))
            * (F.col("lon_a") - F.col("lon_b")),
        )
        .filter(F.col("dist_sq") <= r2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= GEO_KNN_K)
        .select("user_id", "rank", "nbr_id", "dist_sq")
        .orderBy("user_id", "rank")
    )


GEO_KNN_SQL = f"""
WITH {_COORDS_SQL},
home AS (
  SELECT user_id AS nbr_id, lat AS lat_b, lon AS lon_b,
         lat // {GEO_CELL} AS cx, lon // {GEO_CELL} AS cy
  FROM pts
),
probe AS (
  SELECT user_id, lat AS lat_a, lon AS lon_a,
         lat // {GEO_CELL} + dx.dx AS cx, lon // {GEO_CELL} + dy.dy AS cy
  FROM pts
  CROSS JOIN (VALUES (-1), (0), (1)) AS dx(dx)
  CROSS JOIN (VALUES (-1), (0), (1)) AS dy(dy)
),
scored AS (
  SELECT user_id, nbr_id,
         (lat_a - lat_b) * (lat_a - lat_b)
           + (lon_a - lon_b) * (lon_a - lon_b) AS dist_sq
  FROM probe JOIN home USING (cx, cy)
  WHERE user_id <> nbr_id
    AND (lat_a - lat_b) * (lat_a - lat_b)
          + (lon_a - lon_b) * (lon_a - lon_b)
        <= {GEO_RADIUS * GEO_RADIUS}
)
SELECT user_id, rank, nbr_id, dist_sq
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY dist_sq, nbr_id) AS rank
  FROM scored
) WHERE rank <= {GEO_KNN_K}
ORDER BY user_id, rank
"""


DBSCAN_MINPTS = 4


def geo_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN point classification (core / border / noise) over the
    grid-bucketed neighbor graph — the density-clustering primitive,
    with the O(n²) neighborhood search replaced by the same
    cell-bucketed candidate join as ``geo_grid_pairs`` (the published
    MR-DBSCAN decomposition).

    core: ≥ {DBSCAN_MINPTS} in-radius neighbors; border: non-core with
    a core neighbor; noise: the rest. Everything is integer counts over
    the verified pair list — one union + two keyed aggregations + one
    semi-join against the (small) core set; no distances recomputed.

    r12: the pair frame and the per-point neighbor-count frame are
    localCheckpoint-pinned — ``pairs`` fed the union twice and ``und``
    two consumers (ncnt, border_ids), so the grid-bucketed candidate
    join ran up to 4× (Spark has no cross-branch CSE — the
    dedup amortization convention); ``base`` feeds three consumers.
    Values are deterministic from the input, so pinning cannot change
    any result.
    """
    pairs = (
        _grid_pairs_unordered(spark, sf_dir)
        .select("user_a", "user_b")
        .localCheckpoint(eager=False)
    )
    und = pairs.union(
        pairs.select(F.col("user_b").alias("user_a"), F.col("user_a").alias("user_b"))
    ).toDF("u", "v")
    ncnt = und.groupBy("u").agg(F.count(F.lit(1)).alias("n_neighbors"))
    base = (
        _points(spark, sf_dir)
        .select("user_id")
        .join(ncnt, F.col("user_id") == F.col("u"), "left")
        .select("user_id", F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors"))
        .localCheckpoint(eager=False)
    )
    cores = base.filter(F.col("n_neighbors") >= DBSCAN_MINPTS).select(
        F.col("user_id").alias("core_id")
    )
    border_ids = (
        und.join(cores, und["v"] == cores["core_id"])
        .select(F.col("u").alias("border_id"))
        .distinct()
    )
    return (
        base.join(cores, base["user_id"] == cores["core_id"], "left")
        .join(border_ids, base["user_id"] == border_ids["border_id"], "left")
        .select(
            "user_id",
            "n_neighbors",
            F.when(F.col("core_id").isNotNull(), "core")
            .when(F.col("border_id").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
        )
        .orderBy("user_id")
    )


GEO_DBSCAN_SQL = f"""
WITH {_COORDS_SQL},
pairs AS (
  SELECT a.user_id AS ua, b.user_id AS ub
  FROM pts a JOIN pts b ON a.user_id < b.user_id
  WHERE (a.lat - b.lat) * (a.lat - b.lat)
          + (a.lon - b.lon) * (a.lon - b.lon) <= {GEO_RADIUS * GEO_RADIUS}
),
und AS (SELECT ua AS u, ub AS v FROM pairs
        UNION ALL SELECT ub, ua FROM pairs),
ncnt AS (SELECT u, COUNT(*) AS n_neighbors FROM und GROUP BY u),
base AS (
  SELECT p.user_id, COALESCE(n.n_neighbors, 0) AS n_neighbors
  FROM pts p LEFT JOIN ncnt n ON n.u = p.user_id
),
cores AS (SELECT user_id FROM base WHERE n_neighbors >= {DBSCAN_MINPTS}),
borders AS (
  SELECT DISTINCT und.u AS user_id FROM und
  JOIN cores ON cores.user_id = und.v
)
SELECT b.user_id, CAST(n_neighbors AS BIGINT) AS n_neighbors,
       CASE WHEN c.user_id IS NOT NULL THEN 'core'
            WHEN bo.user_id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role
FROM base b
LEFT JOIN cores c ON c.user_id = b.user_id
LEFT JOIN borders bo ON bo.user_id = b.user_id
ORDER BY b.user_id
"""


QUERIES = {
    geo_knn_join: GEO_KNN_SQL,
    geo_dbscan_core: GEO_DBSCAN_SQL,
    geo_cell_stats: GEO_CELL_STATS_SQL,
    geo_grid_pairs: GEO_GRID_PAIRS_SQL,
}
