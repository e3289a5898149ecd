"""Batch sources/sinks (reference O1/O10/O11 re-expressed).

The reference reads CSV with a python ``csv.DictReader`` (producer.py:33-35)
and lands CSV micro-batches re-read by ``spark.read.csv`` over cumulative
path lists (spark_trainer.py:43-46). Here everything is a declarative scan:
parquet for the driver fixtures (columnar, predicate-pushdown-able,
splittable — the only sane format at 100 TB), CSV with an explicit schema
for reference parity (never ``inferSchema`` — a schema inference pass is a
full extra scan of the data).

The events table's shared rules each have one home here: ``EV_US`` is the
oracles' events CTE, ``read_events`` the Spark scan it mirrors,
``user_timeline`` the per-user (ts, event_id) event order every per-user
window runs over, and ``gap_to_prev_us`` / ``gap_to_next_us`` the
integer-microsecond gaps to a user's previous and next event over it;
``timeline_frame_readout`` is the one readout of a user's trailing
N-event frame.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable, TypeVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType
from pyspark.sql.window import Window, WindowSpec

T = TypeVar("T")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists but owned by someone else
    return True


def _prune_dead_siblings(parent: str, prefix: str) -> None:
    """Remove sibling scratch dirs ``{prefix}p<pid>`` whose owning process
    has exited. Repeated driver/bench/test runs each leave one per-pid dir
    (some holding sizable sf0.1 roundtrip artifacts); without this, the
    accumulation under /tmp/kpbd_scratch is unbounded."""
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for name in entries:
        if not name.startswith(prefix):
            continue
        suffix = name[len(prefix):]
        if not suffix.isdigit() or int(suffix) == os.getpid():
            continue
        if not _pid_alive(int(suffix)):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def scratch_dir(tag: str, sf_dir: str) -> str:
    """Fixed per-(tag, sf, pid) scratch path, WIPED on each call: repeated
    driver/bench/oracle runs in one process reuse one directory instead of
    leaking a new mkdtemp per invocation, while the pid suffix keeps two
    CONCURRENT processes against the same SF (e.g. bench + a verify sweep)
    from racing on the same path during the wipe/overwrite. Sibling dirs
    left by EXITED pids are pruned on each call so the scratch root stays
    bounded across runs."""
    parent = os.path.join(tempfile.gettempdir(), "kpbd_scratch")
    prefix = f"{tag}_{os.path.basename(sf_dir.rstrip('/'))}_p"
    _prune_dead_siblings(parent, prefix)
    base = os.path.join(parent, f"{prefix}{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    return base


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_stamp(path: str) -> tuple[int, int, int]:
    """(file count, newest st_mtime_ns, total st_size) of the files of a
    table — one file or a directory tree; (-1, -1, -1) if unreadable.

    Keys the in-process table memos: any file added, removed or
    rewritten in place changes the stamp. A directory's own mtime does
    not, since rewriting a file inside it leaves the entry list as is.
    """
    try:
        if os.path.isdir(path):
            stats = [
                os.stat(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            ]
        else:
            stats = [os.stat(path)]
    except OSError:
        return (-1, -1, -1)
    return (
        len(stats),
        max((st.st_mtime_ns for st in stats), default=-1),
        sum(st.st_size for st in stats),
    )


def app_memo(
    cache: dict, spark: SparkSession, sf_dir: str, what: str, table: str,
    build: Callable[[], T],
) -> T:
    """``cache``'s value for ``what`` under this Spark application and
    ``sf_dir``, built by ``build()`` on a miss.

    The key is (applicationId, normalized sf_dir, what, ``table_stamp`` of
    the fixture table ``what`` is derived from): a value bound to a dead
    JVM, or derived from a table file rewritten since, is never served.
    A miss first evicts every entry of another application and the
    superseded-stamp entry for the same ``what``, so the memo holds at
    most one value per (sf_dir, what).
    """
    app = spark.sparkContext.applicationId
    norm = sf_dir.rstrip("/")
    key = (app, norm, what, table_stamp(table_path(norm, table)))
    hit = cache.get(key)
    if hit is not None:
        return hit
    for stale in [k for k in cache if k[0] != app or k[:3] == key[:3]]:
        del cache[stale]
    value = cache[key] = build()
    return value


# Scan-PLAN memo (r12): building a parquet scan costs ~78 ms on the
# driver per call (footer/schema read + py4j round-trips), and the query
# builders call load_table thousands of times across a bench run — tens
# of seconds of pure plan-construction overhead. A DataFrame is an
# immutable lazy plan, so the SAME object can seed every query that
# reads the table: each action still scans the parquet files from disk —
# nothing row-shaped is ever held here. _PSCAN memoizes
# parallelize_scan's repartition decision for exactly those cached frames
# (identity-checked so a recycled id() can never alias a different frame).
_SCAN_CACHE: dict[tuple[str, str, str, tuple[int, int, int]], DataFrame] = {}
_PSCAN_CACHE: dict[int, tuple[DataFrame, DataFrame]] = {}


# The oracles' events CTE: ``ts`` cast to DuckDB's microsecond TIMESTAMP,
# the truncation ``read_events`` applies on the Spark side.
EV_US = "ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)"


def read_events(spark: SparkSession, read: Callable[[], DataFrame]) -> DataFrame:
    """Run ``read`` (a batch or streaming scan of the ``events`` fixture)
    and return it with ``ts`` as a microsecond TIMESTAMP.

    The fixture may store TIMESTAMP(NANOS), which Spark's vectorized
    parquet reader rejects: ``read`` runs with nanos read as long (session
    conf), and the plan converts them to microsecond timestamps — the same
    truncation DuckDB applies when casting TIMESTAMP_NS to its microsecond
    TIMESTAMP.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read()
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and isinstance(field.dataType, TimestampNTZType):
            # Fixture may land as TIMESTAMP_NTZ; event-time functions
            # (unix_micros, withWatermark, window) demand TIMESTAMP. The
            # session timezone is pinned to UTC (session.py), so the cast is
            # value-identical — and it matches the DuckDB oracles, which
            # normalize via CAST(ts AS TIMESTAMP).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def user_timeline() -> WindowSpec:
    """Each user's events in (ts, event_id) order: a unique total order,
    so every window over it is deterministic in any engine (the oracles
    spell it ``PARTITION BY user_id ORDER BY ts, event_id``). A function,
    not a constant: a WindowSpec needs a live JVM."""
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def gap_to_prev_us() -> Column:
    """Microseconds since the user's previous event; NULL on their first."""
    return F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(user_timeline()))


def gap_to_next_us() -> Column:
    """Microseconds to the user's next event; NULL on their last."""
    return F.unix_micros(F.lead("ts").over(user_timeline())) - F.unix_micros("ts")


def timeline_frame_readout(
    ev: DataFrame, value: str, n: int, readout: Column, sort: bool = False
) -> DataFrame:
    """(user_id, rn, ts, readout) per event, ordered by (user_id, rn):
    ``vals`` is the list of ``value`` over the user's trailing ``n``-event
    frame (ascending with ``sort``), collected by one window pass over a
    BOUNDED frame (state O(n), not O(user)); ``readout`` reads it; ``rn``
    is the event's BIGINT position in the user's timeline and ``ts`` its
    second-resolution text."""
    vals = F.collect_list(value).over(user_timeline().rowsBetween(-(n - 1), 0))
    return (
        ev.withColumn("vals", F.array_sort(vals) if sort else vals)
        .withColumn("rn", F.row_number().over(user_timeline()).cast("long"))
        .select(
            "user_id",
            "rn",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            readout,
        )
        .orderBy("user_id", "rn")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Column pruning + filter pushdown reach the
    parquet reader automatically because this stays declarative.
    ``events`` goes through ``read_events`` for its timestamp column.
    """
    # The table's file stamp in the key invalidates the memoized scan if a
    # fixture is rewritten within one application: a cached DataFrame's
    # file index keeps the old file lengths, so its splits would drop or
    # misread every row group past them.
    path = table_path(sf_dir, name)

    def scan() -> DataFrame:
        # app_memo has just evicted superseded scans: drop their
        # repartition decisions too
        live = {id(v) for v in _SCAN_CACHE.values()}
        for k in [k for k in _PSCAN_CACHE if k not in live]:
            del _PSCAN_CACHE[k]
        if name == "events":
            return read_events(spark, lambda: spark.read.parquet(path))
        return spark.read.parquet(path)

    return app_memo(_SCAN_CACHE, spark, sf_dir, name, name, scan)


def parallelize_scan(df: DataFrame, min_ratio: int = 2) -> DataFrame:
    """Repartition a scan that arrived with too few partitions for the
    cluster (the small-file case: one parquet file → one task → one core
    doing all the compute downstream).

    On a real 100 TB table the scan has thousands of 128 MiB splits and
    this is a no-op (``getNumPartitions`` already ≥ cores); locally, the
    fixtures are single files, and compute-heavy operators (shingling,
    hashing, cosine) would otherwise run single-threaded. The shuffle this
    inserts moves only the small input, never fires on big inputs.

    The decision is memoized for load_table's cached scan frames (the
    ``.rdd`` probe is a full analysis+planning round-trip, ~36 ms per
    call); the plan and values are identical either way.
    """
    ent = _PSCAN_CACHE.get(id(df))
    if ent is not None and ent[0] is df:
        return ent[1]
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * min_ratio <= target:
        out = df.repartition(target)
    else:
        out = df
    # memoize only frames that live in _SCAN_CACHE: their strong refs
    # keep id(df) stable, and the cache stays bounded by table count
    if any(v is df for v in _SCAN_CACHE.values()):
        _PSCAN_CACHE[id(df)] = (df, out)
    return out


def read_csv(spark: SparkSession, paths: list[str] | str, schema: StructType) -> DataFrame:
    """CSV scan with header and explicit schema (reference O1).

    A multi-path list is an implicit UNION ALL (reference O11,
    spark_trainer.py:43-46): Spark plans one scan over all files, which is
    strictly better than N scans + N-1 union nodes.
    """
    return spark.read.option("header", True).schema(schema).csv(paths)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header (reference O10, consumer.py:61-67)."""
    df.write.option("header", True).mode(mode).csv(path)


def write_bucketed(
    df: DataFrame, table: str, key: str, num_buckets: int = 32, path: str | None = None
) -> None:
    """Persist a table hash-bucketed (and per-file sorted) on its join key.

    This is the shuffle-elimination primitive for repeated fact-fact joins
    at 100 TB: two tables bucketed on the same key with the same bucket
    count join WITHOUT an Exchange on either side (Catalyst recognizes the
    co-partitioning from the catalog), turning the usual
    shuffle-sort-merge into a zero-movement per-bucket merge. Worth it for
    any join key used more than once — e.g. lineitem⋈orders on the order
    key, which every TPC-H-shaped query in plans/ hits. Exercised
    end-to-end (write → catalog scan → exchange-free SMJ, value-hash
    oracle) by ``sources/queries.q_bucketed_join``.

    The frame is pre-repartitioned on the bucket hash so each bucket is
    exactly ONE file — that is the condition under which the reader
    trusts the per-bucket sort order, and it caps file count at
    num_buckets instead of tasks × buckets. ``path`` makes the table
    EXTERNAL at that location (scratch-friendly); bucketing metadata
    still lives in the session catalog either way.
    """
    writer = (
        df.repartition(num_buckets, F.col(key))
        .write.bucketBy(num_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
