"""Source/sink driver-contract queries: prove the CSV and JSON codecs are
LOSSLESS by round-tripping fixture data through them and hash-comparing an
aggregate against the oracle computed on the original parquet.

Covers reference O1/O10 (CSV scan/sink with header — producer.py:33-35,
consumer.py:61-67) and O4/O8 (JSON encode/decode — producer.py:21,
consumer.py:24) with value-exact oracles, not just unit tests: Spark's CSV
writer emits shortest-round-trip doubles (Java ``Double.toString``) and the
explicit-schema reader parses them back to the identical bits, so the
post-round-trip aggregate must hash-match the parquet-side oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.numeric import cents, davg, davg_sql, dsum, dsum_expr, dsum_sql
from ..streaming.kafka import decode_json_stream, encode_json
from .batch import load_table, read_csv, scratch_dir, write_bucketed, write_csv

_RT_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
    ]
)


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV files with header (O10) → explicit-schema scan (O1) →
    aggregate. The oracle aggregates the original parquet: a hash match
    proves the text codec loses nothing."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = os.path.join(scratch_dir("csv_rt", sf_dir), "events_csv")
    write_csv(ev, out)
    back = read_csv(spark, out, _RT_SCHEMA)
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n_rows"), dsum("value").alias("sum_value"))
        .orderBy("event_type")
    )


Q_CSV_ROUNDTRIP_SQL = f"""
SELECT event_type, COUNT(*) AS n_rows, {dsum_sql('value')} AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ``to_json(struct(*))`` value bytes (O4) → ``from_json``
    with explicit schema + validity filter (O8) → aggregate, all in ONE
    plan (the batch shape of the Kafka value codec path)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    decoded = decode_json_stream(encode_json(ev), _RT_SCHEMA)
    return (
        decoded.groupBy("event_type")
        .agg(F.count("*").alias("n_rows"), dsum("value").alias("sum_value"))
        .orderBy("event_type")
    )


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON-lines files → explicit-schema scan → aggregate: the
    third file format (after parquet fixtures and CSV batches), same
    losslessness contract."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = os.path.join(scratch_dir("jsonl_rt", sf_dir), "events_jsonl")
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(_RT_SCHEMA).json(out)
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n_rows"), dsum("value").alias("sum_value"))
        .orderBy("event_type")
    )


PRUNE_MONTH = "2024-01"


def _day_partitioned(ev: DataFrame, out: str) -> DataFrame:
    """Write ``ev`` to ``out`` partitioned by its ``ts`` day
    (``event_date=yyyy-MM-dd`` directories) and read it back with the
    written schema: a write with no rows leaves no file to infer one from."""
    part = ev.withColumn("event_date", F.to_date("ts"))
    part.write.mode("overwrite").partitionBy("event_date").parquet(out)
    return ev.sparkSession.read.schema(part.schema).parquet(out)


def q_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + partition-pruned read: events land
    partitioned by (event_date=...) directories, then a single-day
    predicate reads back ONLY that day's directory — the layout that
    makes time-bounded scans at 100 TB touch 1/365th of the table. The
    pruning itself is asserted by the physical-plan test
    (tests/test_plans.py); this driver entry hash-verifies that the
    partitioned codec is lossless: per-hour aggregates of one day match
    the oracle computed on the unpartitioned fixture."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    out = os.path.join(scratch_dir("part_scan", sf_dir), "events_part")
    back = _day_partitioned(ev, out).filter(
        F.col("event_date") == f"{PRUNE_MONTH}-15"
    )
    return (
        back.groupBy(F.hour("ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("value").alias("sum_value"))
        .orderBy("hour")
    )


Q_PARTITIONED_SQL = f"""
WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events)
SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
       COUNT(*) AS n_rows, {dsum_sql('value')} AS sum_value
FROM ev
WHERE strftime(ts, '%Y-%m-%d') = '{PRUNE_MONTH}-15'
GROUP BY hour ORDER BY hour
"""


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an early batch without
    the ``value`` column and a later batch with it, read as one table
    via ``mergeSchema`` — the add-a-column migration every long-lived
    lakehouse table goes through. Old rows surface NULL for the new
    column (count vs value-count split per type proves the backfill);
    the oracle replays the same evolution relationally."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    root = scratch_dir("schema_evo", sf_dir)
    old = F.col("event_id") % 2 == 0
    ev.filter(old).drop("value").write.parquet(os.path.join(root, "batch=0"))
    ev.filter(~old).write.parquet(os.path.join(root, "batch=1"))
    back = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("value").alias("n_with_value"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


Q_SCHEMA_EVO_SQL = f"""
WITH unioned AS (
  SELECT event_id, event_type, NULL::DOUBLE AS value FROM events
  WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_id, event_type, value FROM events WHERE event_id % 2 <> 0
)
SELECT event_type, COUNT(*) AS n_rows, COUNT(value) AS n_with_value,
       {dsum_sql('value')} AS sum_value
FROM unioned GROUP BY event_type ORDER BY event_type
"""


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem slice → ORC files (Spark's second built-in columnar
    format; zlib-compressed, predicate-pushdown-able, splittable) →
    re-scan → aggregate. The oracle aggregates the original parquet:
    a hash match proves the ORC codec round-trips decimals, dates, and
    strings losslessly. The ORC scan gets the same pushdown treatment
    as parquet (``spark.sql.orc.filterPushdown`` defaults true), so at
    scale this is a first-class storage alternative, not a demo."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    out = os.path.join(scratch_dir("orc_rt", sf_dir), "lineitem_orc")
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
            F.count_distinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("l_returnflag")
    )


Q_ORC_ROUNDTRIP_SQL = f"""
SELECT l_returnflag, COUNT(*) AS n_rows,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_price,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → XML files (Spark 4's BUILT-IN xml source — one ``<row>``
    element per record, SPARK-44265) → explicit-schema scan → aggregate.
    The oracle aggregates the original parquet: a hash match proves the
    XML codec (writer entity-escaping + shortest-round-trip doubles,
    reader parse-back) loses nothing. Fifth interchange format after
    parquet / CSV / JSON-lines / ORC; XML remains the wire format of
    enterprise feeds (SEPA, FpML, sitemap/WARC metadata) a 100 TB
    ingest layer still has to land. The scan is splittable by row tag,
    so at scale each split is one task — same front-door economics as
    the text reader."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = os.path.join(scratch_dir("xml_rt", sf_dir), "events_xml")
    ev.write.format("xml").option("rowTag", "row").mode("overwrite").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(_RT_SCHEMA)
        .load(out)
    )
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n_rows"), dsum("value").alias("sum_value"))
        .orderBy("event_type")
    )


# Bucket count is a CLUSTER knob, not a data knob: at 100 TB you size it
# to executor-count × a small multiple (e.g. 4096) once, and every
# co-located join on the key reuses the layout with zero shuffles.
JOIN_BUCKETS = 8


# Process-local registry of already-written bucketed layouts, keyed by
# normalized sf_dir: the WHOLE POINT of catalog bucketing is paying the
# layout write once and reusing it across every subsequent orderkey join,
# so the ensure helper only writes on first use per process. (Cross-process
# staleness is a non-issue: the table names are pid-suffixed, so a fresh
# process never resolves a dead process's catalog entries.)
_BUCKETED_TABLES: dict[str, tuple[str, str]] = {}


def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/lineitem catalog-bucketed on the order key ONCE per
    (process, sf_dir); return the (orders, lineitem) table names. The
    written column set is the superset both bucketed consumers need."""
    key = sf_dir.rstrip("/")
    if key in _BUCKETED_TABLES:
        # Validate the hit against the LIVE catalog: the cache is keyed by
        # sf_dir only, so an in-process SparkSession recreation (catalog
        # reset) would otherwise return table names the new catalog doesn't
        # have and spark.table() would fail. On a miss, fall through to a
        # rewrite.
        cached = _BUCKETED_TABLES[key]
        if spark.catalog.tableExists(cached[0]) and spark.catalog.tableExists(
            cached[1]
        ):
            return cached
        del _BUCKETED_TABLES[key]
    # pid-suffixed tag: catalog table names, like the scratch path, must not
    # collide across two concurrent processes sweeping the same SF — the
    # DROP/overwrite below would race on a shared metastore entry.
    tag = f"{os.path.basename(key).replace('.', '_')}_p{os.getpid()}"
    base = scratch_dir("bucketed_join", sf_dir)
    t_orders, t_lineitem = f"orders_bkt_{tag}", f"lineitem_bkt_{tag}"
    ord_ = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_quantity"
    )
    for name, df, k in (
        (t_orders, ord_, "o_orderkey"),
        (t_lineitem, li, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed(df, name, k, JOIN_BUCKETS, path=os.path.join(base, name))
    _BUCKETED_TABLES[key] = (t_orders, t_lineitem)
    return t_orders, t_lineitem


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located fact⋈fact join via CATALOG-BUCKETED
    tables: orders and lineitem are written once, bucketed
    ``JOIN_BUCKETS`` ways on the order key (``bucketBy`` + ``sortBy``,
    pre-repartitioned so each bucket is ONE file and the on-read sort
    order is trusted), then joined with NO Exchange on either side —
    the scan's bucket layout satisfies the join's hash-partitioning
    requirement (tests/test_plans.py pins exactly one Exchange in the
    whole plan: the 5-row priority rollup).

    This is THE amortization pattern for a 100 TB lakehouse: every
    downstream orderkey join (returns, billing, enrichment) reuses the
    layout, turning the largest shuffle in the workload into a local
    merge — ``q_bucketed_reuse`` below is exactly such a second
    consumer, reading the SAME tables with no rewrite. The oracle joins
    the original parquet — value-hash equality proves the bucketed
    layout is a pure physical rewrite."""
    t_orders, t_lineitem = _ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders)
    l = spark.table(t_lineitem)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


Q_BUCKETED_JOIN_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_rows,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_bucketed_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second consumer of the SAME bucketed layout ``q_bucketed_join``
    writes — the billing rollup: per order priority, discounted revenue
    (exact decimal l_extendedprice·(1−l_discount), the TPC-H revenue
    expression) and mean line quantity. In-process the layout write is
    amortized (``_ensure_bucketed_tables`` is a per-process singleton, so
    this query pays ZERO write cost when anything bucketed ran before
    it), and the join is again Exchange-free on both sides —
    tests/test_plans.py pins one Exchange total AND that the second
    consumer triggers no rewrite. This is the claim behind the pattern
    made concrete: N co-located joins cost 1 layout write + N local
    merges, vs N full shuffles of the fact table."""
    t_orders, t_lineitem = _ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders)
    l = spark.table(t_lineitem)
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum_expr(rev).alias("revenue"),
            davg("l_quantity").alias("avg_qty"),
        )
        .orderBy("o_orderpriority")
    )


Q_BUCKETED_REUSE_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
            AS DOUBLE) AS revenue,
       {davg_sql('l_quantity')} AS avg_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_bucketed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third consumer of the bucketed layout: the layout kills the
    AGGREGATION shuffle, not just the join shuffle. A per-order rollup
    (lines per order, order value) keyed on the bucket key runs with NO
    Exchange before the aggregate — the bucketed scan already
    hash-partitions by ``l_orderkey``, so Catalyst plans a single
    complete HashAggregate per bucket instead of partial → shuffle →
    final (tests/test_plans.py pins zero Exchange below the first
    aggregate). At 100 TB this is the difference between a full
    fact-table shuffle and a purely scan-local rollup every time a
    per-entity aggregate on the layout key is needed. The readout is
    the lines-per-order distribution (bounded: ≤7 rows on the fixture)
    with order values carried as exact decimal states and only cast to
    double at the end (the q_partial_agg_merge pattern), so the
    value-hash comparison is summation-order-proof."""
    _, t_lineitem = _ensure_bucketed_tables(spark, sf_dir)
    l = spark.table(t_lineitem)
    per_order = l.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("price_state"),
    )
    return (
        per_order.groupBy("n_lines")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_state").cast("double").alias("sum_order_value"),
        )
        .orderBy("n_lines")
    )


Q_BUCKETED_AGG_SQL = """
WITH per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_lines,
         SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS price_state
  FROM lineitem GROUP BY l_orderkey
)
SELECT n_lines, COUNT(*) AS n_orders,
       CAST(SUM(price_state) AS DOUBLE) AS sum_order_value
FROM per_order GROUP BY n_lines ORDER BY n_lines
"""


def q_text_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ``write.text`` (one document per line — the raw-corpus
    interchange format every LLM data pipeline ingests) → ``read.text``
    → per-language recount via a planted lang tag.

    ``spark.read.text`` is the 100 TB corpus front door: splittable line
    records, no schema pass, each 128 MiB split a task. Losslessness is
    proven by hash-matching per-language line counts, character sums and
    distinct-line counts against the parquet-side oracle. (The fixture's
    documents are newline-free by construction, so line = document.)
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.concat_ws("\t", "lang", "text").alias("value")
    )
    out = os.path.join(scratch_dir("text_rt", sf_dir), "docs_txt")
    docs.write.mode("overwrite").text(out)
    back = spark.read.text(out).select(
        F.split_part("value", F.lit("\t"), F.lit(1)).alias("lang"),
        F.split_part("value", F.lit("\t"), F.lit(2)).alias("text"),
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.length("text")).alias("sum_chars"),
            F.count_distinct("text").alias("n_distinct"),
        )
        .orderBy("lang")
    )


Q_TEXT_LINES_SQL = """
SELECT lang, COUNT(*) AS n_lines,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT text) AS n_distinct
FROM documents GROUP BY lang ORDER BY lang
"""


BINARYFILE_N_DOCS = 24


def q_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-blob ingestion via the ``binaryFile`` source — the path a
    multimodal pipeline uses to land image/audio/video payloads as
    ``binary`` columns with (path, length) metadata before the decode
    UDFs in operators/multimodal.py take over.

    A bounded set of scratch blobs (UTF-8 bytes of the first
    {BINARYFILE_N_DOCS} documents — the fixture stands in for real
    media files) is laid down once on the driver, then scanned
    DECLARATIVELY: ``read.format("binaryFile")`` yields one row per
    file with content bytes; length and md5 are computed engine-side
    and hash-verified against the oracle's view of the same text. At
    scale the layout step is the upstream system's job — the scan,
    pruning (`pathGlobFilter`), and per-file parallelism are what this
    operator exercises.
    """
    rows = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BINARYFILE_N_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    out = scratch_dir("binfile", sf_dir)
    for r in rows:
        with open(os.path.join(out, f"doc_{r.doc_id:06d}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
    )
    return scanned.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    ).orderBy("fname")


Q_BINARYFILE_SQL = f"""
SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.bin' AS fname,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id < {BINARYFILE_N_DOCS}
ORDER BY fname
"""


DPP_MIN_VALUE = 90.0  # dim-side selectivity: days with a big purchase


def q_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a fact table partitioned by day is
    joined to a runtime-computed dimension (the distinct days on which
    any purchase exceeded {DPP_MIN_VALUE}), and Spark prunes the fact
    SCAN to just those directories — at plan time the day set is
    unknown, so static pruning can't help; Catalyst's PartitionPruning
    rule sees the selective filter on the dim side and injects a
    ``DynamicPruningExpression`` subquery into the scan's partition
    filters, reusing the join's broadcast as the pruning filter. This
    is THE mechanism that makes star-schema joins over a 100 TB
    date-partitioned fact read only the partitions the dimension
    selects (tests/test_plans.py asserts the plan carries the
    dynamic-pruning subquery; this entry hash-verifies the result).

    The fixture has no separate date dim, so the dim derives from the
    events table itself; the fact side reads the partitioned scratch
    copy, which is what gets pruned."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    out = os.path.join(scratch_dir("dpp_prune", sf_dir), "events_part")
    fact = _day_partitioned(ev, out)
    dim = (
        ev.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > DPP_MIN_VALUE)
        )
        .select(F.date_format("ts", "yyyy-MM-dd").alias("event_date"))
        .distinct()
    )
    return (
        fact.join(dim, "event_date")
        .groupBy("event_date")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("value").alias("sum_value"))
        .orderBy("event_date")
    )


Q_DPP_SQL = f"""
WITH ev AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
         event_type, value
  FROM events
),
dim AS (
  SELECT DISTINCT event_date FROM ev
  WHERE event_type = 'purchase' AND value > {DPP_MIN_VALUE}
)
SELECT event_date, COUNT(*) AS n_rows, {dsum_sql('value')} AS sum_value
FROM ev JOIN dim USING (event_date)
GROUP BY event_date ORDER BY event_date
"""


def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via Spark 4's VARIANT type: ``parse_json``
    turns the events' ``props`` JSON string into a binary Variant value
    (reference O8's payload decode, consumer.py:24, generalised to schema-
    on-read), then ``try_variant_get`` shreds the ``$.k`` path to a typed
    column that feeds a plain grouped aggregate.

    Why Variant instead of ``get_json_object`` (which q_cast_default_json
    already covers): Variant parses the JSON ONCE into a binary encoding, so
    repeated path extraction is a byte-offset lookup, not a re-parse — at
    100 TB with many extracted paths that's the difference between one and
    P string parses per row. ``try_variant_get`` returns NULL on missing
    paths / type mismatches, matching the oracle's NULL-skipping aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    sh = ev.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return (
        sh.groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


Q_VARIANT_SQL = """
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""



def q_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema parquet round-trip: build ARRAY<STRUCT> order
    documents (one row per order, its lineitems as a sorted struct
    array), write them to parquet, read back, and aggregate INSIDE the
    nested column with the higher-order ``aggregate`` lambda — proving
    the writer/reader preserve nested repetition/definition levels and
    values exactly (the flat-table oracle must hash-match).

    Scale notes: the denormalized document layout is how log/event
    lakes actually store order-shaped data; parquet stores each nested
    leaf (items.l_quantity etc.) as its own column chunk, so Spark's
    nested-schema pruning (on by default) reads only the accessed
    leaves. The struct array is ``sort_array``-canonicalized so the
    file content is deterministic at any shuffle parallelism. The sum
    folds in DECIMAL(18,2) (re-cast each step — Spark widens decimal
    ``+`` to 19,2) for order-independent exactness.
    """
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice")
            )
        ).alias("items")
    )
    path = os.path.join(scratch_dir("nested_rt", sf_dir), "nested.parquet")
    nested.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.select(
            "l_orderkey",
            F.size("items").cast("long").alias("n_items"),
            F.aggregate(
                "items",
                F.lit(0).cast("decimal(18,2)"),
                lambda acc, x: (
                    acc + x["l_quantity"].cast("decimal(18,2)")
                ).cast("decimal(18,2)"),
            )
            .cast("double")
            .alias("sum_qty"),
        )
        .orderBy(F.desc("n_items"), "l_orderkey")
        .limit(100)
    )


Q_NESTED_SQL = """
SELECT l_orderkey,
       count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY l_orderkey
ORDER BY n_items DESC, l_orderkey
LIMIT 100
"""



PYDS_ROWS = 10000
PYDS_PARTS = 8


def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via Spark 4's Python DataSource API — the
    extension point for sources Spark has no built-in reader for
    (internal REST feeds, bespoke binary formats, device logs). The
    source declares its schema and ITS OWN partition plan
    (``partitions()`` → one ``read()`` per split), so the scan is
    parallel from the first byte exactly like a file source — reads
    execute on executors over Arrow, never through the driver.

    The fixture source is a deterministic synthetic sensor feed
    (reading = 37i mod 100 over PYDS_PARTS range splits); the grouped
    rollup hash-matches a closed-form oracle, proving the
    partition-planned scan loses/duplicates nothing at any
    parallelism.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class RangeSplit(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class SensorReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("rows", PYDS_ROWS))
            self.parts = int(options.get("partitions", PYDS_PARTS))

        def partitions(self):
            per = self.n // self.parts
            return [
                RangeSplit(
                    i * per, (i + 1) * per if i < self.parts - 1 else self.n
                )
                for i in range(self.parts)
            ]

        def read(self, split):
            for i in range(split.start, split.end):
                yield (i, (i * 37) % 100, f"s{i % 5}")

    class SensorSource(DataSource):
        @classmethod
        def name(cls):
            return "pysensor"

        def schema(self):
            return "id bigint, reading bigint, sensor string"

        def reader(self, schema):
            return SensorReader(self.options)

    spark.dataSource.register(SensorSource)
    df = (
        spark.read.format("pysensor")
        .option("rows", str(PYDS_ROWS))
        .option("partitions", str(PYDS_PARTS))
        .load()
    )
    return (
        df.groupBy("sensor")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("reading").alias("sum_reading"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("sensor")
    )


Q_PYDS_SQL = f"""
WITH src AS (
  SELECT i AS id, (i * 37) % 100 AS reading,
         's' || CAST(i % 5 AS VARCHAR) AS sensor
  FROM (SELECT unnest(generate_series(0, {PYDS_ROWS - 1})) AS i)
)
SELECT sensor, COUNT(*) AS n, CAST(SUM(reading) AS BIGINT) AS sum_reading,
       MIN(id) AS min_id, MAX(id) AS max_id
FROM src GROUP BY sensor ORDER BY sensor
"""



def q_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-quarantine (dead-letter) pattern: parse semi-structured
    payloads with ``_corrupt_record`` in the schema, so malformed rows
    carry their raw bytes into a quarantine column instead of crashing
    the job (FAILFAST) or silently nulling out (plain PERMISSIVE — which
    yields a struct of NULLs that is indistinguishable from a valid
    all-null record; the corrupt column is the only reliable validity
    signal). Valid rows flow to the typed path, quarantined rows are
    counted per partition key for the monitoring feed.

    Corruption is injected deterministically (every 5th event loses its
    opening brace), and the oracle derives validity from that RULE while
    Spark derives it from the PARSER — the hash match proves the two
    agree row-for-row. One scan, one partial-agg shuffle.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "props"
    )
    corrupted = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 5 == 0, F.expr("substring(props, 2)"))
        .otherwise(F.col("props"))
        .alias("raw"),
    )
    parsed = corrupted.select(
        "event_id",
        "event_type",
        F.from_json(
            "raw",
            "k INT, _corrupt_record STRING",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("d"),
    ).select(
        "event_id",
        "event_type",
        F.col("d._corrupt_record").isNull().alias("ok"),
        F.col("d.k").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_quarantined"),
            F.sum(F.when(F.col("ok"), F.col("k")).otherwise(0))
            .cast("long")
            .alias("sum_k_valid"),
        )
        .orderBy("event_type")
    )


Q_QUARANTINE_SQL = """
SELECT event_type, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
       CAST(SUM(CASE WHEN event_id % 5 = 0 THEN 0
                ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END) AS BIGINT) AS sum_k_valid
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITER half of Spark 4's Python DataSource API — a custom SINK
    with the full commit protocol: executor-side ``write(iterator)``
    stages each partition to a task-unique file and returns a
    WriterCommitMessage; driver-side ``commit(messages)`` publishes a
    MANIFEST listing exactly the committed files. The read-back goes
    through the manifest ONLY, so stray/aborted task files are invisible
    — the same staged-files-plus-atomic-publish contract every exactly-
    once file sink (including Spark's own) implements, demonstrated from
    Python. Completes the API surface next to ``q_python_datasource``
    (custom batch reader) and ``streaming_python_source`` (custom stream).

    Verified end to end: lineitem cents written through the sink, read
    back via the manifest, aggregated — the hash must equal the oracle's
    direct aggregation of the table, proving no row was lost, duplicated,
    or read from an unpublished file at any parallelism.

    Filesystem contract: the writer ``open()``s ``path`` on executors,
    which assumes a filesystem shared between driver and executors
    (true on local[*] and NFS-backed clusters; a production deployment
    would route staging through an object-store/HDFS client instead).
    Each run stages into a fresh ``run-<uuid>/`` subdirectory and the
    parent ledger dir is cleared first, so repeated runs (bench +
    oracle sweep + tests) cannot accumulate orphaned staged files."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    base_dir = _os.path.join(scratch_dir("pyds_writer", sf_dir), "ledger")
    _shutil.rmtree(base_dir, ignore_errors=True)
    out_dir = _os.path.join(base_dir, f"run-{_uuid.uuid4().hex}")
    _os.makedirs(out_dir, exist_ok=True)

    class LedgerCommit(WriterCommitMessage):
        def __init__(self, path: str, n: int):
            self.path, self.n = path, n

    class LedgerWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            # executor-side: stage to a task-unique file (never a final name)
            fname = _os.path.join(self.path, f"part-{_uuid.uuid4().hex}.jsonl")
            n = 0
            with open(fname, "w") as fh:
                for row in iterator:
                    fh.write(
                        _json.dumps({"k": row.l_orderkey, "cents": row.cents})
                        + "\n"
                    )
                    n += 1
            return LedgerCommit(fname, n)

        def commit(self, messages):
            # driver-side atomic publish: the manifest IS the commit
            manifest = {
                "files": sorted(m.path for m in messages),
                "rows": sum(m.n for m in messages),
            }
            with open(_os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
                fh.write(_json.dumps(manifest))

        def abort(self, messages):
            for m in messages:
                try:
                    _os.remove(m.path)
                except OSError:
                    pass

    class LedgerSink(DataSource):
        @classmethod
        def name(cls):
            return "ledger"

        def writer(self, schema, overwrite):
            return LedgerWriter(self.options)

    spark.dataSource.register(LedgerSink)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        cents("l_extendedprice").alias("cents"),
    )
    li.write.format("ledger").option("path", out_dir).mode("append").save()

    with open(_os.path.join(out_dir, "_MANIFEST.json")) as fh:
        manifest = _json.loads(fh.read())
    back = spark.read.schema("k bigint, cents bigint").json(manifest["files"])
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("k").alias("n_orders"),
        F.sum("cents").alias("total_cents"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


PYDS_WRITER_SQL = """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents,
       MIN(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS min_cents,
       MAX(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS max_cents
FROM lineitem
"""



QUERIES = {
    q_variant_shred: Q_VARIANT_SQL,
    q_python_datasource: Q_PYDS_SQL,
    q_python_datasource_writer: PYDS_WRITER_SQL,
    q_ingest_quarantine: Q_QUARANTINE_SQL,
    q_nested_roundtrip: Q_NESTED_SQL,
    q_dpp_prune: Q_DPP_SQL,
    q_text_lines_roundtrip: Q_TEXT_LINES_SQL,
    q_binaryfile_scan: Q_BINARYFILE_SQL,
    q_partitioned_scan: Q_PARTITIONED_SQL,
    q_schema_evolution: Q_SCHEMA_EVO_SQL,
    q_csv_roundtrip: Q_CSV_ROUNDTRIP_SQL,
    q_json_roundtrip: Q_CSV_ROUNDTRIP_SQL,
    q_jsonl_roundtrip: Q_CSV_ROUNDTRIP_SQL,
    q_orc_roundtrip: Q_ORC_ROUNDTRIP_SQL,
    q_xml_roundtrip: Q_CSV_ROUNDTRIP_SQL,
    q_bucketed_join: Q_BUCKETED_JOIN_SQL,
    q_bucketed_reuse: Q_BUCKETED_REUSE_SQL,
    q_bucketed_agg: Q_BUCKETED_AGG_SQL,
}
