"""Oracle-compare the source/sink contract queries at sf0.001."""

from __future__ import annotations

from kafka_pyspark_bigdata_spark.sources import queries as src

from conftest import oracle_test


test_source_oracle = oracle_test(src)


def test_binaryfile_scan_is_bounded_and_declarative(spark):
    """The scratch layout is capped at BINARYFILE_N_DOCS files and the
    scan itself plans as a FileScan (no driver-side reads)."""
    df = src.q_binaryfile_scan(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert 0 < len(rows) <= src.BINARYFILE_N_DOCS
    assert all(r.n_bytes > 0 and len(r.content_md5) == 32 for r in rows)
    assert "binaryFile" in df._jdf.queryExecution().executedPlan().toString()


def test_variant_shred_typed_extraction(spark):
    """parse_json -> try_variant_get must agree with the string-path
    get_json_object extraction row-for-row (same parse, binary encoding)."""
    from pyspark.sql import functions as F
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    both = ev.select(
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("v"),
        F.get_json_object("props", "$.k").cast("int").alias("s"),
    )
    assert both.filter(~F.col("v").eqNullSafe(F.col("s"))).count() == 0


def test_python_datasource_writer_manifest_hides_stray_files(spark):
    """The custom sink's read-back must go through the manifest ONLY: a
    stray (uncommitted) file dropped into the directory after commit
    must not change the result — the exactly-once property the staged-
    files + manifest protocol exists to provide."""
    import json
    import os

    from kafka_pyspark_bigdata_spark.sources.queries import (
        q_python_datasource_writer,
    )

    sf = "/root/testdata/sf0.001"
    first = q_python_datasource_writer(spark, sf).collect()[0]
    # same per-(tag, sf, pid) path the writer's scratch_dir call produced;
    # NOT scratch_dir() itself — calling it here would wipe the ledger
    ledger = os.path.join(
        "/tmp", "kpbd_scratch", f"pyds_writer_sf0.001_p{os.getpid()}", "ledger"
    )
    # each run stages into a fresh run-<uuid>/ dir and clears the parent
    # first, so repeated runs cannot accumulate orphaned staged files
    runs = sorted(os.listdir(ledger))
    assert len(runs) == 1 and runs[0].startswith("run-")
    out_dir = os.path.join(ledger, runs[0])
    manifest = json.load(open(os.path.join(out_dir, "_MANIFEST.json")))
    assert manifest["rows"] == first.n_rows
    assert all(os.path.exists(p) for p in manifest["files"])
    # drop a stray file a failed/speculative task might leave behind
    stray = os.path.join(out_dir, "part-stray.jsonl")
    with open(stray, "w") as fh:
        fh.write('{"k": 999999, "cents": 123456}\n')
    back = (
        spark.read.schema("k bigint, cents bigint")
        .json(manifest["files"])
        .count()
    )
    assert back == first.n_rows  # stray file invisible via the manifest


def test_load_table_sees_in_place_file_rewrite(spark, tmp_path):
    """Overwriting a file inside a table directory leaves the directory's
    mtime unchanged; the memoized scan must still pick up the new file
    (a stale file index would keep the old length and drop row groups)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    table_dir = tmp_path / "region.parquet"
    table_dir.mkdir()
    part = table_dir / "part-0.parquet"
    pq.write_table(pa.table({"k": list(range(3))}), part)
    assert load_table(spark, str(tmp_path), "region").count() == 3

    dir_st = os.stat(table_dir)
    pq.write_table(pa.table({"k": list(range(5000))}), part, row_group_size=100)
    os.utime(table_dir, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    assert os.stat(table_dir).st_mtime_ns == dir_st.st_mtime_ns

    assert spark.read.parquet(str(table_dir)).count() == 5000
    assert load_table(spark, str(tmp_path), "region").count() == 5000
