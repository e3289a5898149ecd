"""Oracle smoke + invariants for the lakehouse maintenance module
(SCD Type 2 build / CDC snapshot diff / bloom-filter join pruning)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_pyspark_bigdata_spark.plans import lakehouse
from kafka_pyspark_bigdata_spark.sources.batch import load_table

from conftest import SF_SMOKE, oracle_test


test_lakehouse_oracle = oracle_test(lakehouse)


def test_scd2_intervals_tile_history(spark):
    """Per user: exactly one current row, intervals chain contiguously
    (each valid_to equals the next valid_from), and interval event
    counts sum back to the user's raw event count."""
    df = lakehouse.q_scd2_intervals(spark, SF_SMOKE).cache()
    cur = df.filter("is_current").groupBy("user_id").count()
    assert cur.filter("count != 1").count() == 0
    nxt = df.select(
        "user_id",
        "valid_to",
        F.lead("valid_from")
        .over(Window.partitionBy("user_id").orderBy("version"))
        .alias("next_from"),
    )
    assert nxt.filter("next_from IS NOT NULL AND valid_to != next_from").count() == 0
    per_user = df.groupBy("user_id").agg(F.sum("n_events").alias("n"))
    raw = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("raw_n"))
    )
    assert per_user.join(raw, "user_id").filter("n != raw_n").count() == 0
    df.unpersist()


def test_cdc_diff_classes(spark):
    """Inserts have no before-image, updates have both and differ; the
    window cutoffs make deletes impossible (monotone snapshots)."""
    df = lakehouse.q_cdc_diff(spark, SF_SMOKE).cache()
    assert df.filter("change_type = 'delete'").count() == 0
    assert df.filter("change_type = 'insert' AND n_before IS NOT NULL").count() == 0
    bad_upd = df.filter(
        "change_type = 'update' AND qty_before = qty_after AND n_before = n_after"
    )
    assert bad_upd.count() == 0
    df.unpersist()


def test_bloom_prune_superset_with_false_positives(spark):
    """The bloom candidate set contains EVERY true member's orders (no
    false negatives — the defining bloom guarantee) and, at this
    deliberately small m, at least one false positive. Runs at sf0.01:
    the sf0.001 key set is too sparse to populate 512 bits into FP
    territory."""
    sf = SF_SMOKE.replace("sf0.001", "sf0.01")
    df = lakehouse.q_bloom_prune(spark, sf).cache()
    cust = load_table(spark, sf, "customer")
    keys = cust.filter(F.col("c_acctbal") > lakehouse.BLOOM_BAL_MIN).select("c_custkey")
    true_orders = (
        load_table(spark, sf, "orders")
        .join(keys, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey")
    )
    missed = true_orders.join(df.select("o_orderkey"), "o_orderkey", "left_anti")
    assert missed.count() == 0
    assert df.filter("NOT is_member").count() > 0
    df.unpersist()


def test_constraint_audit_trips_on_real_violations(spark):
    """The audit returns one row per rule; the acctbal rule has real
    violations in the fixture, the structural rules pass clean."""
    df = lakehouse.q_constraint_audit(spark, SF_SMOKE)
    rows = {r.rule: r.n_violations for r in df.collect()}
    assert len(rows) == 6
    assert rows["nonnegative_c_acctbal"] > 0
    assert rows["unique_c_custkey"] == 0
    assert rows["fk_l_orderkey_orders"] == 0


def test_zorder_tightens_bounding_boxes(spark):
    """The z-ordered layout's average per-file bounding-box area must
    beat a one-dimensional (event_id-ordered, i.e. arrival-time) layout
    on the same tiling — the data-skipping property. Runs at sf0.01 so
    there are multiple files to compare."""
    sf = SF_SMOKE.replace("sf0.001", "sf0.01")
    z = lakehouse.q_zorder_layout(spark, sf)
    z_area = (
        z.select(
            (
                (F.col("max_x") - F.col("min_x") + 1)
                * (F.col("max_y") - F.col("min_y") + 1)
            ).alias("area")
        )
        .agg(F.avg("area"))
        .first()[0]
    )
    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    dims = ev.select(
        "event_id",
        (F.col("user_id") % 256).alias("x"),
        (F.floor(F.col("value") / 2).cast("long") % 256).alias("y"),
    )
    w = Window.orderBy("event_id")
    base = (
        dims.withColumn("file_id", ((F.row_number().over(w) - 1) / 1024).cast("long"))
        .groupBy("file_id")
        .agg(
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )
    base_area = (
        base.select(
            (
                (F.col("max_x") - F.col("min_x") + 1)
                * (F.col("max_y") - F.col("min_y") + 1)
            ).alias("area")
        )
        .agg(F.avg("area"))
        .first()[0]
    )
    assert z_area < base_area / 2


def test_ivm_matches_direct_recompute(spark):
    """The delta-rule merge equals a from-scratch recompute at D2."""
    inc = lakehouse.q_ivm_join_delta(spark, SF_SMOKE)
    cust = load_table(spark, SF_SMOKE, "customer")
    direct = (
        load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_orderdate") < lakehouse.IVM_D2)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )
    assert inc.subtract(direct).count() == 0 and direct.subtract(inc).count() == 0


def test_ivm_retract_is_not_vacuous_and_deletes_apply(spark):
    """The retraction path must actually fire: the fixture's CDC batch
    contains BOTH deletes (purged snapshot orders) and inserts, and the
    applied view differs from base+inserts-only — i.e. the test would
    catch an implementation that ignores the sign column."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    n_del = li.filter(
        (F.col("l_shipdate") < F.lit(lakehouse.RETRACT_D1))
        & (F.col("l_orderkey") % lakehouse.RETRACT_PURGE_MOD == 0)
    ).count()
    assert n_del > 0
    applied = {
        r.l_returnflag: r.n_rows
        for r in lakehouse.q_ivm_agg_retract(spark, SF_SMOKE).collect()
    }
    no_retract = (
        li.filter(
            (F.col("l_shipdate") < F.lit(lakehouse.RETRACT_D2))
        )
        .groupBy("l_returnflag")
        .count()
    )
    insert_only = {r.l_returnflag: r["count"] for r in no_retract.collect()}
    assert sum(insert_only.values()) - sum(applied.values()) == n_del


def test_salted_join_matches_plain(spark):
    """Salting redistributes the shuffle but never changes the result."""
    sj = lakehouse.q_salted_join_agg(spark, SF_SMOKE)
    cust = load_table(spark, SF_SMOKE, "customer")
    plain = (
        load_table(spark, SF_SMOKE, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )
    assert sj.subtract(plain).count() == 0 and plain.subtract(sj).count() == 0


def test_partial_agg_merge_states_match(spark):
    """Merged shard states must equal the direct aggregation bit-exactly —
    the mergeability invariant the incremental rollup path relies on."""
    from kafka_pyspark_bigdata_spark.plans import lakehouse

    rows = lakehouse.q_partial_agg_merge(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r.all_match for r in rows)
    assert all(r.n_shards <= 4 for r in rows)


def test_encoding_stats_verdicts(spark):
    """The sorted-by-shipdate layout must make l_shipdate RLE-friendly
    (long runs) and the low-cardinality flags DICT; totals are exact."""
    rows = {r.col_name: r for r in lakehouse.q_encoding_stats(spark, SF_SMOKE).collect()}
    n = load_table(spark, SF_SMOKE, "lineitem").count()
    assert set(rows) == {"l_returnflag", "l_linestatus", "l_shipdate", "l_quantity"}
    assert all(r.n == n for r in rows.values())
    # the sort column has exactly one run per distinct value, and the
    # longest average runs of any audited column — at any sf
    assert rows["l_shipdate"].n_runs == rows["l_shipdate"].n_distinct
    assert rows["l_shipdate"].avg_run_x100 == max(
        r.avg_run_x100 for r in rows.values()
    )
    assert rows["l_returnflag"].n_distinct <= 3
    assert all(1 <= r.n_runs <= n for r in rows.values())


def test_zorder_beats_linear_on_off_sort_dim(spark):
    """Morton layout must skip on BOTH dims; linear skips only on its
    sort key and degrades on the other dimension."""
    rows = {
        (r.layout, r.probe_dim): r
        for r in lakehouse.q_zorder_skipping(spark, SF_SMOKE).collect()
    }
    assert len(rows) == 4
    lin_pk = rows[("linear", "partkey")]
    lin_sk = rows[("linear", "suppkey")]
    z_pk = rows[("zorder", "partkey")]
    z_sk = rows[("zorder", "suppkey")]
    # linear: near-perfect on the sort dim, poor on the off dim
    assert lin_pk.files_scanned < lin_sk.files_scanned
    # zorder: balanced — strictly better than linear's off-dim scan
    assert z_sk.files_scanned < lin_sk.files_scanned
    assert max(z_pk.files_scanned, z_sk.files_scanned) <= lin_sk.files_scanned


def test_table_checksum_is_order_independent(spark):
    """The fingerprint must be invariant under repartitioning — the
    property that makes it a replica-comparison primitive."""
    from kafka_pyspark_bigdata_spark.plans import lakehouse

    a = {r.table_name: r.checksum for r in lakehouse.q_table_checksum(spark, SF_SMOKE).collect()}
    # a second run re-reads and re-sums under whatever partitioning AQE picks
    b = {r.table_name: r.checksum for r in lakehouse.q_table_checksum(spark, SF_SMOKE).collect()}
    assert a == b and len(a) == 3


def test_hilbert_layout_comparable_to_morton(spark):
    """Both space-filling curves must beat the linear layout's off-dim
    scan; on this grid they tie — the advisor's honest readout."""
    rows = {
        (r.layout, r.probe_dim): r.files_scanned
        for r in lakehouse.q_hilbert_skipping(spark, SF_SMOKE).collect()
    }
    assert len(rows) == 6
    assert rows[("hilbert", "suppkey")] <= rows[("linear", "suppkey")]
    assert rows[("zorder", "suppkey")] <= rows[("linear", "suppkey")]


def test_retention_sweep_counts_and_policy_join(spark):
    """Retention sweep: one row per policied event type, kept+expired
    consistent, reclaim share exact, and a 3650-day TTL expires nothing
    in the 2024 fixture."""
    from kafka_pyspark_bigdata_spark.plans.lakehouse import (
        RETENTION_POLICY,
        q_retention_sweep,
    )

    sf = "/root/testdata/sf0.001"
    rows = {r.event_type: r for r in q_retention_sweep(spark, sf).collect()}
    assert set(rows) <= {t for t, _ in RETENTION_POLICY}
    for r in rows.values():
        assert 0 <= r.n_expired <= r.n_rows
        assert r.reclaim_ppm == r.n_expired * 1_000_000 // r.n_rows
    if "purchase" in rows:
        assert rows["purchase"].n_expired == 0  # 10-year TTL


def test_join_skew_audit_flags_and_shares(spark):
    """Skew audit: rows ordered by count desc, shares and vs-mean ratios
    exact against a recompute, and needs_salt consistent with the 4x
    threshold."""
    from kafka_pyspark_bigdata_spark.plans.lakehouse import (
        SKEW_SALT_RATIO_X100,
        q_join_skew_audit,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = q_join_skew_audit(spark, sf).collect()
    assert rows
    counts = [r.n_rows for r in rows]
    assert counts == sorted(counts, reverse=True)
    ev = load_table(spark, sf, "events")
    n_total = ev.count()
    n_keys = ev.select("user_id").distinct().count()
    for r in rows:
        assert r.share_ppm == r.n_rows * 1_000_000 // n_total
        assert r.vs_mean_x100 == r.n_rows * n_keys * 100 // n_total
        assert r.needs_salt == (r.vs_mean_x100 >= SKEW_SALT_RATIO_X100)


def test_compaction_plan_packs_to_target(spark):
    """Bin-packing invariants: within each source every group except the
    highest-numbered one reaches the target size, file counts and bytes
    are conserved against the raw ledger, and group ids are dense from 0."""
    rows = lakehouse.q_compaction_plan(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    totals = {
        r["source"]: (r["nf"], r["bytes"])
        for r in docs.groupBy("source")
        .agg(
            F.countDistinct(
                (F.col("doc_id") / lakehouse.COMPACT_PLAN_DOCS_PER_FILE).cast("long")
            ).alias("nf"),
            F.sum("n_chars").alias("bytes"),
        )
        .collect()
    }
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert set(by_source) == set(totals)
    for src, grp in by_source.items():
        grp.sort(key=lambda r: r.group_id)
        assert [g.group_id for g in grp] == sorted({g.group_id for g in grp})
        assert grp[0].group_id == 0
        assert sum(g.n_files for g in grp) == totals[src][0]
        assert sum(g.group_bytes for g in grp) == totals[src][1]
        for g in grp[:-1]:
            assert g.reaches_target
            assert g.group_bytes >= lakehouse.COMPACT_PLAN_TARGET_BYTES


def test_bitemporal_asof_matches_bruteforce(spark):
    """Each probe's answer equals the brute-force argmax over versions
    satisfying BOTH time predicates (valid <= probe, tx <= K0)."""
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us"), "event_type",
        F.expr("CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)").alias("cents"),
    ).collect()
    k0 = max(r.t_us for r in ev) - lakehouse.BTEMP_SNAPSHOT_LAG_US
    vers = {}
    for r in ev:
        if r.event_type != "purchase":
            continue
        tx = r.t_us + ((r.event_id % lakehouse.BTEMP_DELAY_MOD) + 1) * 60_000_000
        if tx <= k0:
            vers.setdefault(r.user_id, []).append((r.t_us, r.event_id, r.cents))
    expected = {}
    for r in ev:
        if r.event_type != "click":
            continue
        cands = [v for v in vers.get(r.user_id, []) if v[0] <= r.t_us]
        if cands:
            t, _, cents = max(cands)
            expected[r.event_id] = (cents, r.t_us - t)
        else:
            expected[r.event_id] = (None, None)
    got = {
        r.probe_id: (r.asof_cents, r.staleness_us)
        for r in lakehouse.q_bitemporal_asof(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_delta_log_replay_invariants(spark):
    """Live counts never negative, version-7 live set equals adds-minus-
    removes computed independently, snapshot flag marks exactly V=4."""
    rows = lakehouse.q_delta_log_replay(spark, SF_SMOKE).collect()
    assert all(r.live_files >= 0 and r.live_bytes >= 0 for r in rows)
    assert {r.version for r in rows if r.is_snapshot} <= {lakehouse.LOG_SNAPSHOT_V}
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    ledger = {}
    for d in docs:
        fid = d.doc_id // lakehouse.COMPACT_PLAN_DOCS_PER_FILE
        ledger[(d.source, fid)] = ledger.get((d.source, fid), 0) + d.n_chars
    final = {}
    for (src, fid), b in ledger.items():
        add_v = fid % lakehouse.LOG_VERSIONS
        rm_v = add_v + 1 + fid % 3
        if rm_v >= lakehouse.LOG_VERSIONS:  # still live at the log tip
            n, tot = final.get(src, (0, 0))
            final[src] = (n + 1, tot + b)
    tip = {
        r.source: (r.live_files, r.live_bytes)
        for r in rows
        if r.version == max(x.version for x in rows if x.source == r.source)
    }
    assert tip == final


def test_deletion_vectors_mask_equals_predicate_rewrite(spark):
    """Merge-on-read must equal copy-on-write: the DV-masked totals match
    a direct predicate filter of the base table, and live+deleted tiles
    every status group."""
    df = lakehouse.q_deletion_vectors(spark, SF_SMOKE)
    orders = load_table(spark, SF_SMOKE, "orders")
    mod, n_files = lakehouse.DV_DELETE_MOD, lakehouse.DV_N_FILES
    expect = {
        r.o_orderstatus: (r.n_total, r.n_live)
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                (F.col("o_orderkey") % mod != 3).cast("bigint")
            ).alias("n_live"),
        )
        .collect()
    }
    for r in df.collect():
        assert r.n_total == r.n_live + r.n_deleted
        assert expect[r.o_orderstatus] == (r.n_total, r.n_live)
    # the vector table really is per-file metadata: <= DV_N_FILES rows
    base = orders.select(
        "o_orderkey", (F.col("o_orderkey") % n_files).alias("file_id")
    )
    assert base.select("file_id").distinct().count() <= n_files


def test_partition_evolution_pruning_is_lossless_and_finer_spec_tighter(spark):
    """Manifest pruning under each file's own spec must never lose a
    predicate-matching row (n_matched_missed == 0), can only scan a
    subset of files/rows, and the month-grained spec must over-scan at
    most as badly as the year-grained spec (cross-multiplied to stay in
    integers)."""
    rows = {
        r.spec_id: r
        for r in lakehouse.q_partition_evolution(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {0, 1}
    for r in rows.values():
        assert r.n_matched_missed == 0
        assert r.n_files_scanned <= r.n_files
        assert r.n_matched <= r.rows_scanned <= r.rows_total
        assert r.matched_cents > 0
    s0, s1 = rows[0], rows[1]
    # finer partitioning: scanned/matched ratio no worse than coarse spec
    assert s1.rows_scanned * s0.n_matched <= s0.rows_scanned * s1.n_matched


def test_zorder_clustering_dominates_natural(spark):
    """Layout-audit invariants: matched-row truth is layout-independent;
    pruning is lossless (every layout reads at least the matched rows);
    and the z-order layout never reads more files than natural order on
    the box queries it exists to serve."""
    rows = lakehouse.q_zorder_clustering(spark, SF_SMOKE).collect()
    by = {(r.layout, r.query_id): r for r in rows}
    qids = {r.query_id for r in rows}
    assert {r.layout for r in rows} == {"zorder", "natural"}
    for q in qids:
        z, n = by[("zorder", q)], by[("natural", q)]
        assert z.rows_matched == n.rows_matched
        assert z.rows_read >= z.rows_matched
        assert n.rows_read >= n.rows_matched
        assert z.n_files_read <= n.n_files_read
        assert z.read_amp_ppm <= n.read_amp_ppm
        assert z.n_files == n.n_files == lakehouse.ZORD_NFILES
    assert any(
        by[("zorder", q)].rows_read < by[("natural", q)].rows_read
        for q in qids
    )


def test_vacuum_eligibility_accounting_closes(spark):
    """File classes tile: live + tombstoned = total, eligible +
    retained-dead = tombstoned (by bytes too), and eligibility agrees
    with a Python replay of the retention rule."""
    from kafka_pyspark_bigdata_spark.plans import lakehouse as lh

    import duckdb as _dd

    rows = lh.q_vacuum_eligibility(spark, "/root/testdata/sf0.001").collect()
    assert rows
    horizon = lh.LOG_VERSIONS - 1 - lh.VACUUM_RETAIN
    files = _dd.sql(
        "SELECT source, CAST(doc_id // {per} AS BIGINT) AS fid,"
        " CAST(SUM(n_chars) AS BIGINT) AS bytes"
        " FROM read_parquet('/root/testdata/sf0.001/documents.parquet')"
        " GROUP BY 1, 2".format(per=lh.COMPACT_PLAN_DOCS_PER_FILE)
    ).fetchall()
    expect: dict[str, list[int]] = {}
    for src, fid, bts in files:
        add_v = fid % lh.LOG_VERSIONS
        rm_v = add_v + 1 + fid % 3
        tomb = rm_v < lh.LOG_VERSIONS
        a = expect.setdefault(src, [0] * 7)
        a[0] += 1
        if not tomb:
            a[1] += 1
            a[2] += bts
        else:
            a[3] += 1
            if rm_v <= horizon:
                a[4] += 1
                a[5] += bts
            else:
                a[6] += bts
    for r in rows:
        e = expect[r.source]
        assert (
            r.n_files,
            r.n_live,
            r.live_bytes,
            r.n_tombstoned,
            r.n_vacuum_eligible,
            r.reclaim_bytes,
            r.retained_dead_bytes,
        ) == tuple(e)
        assert r.n_live + r.n_tombstoned == r.n_files


def test_hilbert_advisor_zorder_and_linear_rows_equal_zorder_advisor(spark):
    """Both skipping advisors share one implementation: the hilbert advisor's
    zorder and linear rows are the zorder advisor's four rows."""
    z = lakehouse.q_zorder_skipping(spark, SF_SMOKE).collect()
    h = lakehouse.q_hilbert_skipping(spark, SF_SMOKE).filter("layout != 'hilbert'")
    assert len(z) == 4
    assert sorted(map(tuple, h.collect())) == sorted(map(tuple, z))


def test_encoding_stats_forms_agree_on_counts(spark):
    """The global and sharded encoding readouts differ only in run counts
    (a run boundary at each shard edge): every audited column has the
    same row count and distinct count in both."""

    def counts(q):
        df = q(spark, SF_SMOKE).select("col_name", "n", "n_distinct")
        return sorted(map(tuple, df.collect()))

    glob = counts(lakehouse.q_encoding_stats)
    assert len(glob) == 4
    assert glob == counts(lakehouse.q_encoding_stats_sharded)
