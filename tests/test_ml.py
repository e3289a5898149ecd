"""Reference-parity tests for the ML pipeline semantics (trainer + the
three endpoint queries) on synthetic bike-shaped data (FIXTURES.md §2)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from kafka_pyspark_bigdata_spark.ml import queries, serving, trainer

from conftest import oracle_test

test_ml_oracle = oracle_test(queries)


@pytest.fixture(scope="module")
def bike_df(spark):
    rs = np.random.RandomState(42)
    n = 300
    data = {c: rs.uniform(0, 10, n) for c in trainer.BIKE_FEATURES}
    data["Duration"] = (
        5.0 * data["Distance"] + 2.0 * data["Haversine"] + rs.normal(0, 1, n)
    )
    pdf = pd.DataFrame(data)
    # poke holes: null labels are dropped, null features mean-imputed
    pdf.loc[:4, "Duration"] = None
    pdf.loc[5:9, "Temp"] = None
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def model(bike_df):
    return trainer.train(
        bike_df, trainer.BIKE_FEATURES, trainer.BIKE_LABEL, num_trees=5, max_depth=4
    )


def test_cast_prune_drops_null_labels(bike_df):
    out = trainer.cast_prune(bike_df, trainer.BIKE_FEATURES, trainer.BIKE_LABEL)
    assert out.count() == 295
    assert out.columns == [*trainer.BIKE_FEATURES, trainer.BIKE_LABEL]


def test_predict_one_defaults_missing(spark, model):
    payload = {"Distance": 3.5, "Haversine": 3.2, "Temp": 20.0}
    pred, missing = serving.predict_one(
        spark, model, payload, trainer.BIKE_FEATURES
    )
    assert isinstance(pred, float)
    assert set(missing) == set(trainer.BIKE_FEATURES) - set(payload)


def test_predict_one_rejects_non_numeric(spark, model):
    with pytest.raises(ValueError, match="non-numeric"):
        serving.predict_one(
            spark, model, {"Distance": "far"}, trainer.BIKE_FEATURES
        )


def test_sensitivity_association_is_columnar(spark, model):
    values = [1.0, 5.0, 10.0, 20.0]
    out = serving.sensitivity_sweep(
        spark, model, {"Distance": 3.0}, trainer.BIKE_FEATURES, "Temp", values
    ).collect()
    assert [r.varied_value for r in out] == values
    assert all(r.varied_feature == "Temp" for r in out)


def test_optimal_time_screens_and_sorts(spark, model):
    out = serving.optimal_time(
        spark,
        model,
        {"Distance": 3.0},
        trainer.BIKE_FEATURES,
        hours=[0, 6, 12, 18, 25, -3],  # 25/-3 invalid → screened
        minute_of_hour=30,
        target_min=0.0,
        target_max=1e9,
        hour_col="Phour",
        minute_col="Pmin",
    ).collect()
    assert {r.hour for r in out} <= {0, 6, 12, 18}
    preds = [r.predicted for r in out]
    assert preds == sorted(preds)


def test_optimal_time_empty_grid_gives_no_rows(spark, model):
    """No valid hour → no rows, not a void-typed hour column that the
    assembler rejects."""
    for hours in ([25, -3], ["noon", True]):
        out = serving.optimal_time(
            spark, model, {"Distance": 3.0}, trainer.BIKE_FEATURES, hours, 30, 0.0, 1e9
        ).collect()
        assert out == []


def test_train_incremental_cumulative_union(spark, tmp_path):
    rs = np.random.RandomState(7)
    paths = []
    for i in range(3):
        pdf = pd.DataFrame(
            {
                **{c: rs.uniform(0, 10, 50) for c in trainer.BIKE_FEATURES},
                "Duration": rs.uniform(0, 100, 50),
            }
        )
        p = str(tmp_path / f"batch_{i}.csv")
        pdf.to_csv(p, index=False)
        paths.append(p)
    schema = serving.serving_schema([*trainer.BIKE_FEATURES, trainer.BIKE_LABEL])
    models = trainer.train_incremental(
        spark,
        paths,
        trainer.BIKE_FEATURES,
        trainer.BIKE_LABEL,
        schema,
        num_trees=3,
        max_depth=3,
    )
    assert set(models) == {1, 2, 3}
    imp = trainer.feature_importances(spark, models[3], trainer.BIKE_FEATURES)
    rows = imp.collect()
    assert len(rows) == len(trainer.BIKE_FEATURES)
    vals = [r.importance for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_coerce_features_accepts_numeric_strings():
    """api.py:61-65 coerces with float(val), which parses numeric strings."""
    values, missing = serving.coerce_features(
        {"Distance": "12.5", "Temp": 3}, ["Distance", "Temp", "Wind"]
    )
    assert values == [12.5, 3.0, 0.0]
    assert missing == ["Wind"]
    with pytest.raises(ValueError, match="non-numeric"):
        serving.coerce_features({"Distance": "far"}, ["Distance"])


def test_model_save_load_roundtrip(spark, model, tmp_path):
    """O18: persisted model reloads and reproduces predictions exactly
    (spark_trainer.py:82-84 → api.py:24-37 handoff)."""
    import json
    import os

    base = str(tmp_path)
    path = trainer.save_model(model, base, 2, trainer.BIKE_FEATURES)
    assert os.path.isdir(path) and path.endswith("model_2_rf")
    imp_file = path + "_feature_importances.json"
    with open(imp_file) as f:
        imp = json.load(f)
    assert set(imp) == set(trainer.BIKE_FEATURES)
    assert list(imp.values()) == sorted(imp.values(), reverse=True)

    loaded = trainer.load_model(base, 2)
    payload = {c: float(i + 1) for i, c in enumerate(trainer.BIKE_FEATURES)}
    p_mem, _ = serving.predict_one(spark, model, payload, trainer.BIKE_FEATURES)
    p_disk, _ = serving.predict_one(spark, loaded, payload, trainer.BIKE_FEATURES)
    assert p_mem == p_disk
    # missing version → None (api.py:35-37), never an exception
    assert trainer.load_model(base, 99) is None
    assert trainer.load_models(base, [2, 99])["99"] is None


def test_grid_search_ranks_by_rmse(spark):
    from kafka_pyspark_bigdata_spark.ml.queries import ml_grid_search

    from kafka_pyspark_bigdata_spark.ml.queries import GRID_MAX_DEPTH, GRID_NUM_TREES

    rows = ml_grid_search(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == len(GRID_NUM_TREES) * len(GRID_MAX_DEPTH)
    rmses = [r.rmse for r in sorted(rows, key=lambda r: r.rank)]
    assert rmses == sorted(rmses)
    assert all(r.n_eval > 0 for r in rows)


def test_lift_deciles_structure_and_pred_monotone(spark):
    """10 deciles covering the whole eval slice; mean prediction must be
    non-increasing across deciles (they are ranked by prediction)."""
    from kafka_pyspark_bigdata_spark.ml.queries import LIFT_DECILES, ml_lift_deciles

    rows = ml_lift_deciles(spark, "/root/testdata/sf0.001").collect()
    assert [r.decile for r in rows] == list(range(1, LIFT_DECILES + 1))
    preds = [r.avg_pred for r in rows]
    assert all(a >= b for a, b in zip(preds, preds[1:]))
    assert all(r.n > 0 for r in rows)


def test_lift_deciles_bit_identical_to_ntile_window(spark):
    """The two-phase ranged rank (ml/queries.py: repartitionByRange +
    per-partition row_number + prefix-sum offset + NTILE remainder
    arithmetic) claims bit-identity to the single-partition
    `F.ntile(10)` global-window form. Prove it: build the SAME scored
    frame, bucket it both ways, and compare the 10-row tables exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kafka_pyspark_bigdata_spark.ml import trainer
    from kafka_pyspark_bigdata_spark.ml.queries import (
        LIFT_DECILES,
        LINEITEM_FEATURES,
        LINEITEM_LABEL,
        ml_lift_deciles,
    )
    from kafka_pyspark_bigdata_spark.operators.pipeline import (
        TRAIN_BUCKETS,
        hash_bucket_expr,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf_dir = "/root/testdata/sf0.001"
    df = load_table(spark, sf_dir, "lineitem").withColumn(
        "bucket", hash_bucket_expr("l_orderkey")
    )
    model = trainer.train(
        df.filter(F.col("bucket") < TRAIN_BUCKETS), LINEITEM_FEATURES, LINEITEM_LABEL
    )
    prepared = trainer.cast_prune(
        df.filter(F.col("bucket") >= TRAIN_BUCKETS).withColumn(
            "tie", F.expr("l_orderkey * 10 + l_linenumber")
        ),
        LINEITEM_FEATURES,
        LINEITEM_LABEL,
        keep=["tie"],
    )
    scored = model.transform(prepared).select("prediction", "tie", LINEITEM_LABEL)
    w = Window.orderBy(F.desc("prediction"), F.asc("tie"))
    with_ntile = scored.withColumn("decile", F.ntile(LIFT_DECILES).over(w))
    ntile_rows = (
        with_ntile.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("prediction").alias("avg_pred"),
            F.avg(LINEITEM_LABEL).alias("avg_actual"),
        )
        .orderBy("decile")
        .collect()
    )
    two_phase_rows = ml_lift_deciles(spark, sf_dir).collect()
    assert len(two_phase_rows) == len(ntile_rows) == LIFT_DECILES
    for a, b in zip(two_phase_rows, ntile_rows):
        # decile MEMBERSHIP is the bit-identity claim: same decile ids,
        # same row counts. The per-decile float averages sum the same
        # values but in a different partial-agg order (range partitions
        # vs one sorted partition), so they are compared to 1 ulp-scale
        # tolerance rather than ==.
        assert (a.decile, a.n) == (b.decile, b.n)
        assert abs(a.avg_pred - b.avg_pred) <= 1e-12 * max(1.0, abs(b.avg_pred))
        assert abs(a.avg_actual - b.avg_actual) <= 1e-12 * max(
            1.0, abs(b.avg_actual)
        )
    # Assignment-level bit-identity. The synthetic lineitem has duplicate
    # (l_orderkey, l_linenumber) keys, so (prediction, tie) is NOT a unique
    # sort key — but an equal-key group occupies a contiguous rank interval
    # under ANY total-order extension, so the multiset of deciles each
    # distinct key receives is deterministic and must match exactly.
    from kafka_pyspark_bigdata_spark.ml.queries import two_phase_ntile

    def key_deciles(df):
        return {
            (r.prediction, r.tie, r.decile): r.c
            for r in df.groupBy("prediction", "tie", "decile")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }

    assert key_deciles(two_phase_ntile(scored, LIFT_DECILES)) == key_deciles(
        with_ntile
    )


@pytest.mark.parametrize(
    "n,d",
    [
        (0, 10),   # empty input -> empty output
        (1, 10),   # n < d: each row its own bucket
        (3, 10),
        (25, 10),  # remainder rule: first 5 buckets get 3 rows, rest 2
        (40, 10),  # exact multiple
        (7, 3),
    ],
)
def test_two_phase_ntile_matches_window_ntile_edge_cases(spark, n, d):
    """two_phase_ntile vs F.ntile on crafted frames: n < d, n % d != 0,
    duplicate sort keys, and empty input. Per distinct (prediction, tie)
    key the decile multiset must match exactly (ties occupy a contiguous
    rank interval under any order extension, so the multiset is
    deterministic even where individual row assignment is not)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kafka_pyspark_bigdata_spark.ml.queries import two_phase_ntile

    rows = [
        # every third key duplicated; a run of fully-tied rows at the top
        (float(10 - (i // 3)), int(i // 2), float(i))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "prediction double, tie long, label double"
    ) if rows else spark.createDataFrame([], "prediction double, tie long, label double")

    def key_deciles(frame):
        return {
            (r.prediction, r.tie, r.decile): r.c
            for r in frame.groupBy("prediction", "tie", "decile")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }

    w = Window.orderBy(F.desc("prediction"), F.asc("tie"))
    expected = key_deciles(df.withColumn("decile", F.ntile(d).over(w)))
    got = key_deciles(two_phase_ntile(df, d))
    assert got == expected


def test_classifier_auc_bounds_and_counts(spark):
    """RF-classifier AUC eval: counts partition the eval split, AUC is a
    proper probability in [0, 1], and a trained classifier beats random
    on its own fixture (sanity, not a quality bar)."""
    from kafka_pyspark_bigdata_spark.ml.queries import ml_classifier_auc

    r = ml_classifier_auc(spark, "/root/testdata/sf0.001").first()
    assert r.n_eval == r.n_pos + r.n_neg
    assert r.n_pos > 0 and r.n_neg > 0 and r.n_train > 0
    assert 0.0 <= r.auc <= 1.0


def test_classifier_auc_deterministic(spark):
    """seed=42 + deterministic split ⇒ the AUC is bit-stable across runs
    in one session (the rows-only driver check depends on this)."""
    from kafka_pyspark_bigdata_spark.ml.queries import ml_classifier_auc

    a = ml_classifier_auc(spark, "/root/testdata/sf0.001").first()
    b = ml_classifier_auc(spark, "/root/testdata/sf0.001").first()
    assert a.auc == b.auc and a.n_eval == b.n_eval


def test_quality_classifier_beats_chance(spark):
    """The learned quality scorer must clearly beat chance at
    reproducing the heuristic gate (the point of model-based filtering),
    with a sane confusion of counts."""
    from kafka_pyspark_bigdata_spark.ml.queries import ml_quality_classifier

    r = ml_quality_classifier(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n_eval == r.n_pos + r.n_neg > 0
    assert 0.6 < r.auc <= 1.0


def test_target_encoding_oracle_and_leakage(spark):
    """Out-of-fold encoding (value-exact vs the SQL oracle in
    test_ml_oracle): no (category, fold) cell's encoding uses its own
    fold (verified by recomputing the leave-fold-out mean directly)."""
    from conftest import SF_SMOKE
    from kafka_pyspark_bigdata_spark.ml.queries import TE_FOLDS, ml_target_encoding
    from kafka_pyspark_bigdata_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    rows = ml_target_encoding(spark, SF_SMOKE).collect()
    o = (
        load_table(spark, SF_SMOKE, "orders")
        .select(
            F.col("o_orderpriority").alias("category"),
            F.expr("CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)").alias("cents"),
            F.expr(f"o_orderkey % {TE_FOLDS}").alias("fold"),
        )
        .collect()
    )
    for r in rows[:5]:
        others = [x.cents for x in o if x.category == r.category and x.fold != r.fold]
        assert r.oof_mean_cents == sum(others) // len(others)


def test_permutation_importance_shape(spark):
    """One model, F+1 scorings: per-feature rows share the same baseline
    and permuting a feature the model ignores moves RMSE only slightly."""
    from kafka_pyspark_bigdata_spark.ml.queries import (
        LINEITEM_FEATURES,
        ml_permutation_importance,
    )

    rows = ml_permutation_importance(spark, "/root/testdata/sf0.001").collect()
    assert {r.feature for r in rows} == set(LINEITEM_FEATURES)
    bases = {r.rmse_base for r in rows}
    assert len(bases) == 1 and min(bases) > 0
    assert all(r.rmse_permuted > 0 for r in rows)
    assert rows == sorted(rows, key=lambda r: -r.delta)


def test_calibration_bins_tile_and_ece_recomputes(spark):
    """Bin rows: counts positive, rates in [0, 1e6] ppm, mean predicted
    prob inside the bin's edges (equal-width bins over quantized ppm).
    The summary row's ECE must equal the count-weighted mean absolute
    gap recomputed from the bin rows, and counts must sum to n_eval."""
    from kafka_pyspark_bigdata_spark.ml.queries import CALIB_BINS, ml_calibration_bins

    rows = ml_calibration_bins(spark, "/root/testdata/sf0.001").collect()
    bins = [r for r in rows if r.bin >= 0]
    summary = [r for r in rows if r.bin == -1]
    assert len(summary) == 1
    n_eval = sum(r.n for r in bins)
    assert summary[0].n == n_eval and n_eval > 0
    for r in bins:
        assert 0 <= r.obs_rate_ppm <= 1_000_000
        lo = r.bin * 1_000_000 // CALIB_BINS
        hi = (r.bin + 1) * 1_000_000 // CALIB_BINS
        ceil_ppm = 1_000_000 if r.bin == CALIB_BINS - 1 else hi
        assert lo <= r.mean_pred_ppm <= ceil_ppm
        assert r.gap_ppm == abs(r.mean_pred_ppm - r.obs_rate_ppm)
    ece = sum(r.n * r.gap_ppm for r in bins) // n_eval
    assert summary[0].gap_ppm == ece


def test_isotonic_calibration_monotone_and_pool_exact(spark):
    """PAV invariants: calibrated rates are non-decreasing in bin order;
    within a pool every bin carries the pool's weighted mean (one
    truncating division of exact integer sums); pools partition the
    bins contiguously; and bins/counts match ml_calibration_bins."""
    from kafka_pyspark_bigdata_spark.ml.queries import (
        ml_calibration_bins,
        ml_isotonic_calibration,
    )

    sf = "/root/testdata/sf0.001"
    rows = ml_isotonic_calibration(spark, sf).collect()
    assert rows == sorted(rows, key=lambda r: r.bin)
    cals = [r.calibrated_ppm for r in rows]
    assert cals == sorted(cals)
    pools = [r.pool_id for r in rows]
    assert pools == sorted(pools)
    import collections

    by_pool = collections.defaultdict(list)
    for r in rows:
        by_pool[r.pool_id].append(r)
    for members in by_pool.values():
        num = sum(r.n * r.obs_rate_ppm for r in members)
        den = sum(r.n for r in members)
        assert all(r.calibrated_ppm == num // den for r in members)
    base = {
        r.bin: (r.n, r.mean_pred_ppm, r.obs_rate_ppm)
        for r in ml_calibration_bins(spark, sf).collect()
        if r.bin >= 0
    }
    assert {r.bin: (r.n, r.mean_pred_ppm, r.obs_rate_ppm) for r in rows} == base


def test_keep_best_quality_argmax_and_ledger(spark):
    """Every cluster keeps its longest member (ties to smaller doc_id),
    the ledger balances (total = kept + dropped), and cluster ids /
    member counts agree with dedup_clusters."""
    import collections

    from kafka_pyspark_bigdata_spark.operators.dedup import (
        dedup_clusters,
        dedup_keep_best_quality,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    chars = {
        r.doc_id: r.n_chars
        for r in load_table(spark, sf, "documents").select("doc_id", "n_chars").collect()
    }
    members = collections.defaultdict(list)
    for r in dedup_clusters(spark, sf).collect():
        members[r.cluster_id].append(r.doc_id)
    rows = dedup_keep_best_quality(spark, sf).collect()
    assert {r.cluster_id for r in rows} == set(members)
    for r in rows:
        docs = members[r.cluster_id]
        assert r.n_members == len(docs)
        best = min(docs, key=lambda d: (-chars[d], d))
        assert r.kept_doc_id == best and r.kept_chars == chars[best]
        assert r.total_chars == sum(chars[d] for d in docs)
        assert r.dropped_chars == r.total_chars - r.kept_chars


def _parity_payloads(n: int = 200) -> list[dict]:
    """Seeded request bodies: present floats, ints and numeric strings,
    missing features, NaN, a value float32 cannot hold (0.1) and one it
    overflows on (1e39 → inf)."""
    rs = np.random.RandomState(11)
    specials = [float("nan"), 0.1, 1e39, -1e39, "nan", "2.5", 7]
    payloads = []
    for _ in range(n):
        body = {}
        for c in trainer.BIKE_FEATURES:
            r = rs.rand()
            if r < 0.15:
                continue
            if r < 0.35:
                body[c] = specials[rs.randint(len(specials))]
            elif r < 0.45:
                body[c] = repr(rs.uniform(-5, 15))
            else:
                body[c] = rs.uniform(-5, 15)
        payloads.append(body)
    return payloads


@pytest.fixture(scope="module", params=["memory", "save_load"])
def served_model(request, model, tmp_path_factory):
    if request.param == "memory":
        return model
    base = str(tmp_path_factory.mktemp("served"))
    trainer.save_model(model, base, 1)
    return trainer.load_model(base, 1)


def test_scorer_matches_transform_bit_for_bit(spark, served_model):
    """The driver-local Scorer reproduces ``transform``: the assembled
    vector element by element (this is what catches an unrounded double
    surrogate) and the prediction bit for bit, on the in-memory model and
    on a save/load round trip."""
    from pyspark.sql.types import IntegerType, StructField

    scorer = serving.Scorer(served_model)
    assert scorer.features == trainer.BIKE_FEATURES
    payloads = _parity_payloads()
    rows = [
        (i, *serving.coerce_features(p, trainer.BIKE_FEATURES)[0])
        for i, p in enumerate(payloads)
    ]
    schema = serving.serving_schema(trainer.BIKE_FEATURES)
    schema.fields.insert(0, StructField("pid", IntegerType(), False))
    out = (
        served_model.transform(spark.createDataFrame(rows, schema))
        .orderBy("pid")
        .select("features", "prediction")
        .collect()
    )
    assert len(out) == len(payloads)
    assert sum(np.isinf(r.features.toArray()).any() for r in out) > 0
    for payload, row in zip(payloads, out):
        values, _ = serving.coerce_features(payload, trainer.BIKE_FEATURES)
        assert list(scorer.vector(values)) == list(row.features), payload
        pred, _ = scorer.predict(payload)
        assert pred.hex() == float(row.prediction).hex(), payload


def test_scorer_sweeps_match_dataframe_functions(spark, served_model):
    scorer = serving.Scorer(served_model)
    base = {"Distance": 3.0, "Haversine": "2.5", "Temp": float("nan")}
    values = [1.0, 0.1, 5.0, 1e39, -3.0, 10.0, 5.0]
    want = serving.sensitivity_sweep(
        spark, served_model, base, trainer.BIKE_FEATURES, "Distance", values
    ).collect()
    assert scorer.sensitivity(base, "Distance", values) == [r.asDict() for r in want]

    hours = [0, 6, 12, 18, 25, -3, 7, True, "noon", 23, 6]
    wide = scorer.optimal_time(base, hours, 30, 0.0, 1e9)
    assert [r["hour"] for r in wide] and {r["hour"] for r in wide} <= {0, 6, 7, 12, 18, 23}
    preds = sorted(r["predicted"] for r in wide)
    for t_min, t_max in [(0.0, 1e9), (preds[1], preds[-2]), (1e9, 2e9)]:
        want = serving.optimal_time(
            spark, served_model, base, trainer.BIKE_FEATURES, hours, 30, t_min, t_max
        ).collect()
        got = scorer.optimal_time(base, hours, 30, t_min, t_max)
        assert got == [r.asDict() for r in want]


def test_scorer_rejects_other_stage_layouts(model):
    from pyspark.ml import PipelineModel

    imputer, assembler, rf = model.stages
    for bad in [rf, PipelineModel([assembler, imputer, rf]), PipelineModel([imputer, rf])]:
        with pytest.raises(TypeError, match="Scorer needs"):
            serving.Scorer(bad)


def test_scorer_is_memoized_per_model_and_freed_with_it(model):
    import gc

    from pyspark.ml import PipelineModel

    assert serving.scorer(model) is serving.scorer(model)
    other = PipelineModel(list(model.stages))
    assert serving.scorer(other) is not serving.scorer(model)
    n = len(serving._SCORERS)
    del other
    gc.collect()
    assert len(serving._SCORERS) == n - 1


def test_lineitem_model_refits_after_in_place_table_rewrite(spark, tmp_path):
    """The fitted-model memo keys on the lineitem file stamp: rewriting the
    table in place with other rows must refit, not serve the old model."""
    import pyarrow.parquet as pq

    from conftest import SF_SMOKE
    from kafka_pyspark_bigdata_spark.ml import queries as mlq

    rows = pq.read_table(f"{SF_SMOKE}/lineitem.parquet")
    path = tmp_path / "lineitem.parquet"
    pq.write_table(rows.slice(0, 1000), path)
    first = mlq._lineitem_model(spark, str(tmp_path))
    assert mlq._lineitem_model(spark, str(tmp_path)) is first

    pq.write_table(rows.slice(1000, 2000), path)
    second = mlq._lineitem_model(spark, str(tmp_path))
    assert second is not first
    assert mlq._lineitem_model(spark, str(tmp_path)) is second
