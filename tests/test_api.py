"""Flask shell parity tests (reference api.py:77-313): routes, 404/400
semantics, response shapes — all through the test client, no server."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

pytest.importorskip("flask")

from conftest import no_spark_job
from kafka_pyspark_bigdata_spark.ml import serving, trainer
from kafka_pyspark_bigdata_spark.ml.api import create_app


@pytest.fixture(scope="module")
def model(spark):
    rs = np.random.RandomState(7)
    n = 120
    data = {c: rs.uniform(0, 10, n) for c in trainer.BIKE_FEATURES}
    data["Duration"] = 4.0 * data["Distance"] + rs.normal(0, 1, n)
    df = spark.createDataFrame(pd.DataFrame(data))
    return trainer.train(
        df, trainer.BIKE_FEATURES, trainer.BIKE_LABEL, num_trees=3, max_depth=3
    )


@pytest.fixture(scope="module")
def client(spark, model):
    app = create_app(spark, {"1": model, "2": None})
    app.config["TESTING"] = True
    with app.test_client() as c:
        yield c


FULL = {c: 1.0 for c in trainer.BIKE_FEATURES}


def test_predict_ok_and_missing_defaulted(client):
    r = client.post("/predict/duration/1", json={"Distance": 3.5})
    assert r.status_code == 200
    body = r.get_json()
    assert body["model_version_used"] == "model_1"
    assert isinstance(body["predicted_duration"], float)
    assert "Distance" not in body["missing_features_defaulted"]
    assert "Temp" in body["missing_features_defaulted"]
    # full payload → no defaults (api.py:97-98 returns null, not [])
    r2 = client.post("/predict/duration/1", json=FULL)
    assert r2.get_json()["missing_features_defaulted"] is None


def test_predict_404_on_absent_or_unloaded_model(client):
    assert client.post("/predict/duration/9", json=FULL).status_code == 404
    # version present in the dict but failed to load (api.py:79-81)
    assert client.post("/predict/duration/2", json=FULL).status_code == 404


def test_predict_400_on_empty_or_non_numeric(client):
    assert client.post("/predict/duration/1", json={}).status_code == 400
    # "far" is not a number; 10**400 is an integer no double can hold
    for bad in ("far", 10**400):
        r = client.post("/predict/duration/1", json={"Distance": bad})
        assert r.status_code == 400
        assert "non-numeric" in r.get_json()["error"]
    r = client.post(
        "/analyze/sensitivity/1",
        json={
            "base_features": dict(FULL),
            "variable_feature_name": "Distance",
            "variation_values": [1.0, 10**400],
        },
    )
    assert r.status_code == 200
    rows = r.get_json()["analysis_results"]
    assert rows[0]["predicted_duration"] is not None
    assert rows[1]["predicted_duration"] is None and "error" in rows[1]


def test_sensitivity_rows_keep_input_order_and_errors(client):
    r = client.post(
        "/analyze/sensitivity/1",
        json={
            "base_features": dict(FULL),
            "variable_feature_name": "Distance",
            "variation_values": [1.0, "bogus", 5.0],
        },
    )
    assert r.status_code == 200
    rows = r.get_json()["analysis_results"]
    assert [row["value"] for row in rows] == [1.0, "bogus", 5.0]
    assert rows[0]["predicted_duration"] is not None
    assert rows[0]["base_features_snapshot"]["Distance"] == 1.0
    assert rows[1]["predicted_duration"] is None and "error" in rows[1]
    assert rows[2]["predicted_duration"] is not None


def test_sensitivity_payload_validation(client):
    base = {"base_features": FULL, "variation_values": [1.0]}
    assert client.post("/analyze/sensitivity/1", json=base).status_code == 400
    r = client.post(
        "/analyze/sensitivity/1",
        json={**base, "variable_feature_name": "NotAFeature"},
    )
    assert r.status_code == 400
    r2 = client.post(
        "/analyze/sensitivity/1",
        json={**base, "variable_feature_name": "Distance", "variation_values": "x"},
    )
    assert r2.status_code == 400


def test_optimal_time_sorted_and_screens_hours(client):
    r = client.post(
        "/suggest/optimal-time/1",
        json={
            "base_conditions": dict(FULL),
            "target_duration_max": 1e9,
            "hours_to_evaluate": [8, "noon", 99, 17, True],
            "minute_of_hour": 30,
        },
    )
    assert r.status_code == 200
    body = r.get_json()
    sugg = body["suggestions"]
    assert {s["hour_of_day"] for s in sugg} <= {8, 17}  # invalid hours skipped
    durations = [s["predicted_duration"] for s in sugg]
    assert durations == sorted(durations)  # api.py:298 ascending
    assert all(s["minute_of_hour"] == 30 and s["within_target_range"] for s in sugg)
    assert body["target_duration_min"] == 0.0  # default (api.py:241)


def test_optimal_time_empty_grid_and_400s(client):
    r = client.post(
        "/suggest/optimal-time/1",
        json={
            "base_conditions": dict(FULL),
            "target_duration_max": 100,
            "hours_to_evaluate": [99, -1],
        },
    )
    assert r.status_code == 200
    assert r.get_json()["suggestions"] == []
    # missing target_duration_max
    assert (
        client.post(
            "/suggest/optimal-time/1",
            json={"base_conditions": dict(FULL), "hours_to_evaluate": [8]},
        ).status_code
        == 400
    )
    # out-of-range minute
    assert (
        client.post(
            "/suggest/optimal-time/1",
            json={
                "base_conditions": dict(FULL),
                "target_duration_max": 100,
                "hours_to_evaluate": [8],
                "minute_of_hour": 75,
            },
        ).status_code
        == 400
    )


def test_sensitivity_handles_non_float32_representable_values(client):
    """Regression: variation values like 0.1 are stored as float32 in the
    sweep; re-association must key on the float32-rounded value or the
    endpoint 500s."""
    r = client.post(
        "/analyze/sensitivity/1",
        json={
            "base_features": dict(FULL),
            "variable_feature_name": "Distance",
            "variation_values": [0.1, 0.3, 2.7],
        },
    )
    assert r.status_code == 200
    rows = r.get_json()["analysis_results"]
    assert all(row["predicted_duration"] is not None for row in rows)


def test_optimal_time_rejects_non_scalar_targets_with_400(client):
    """Regression: TypeError from float([100]) must surface as 400, not 500;
    so must the OverflowError of float(10**400) and int(1e400), and a base
    value too large for a double."""
    r = client.post(
        "/suggest/optimal-time/1",
        json={
            "base_conditions": dict(FULL),
            "target_duration_max": [100],
            "hours_to_evaluate": [8],
        },
    )
    assert r.status_code == 400
    base = json.dumps(dict(FULL))
    for body in (
        f'{{"base_conditions": {base}, "target_duration_max": {10**400},'
        ' "hours_to_evaluate": [8]}',
        f'{{"base_conditions": {base}, "target_duration_max": 100,'
        ' "minute_of_hour": 1e400, "hours_to_evaluate": [8]}',
        f'{{"base_conditions": {{"Distance": {10**400}}}, "target_duration_max": 100,'
        ' "hours_to_evaluate": [8]}',
    ):
        r = client.post(
            "/suggest/optimal-time/1", data=body, content_type="application/json"
        )
        assert r.status_code == 400, body[:120]


def test_endpoints_run_no_spark_job(spark):
    """Scoring is driver-local: one request to each endpoint starts no job
    (the DataFrame path ran 2, 1 and 3 jobs per request)."""
    rs = np.random.RandomState(3)
    data = {c: rs.uniform(0, 10, 60) for c in trainer.BIKE_FEATURES}
    data["Duration"] = 2.0 * data["Distance"]
    fitted = trainer.train(
        spark.createDataFrame(pd.DataFrame(data)),
        trainer.BIKE_FEATURES,
        trainer.BIKE_LABEL,
        num_trees=2,
        max_depth=2,
    )
    app = create_app(spark, {"1": fitted})  # builds the scorer: jobs allowed
    with no_spark_job(spark, "requests"), app.test_client() as c:
        bodies = {
            "/predict/duration/1": FULL,
            "/analyze/sensitivity/1": {
                "base_features": FULL,
                "variable_feature_name": "Temp",
                "variation_values": [1.0, 2.0],
            },
            "/suggest/optimal-time/1": {
                "base_conditions": FULL,
                "target_duration_max": 1e9,
                "hours_to_evaluate": [7, 8, 9],
            },
        }
        for url, body in bodies.items():
            assert c.post(url, json=body).status_code == 200, url


def test_sensitivity_nan_variation_value_is_imputed_not_500(client, model):
    """Regression: a NaN variation value (raw JSON ``NaN``) used to miss the
    float32 re-association dict and 500. NaN is a missing value: the row
    scores at the imputed surrogate."""
    r = client.post(
        "/analyze/sensitivity/1",
        data='{"base_features": {"Distance": 1.0}, "variable_feature_name": "Temp",'
        ' "variation_values": [NaN, 2.0]}',
        content_type="application/json",
    )
    assert r.status_code == 200
    rows = r.get_json()["analysis_results"]
    assert [row["predicted_duration"] is not None for row in rows] == [True, True]
    surrogate = model.stages[0].surrogateDF.first()["Temp"]
    scored = serving.scorer(model)
    assert rows[0]["predicted_duration"] == scored.predict({"Distance": 1.0, "Temp": surrogate})[0]
    assert rows[1]["predicted_duration"] == scored.predict({"Distance": 1.0, "Temp": 2.0})[0]


@pytest.mark.parametrize(
    "url", ["/predict/duration/1", "/analyze/sensitivity/1", "/suggest/optimal-time/1"]
)
def test_non_object_body_is_400(client, url):
    """Regression: a JSON list body 500'd on every endpoint."""
    r = client.post(url, json=[1, 2, 3])
    assert r.status_code == 400
    assert "JSON object" in r.get_json()["error"]


def test_non_object_base_is_400(client):
    """Regression: a non-object base_conditions 500'd on optimal-time."""
    r = client.post(
        "/suggest/optimal-time/1",
        json={"base_conditions": [1.0], "target_duration_max": 100, "hours_to_evaluate": [8]},
    )
    assert r.status_code == 400
    assert "'base_conditions'" in r.get_json()["error"]
    r = client.post(
        "/analyze/sensitivity/1",
        json={
            "base_features": "Distance=1",
            "variable_feature_name": "Distance",
            "variation_values": [1.0],
        },
    )
    assert r.status_code == 400
    assert "'base_features'" in r.get_json()["error"]


@pytest.mark.parametrize("field", ["target_duration_min", "target_duration_max"])
def test_optimal_time_nan_target_is_400(client, field):
    """A raw-JSON ``NaN`` target has no meaning as a band edge (Spark's
    BETWEEN sorts NaN above every value, a Python compare is never true):
    reject it instead of picking one of the two answers."""
    r = client.post(
        "/suggest/optimal-time/1",
        data='{"base_conditions": {"Distance": 1.0}, "target_duration_min": 0,'
        ' "target_duration_max": 100, "hours_to_evaluate": [8, 9], "%s": NaN}' % field,
        content_type="application/json",
    )
    assert r.status_code == 400
    assert "NaN" in r.get_json()["error"]


def test_sensitivity_non_numeric_base_for_varied_feature(client, model):
    """Regression: a non-numeric base value for the varied feature is
    overwritten by every variation value, so it must not 500."""
    r = client.post(
        "/analyze/sensitivity/1",
        json={
            "base_features": {"Temp": "hot", "Distance": 1},
            "variable_feature_name": "Temp",
            "variation_values": [1.0, 2.0],
        },
    )
    assert r.status_code == 200
    rows = r.get_json()["analysis_results"]
    scored = serving.scorer(model)
    assert [row["predicted_duration"] for row in rows] == [
        scored.predict({"Distance": 1, "Temp": v})[0] for v in (1.0, 2.0)
    ]
