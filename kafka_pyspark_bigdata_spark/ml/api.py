"""Thin Flask shell over the serving dataflows (reference api.py:77-313).

The three endpoints are glue only: route → model resolve (404) → payload
checks (400) → the model's driver-local ``serving.Scorer`` → reference
response shapes. All query semantics live in serving.py — this module adds
no dataflow of its own (SURVEY.md §7 M3: "Flask shell last, thinnest
possible"). A request runs no Spark job.

Parity notes (cited to the reference):
- model dict is keyed by version string; absent/None → 404
  (api.py:79-81,110-111,229-230)
- predict response keys ``model_version_used / input_features /
  predicted_duration / missing_features_defaulted`` (api.py:94-99)
- sensitivity rows ``varied_feature / value / predicted_duration /
  base_features_snapshot`` with per-variation validation errors kept as
  error rows (api.py:142-147,185-210); all-errors → 200 with only error
  rows (api.py:149-151)
- optimal-time: target_duration_min defaults 0, minute_of_hour defaults 0
  and must be 0-59 (api.py:241-255); invalid hours are skipped
  (api.py:261-264); empty grid → 200 with a message (api.py:281-282);
  suggestions sorted by predicted duration ascending (api.py:298)
- a body, ``base_features`` or ``base_conditions`` that is not a JSON
  object → 400

Flask is optional at import (the engine itself never needs it): building
the app without Flask installed raises at ``create_app`` time.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from . import serving

try:  # pragma: no cover - exercised implicitly by import
    from flask import Flask, jsonify, request
except ImportError:  # pragma: no cover
    Flask = None


def create_app(spark: SparkSession, models: dict) -> "Flask":
    """Build the Flask app over a model dict (version-string → PipelineModel
    or None, as produced by ``trainer.load_models`` — api.py:23-37). Each
    loaded model's Scorer is built here, so requests run no Spark job.
    ``spark`` stays in the signature for existing callers; scoring needs
    no session."""
    if Flask is None:
        raise RuntimeError("flask is not installed; the engine works without it")
    for model in models.values():
        if model is not None:
            serving.scorer(model)
    app = Flask("kafka_pyspark_bigdata_spark")

    def _resolve(version: str, what: str):
        """(scorer, JSON body, None) or (None, None, error response): 404
        for an absent model, 400 for an empty or non-object body."""
        model = models.get(version)
        if model is None:
            return None, None, (
                jsonify({"error": f"Model 'model_{version}' not loaded or not found."}),
                404,
            )
        data = request.get_json(silent=True)
        if not data:
            return None, None, (jsonify({"error": f"No input {what} provided"}), 400)
        if not isinstance(data, dict):
            return None, None, _not_object(f"input {what}")
        return serving.scorer(model), data, None

    def _not_object(name: str):
        return jsonify({"error": f"The {name} must be a JSON object."}), 400

    @app.route("/predict/duration/<version>", methods=["POST"])
    def predict_duration(version: str):
        scorer, data, err = _resolve(version, "data")
        if err:
            return err
        try:
            predicted, missing = scorer.predict(data)
        except ValueError as ve:
            return jsonify({"error": str(ve)}), 400
        return jsonify(
            {
                "model_version_used": f"model_{version}",
                "input_features": data,
                "predicted_duration": predicted,
                "missing_features_defaulted": missing or None,
            }
        )

    @app.route("/analyze/sensitivity/<version>", methods=["POST"])
    def analyze_sensitivity(version: str):
        scorer, payload, err = _resolve(version, "payload")
        if err:
            return err
        base = payload.get("base_features")
        feat = payload.get("variable_feature_name")
        values = payload.get("variation_values")
        if not all([base, feat, values]):
            return (
                jsonify(
                    {
                        "error": "Missing 'base_features', 'variable_feature_name',"
                        " or 'variation_values' in payload."
                    }
                ),
                400,
            )
        if not isinstance(base, dict):
            return _not_object("'base_features'")
        if feat not in scorer.features:
            return (
                jsonify(
                    {"error": f"Invalid 'variable_feature_name': {feat}. Not a model feature."}
                ),
                400,
            )
        if not isinstance(values, list):
            return jsonify({"error": "'variation_values' must be a list."}), 400

        # Per-variation validation: failures become error rows, survivors
        # are scored in order (api.py:185-210).
        results, valid = [], []
        for v in values:
            row = {"varied_feature": feat, "value": v}
            snapshot = {**base, feat: v}
            try:
                serving.coerce_features(snapshot, scorer.features)
                valid.append(float(v))
                row["base_features_snapshot"] = snapshot
            except (TypeError, ValueError) as ve:
                row.update(error=str(ve), predicted_duration=None)
            results.append(row)
        scored = iter(scorer.sensitivity(base, feat, valid) if valid else [])
        for row in results:
            if "error" not in row:
                row["predicted_duration"] = next(scored)["predicted"]
        return jsonify(
            {"model_version_used": f"model_{version}", "analysis_results": results}
        )

    @app.route("/suggest/optimal-time/<version>", methods=["POST"])
    def suggest_optimal_time(version: str):
        scorer, payload, err = _resolve(version, "payload")
        if err:
            return err
        base = payload.get("base_conditions")
        t_max = payload.get("target_duration_max")
        t_min = payload.get("target_duration_min", 0)
        hours = payload.get("hours_to_evaluate")
        minute = payload.get("minute_of_hour", 0)
        if not all([base, hours]) or t_max is None:
            return (
                jsonify(
                    {
                        "error": "Missing 'base_conditions', 'hours_to_evaluate',"
                        " or 'target_duration_max'."
                    }
                ),
                400,
            )
        if not isinstance(base, dict):
            return _not_object("'base_conditions'")
        if not isinstance(hours, list):
            return (
                jsonify({"error": "'hours_to_evaluate' must be a list of integers (0-23)."}),
                400,
            )
        try:
            t_max, t_min, minute = float(t_max), float(t_min), int(minute)
            if math.isnan(t_min) or math.isnan(t_max):
                raise ValueError("target durations must be numbers, not NaN.")
            if not (0 <= minute <= 59):
                raise ValueError("minute_of_hour must be between 0 and 59.")
        except (TypeError, ValueError, OverflowError) as ve:
            return (
                jsonify({"error": f"Invalid type for target durations or minute: {ve}"}),
                400,
            )
        if not serving.valid_hours(hours):
            return (
                jsonify(
                    {"message": "No valid hours to evaluate after validation.", "suggestions": []}
                ),
                200,
            )
        try:
            rows = scorer.optimal_time(base, hours, minute, t_min, t_max)
        except ValueError as ve:
            return jsonify({"error": str(ve)}), 400
        return jsonify(
            {
                "model_version_used": f"model_{version}",
                "target_duration_min": t_min,
                "target_duration_max": t_max,
                "suggestions": [
                    {
                        "hour_of_day": r["hour"],
                        "minute_of_hour": r["minute"],
                        "predicted_duration": r["predicted"],
                        "within_target_range": True,
                    }
                    for r in rows
                ],
            }
        )

    return app
