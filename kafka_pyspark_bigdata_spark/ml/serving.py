"""Serving-side query semantics (reference api.py re-expressed).

Two surfaces score the same fitted ``trainer.build_pipeline`` model:

- **DataFrame functions**: the batch surface (``ml_sensitivity_quantity``
  and ``ml_optimal_hour`` in ``ml.queries``) and the reference the Scorer
  is tested against:

  - ``predict_one``: validate/coerce a feature dict (missing→0.0 with a
    warning list, non-numeric→ValueError; api.py:49-73), build a one-row
    DataFrame with the explicit serving schema (api.py:41-47), transform,
    fetch the scalar prediction (api.py:89-92).
  - ``sensitivity_sweep``: the /analyze/sensitivity fan-out (api.py:130-210)
    as explode-over-values: the varied value STAYS A COLUMN, so the
    reference's fragile order-based re-association (api.py:166-210) is
    deleted, not ported — association is free, the whole sweep is one plan.
  - ``optimal_time``: the /suggest/optimal-time hour grid (api.py:257-298):
    explode hours → override Phour/Pmin → transform → BETWEEN filter →
    ORDER BY prediction ASC.

- **``Scorer``, for the online endpoints** (``ml.api``): the same three
  dataflows on the driver, one row at a time, through the fitted random
  forest's single-instance ``predict``. A request runs no Spark job,
  where the DataFrame path runs 2, 1 and 3 jobs per predict, sensitivity
  and optimal-time request. ``scorer(model)`` builds it once per model.

Float32 contract (both surfaces): every feature is rounded to float32, as
the FloatType ``serving_schema`` stores it (overflow → ±inf); NaN is then
replaced by the Imputer's surrogate rounded to float32, because
``ImputerModel`` casts its output back to the input type. The assembled
vector, and so the prediction, is bit-identical between the surfaces.

Train/serve skew note: missing features default to 0.0 at serving
(api.py:57-59) while training mean-imputes (spark_trainer.py:70) —
intentional reference semantics, preserved (documented, not "fixed").
"""

from __future__ import annotations

import math
import weakref

import numpy as np
from pyspark.ml import PipelineModel
from pyspark.ml.feature import ImputerModel, VectorAssembler
from pyspark.ml.linalg import DenseVector, Vectors
from pyspark.ml.regression import RandomForestRegressionModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType


def serving_schema(feature_cols: list[str]) -> StructType:
    """All-nullable FloatType in canonical order (api.py:41-47)."""
    return StructType([StructField(c, FloatType(), True) for c in feature_cols])


def coerce_features(
    payload: dict, feature_cols: list[str]
) -> tuple[list[float], list[str]]:
    """missing→0.0 (collected in a warning list), non-numeric→ValueError
    (api.py:49-73). Numeric strings like "12.5" are accepted — the
    reference coerces with ``float(val)`` (api.py:61-65), which parses
    strings; only values float() rejects are collected as bad, including
    a JSON integer too large for a double (``OverflowError``). NOTE this
    deliberately also admits booleans as 1.0/0.0 (float(True) succeeds),
    matching the reference's float(val) behavior for JSON true/false."""
    values, missing, bad = [], [], []
    for c in feature_cols:
        v = payload.get(c)
        if v is None:
            values.append(0.0)
            missing.append(c)
            continue
        try:
            values.append(float(v))
        except (TypeError, ValueError, OverflowError):
            bad.append(c)
    if bad:
        raise ValueError(f"non-numeric features: {bad}")
    return values, missing


def predict_one(
    spark: SparkSession,
    model: PipelineModel,
    payload: dict,
    feature_cols: list[str],
) -> tuple[float, list[str]]:
    values, missing = coerce_features(payload, feature_cols)
    df = spark.createDataFrame([tuple(values)], serving_schema(feature_cols))
    pred = model.transform(df).select("prediction").first()[0]
    return float(pred), missing


def sweep_frame(
    spark: SparkSession,
    base: dict,
    feature_cols: list[str],
    varied_feature: str,
    values: list[float],
) -> DataFrame:
    """One row per variation value, built by exploding the value array over
    the base row — `varied_value` rides along as a column. The array is
    typed, so an empty value list gives no rows instead of a void column;
    for a non-empty list the cast is a no-op the optimizer drops."""
    base_vals, _ = coerce_features(base, feature_cols)
    base_row = spark.createDataFrame(
        [tuple(base_vals)], serving_schema(feature_cols)
    )
    exploded = base_row.select(
        "*",
        F.explode(
            F.array(*[F.lit(float(v)).cast("float") for v in values]).cast(
                ArrayType(FloatType(), containsNull=False)
            )
        ).alias("varied_value"),
    )
    return exploded.withColumn(varied_feature, F.col("varied_value"))


def sensitivity_sweep(
    spark: SparkSession,
    model: PipelineModel,
    base: dict,
    feature_cols: list[str],
    varied_feature: str,
    values: list[float],
) -> DataFrame:
    """/analyze/sensitivity as one plan: explode → transform. Returns
    (varied_feature, varied_value, predicted) rows, association intact."""
    if varied_feature not in feature_cols:
        raise ValueError(f"unknown feature: {varied_feature}")
    swept = sweep_frame(spark, base, feature_cols, varied_feature, values)
    return model.transform(swept).select(
        F.lit(varied_feature).alias("varied_feature"),
        F.col("varied_value").cast("double").alias("varied_value"),
        F.col("prediction").alias("predicted"),
    )


def valid_hours(hours: list) -> list[int]:
    """Hours the optimal-time grid evaluates: ints 0-23 (bools are not
    hours), in request order (api.py:261-264 skip semantics)."""
    return [h for h in hours if isinstance(h, int) and not isinstance(h, bool) and 0 <= h <= 23]


def optimal_time(
    spark: SparkSession,
    model: PipelineModel,
    base: dict,
    feature_cols: list[str],
    hours: list[int],
    minute_of_hour: int,
    target_min: float,
    target_max: float,
    hour_col: str = "Phour",
    minute_col: str = "Pmin",
) -> DataFrame:
    """/suggest/optimal-time as one plan: hour grid → overrides →
    transform → BETWEEN → ORDER BY ASC. Only ``valid_hours`` are swept."""
    swept = sweep_frame(
        spark, base, feature_cols, hour_col, [float(h) for h in valid_hours(hours)]
    )
    swept = swept.withColumn(minute_col, F.lit(float(minute_of_hour)).cast("float"))
    return (
        model.transform(swept)
        .select(
            F.col("varied_value").cast("int").alias("hour"),
            F.lit(int(minute_of_hour)).alias("minute"),
            F.col("prediction").alias("predicted"),
        )
        .filter(F.col("predicted").between(float(target_min), float(target_max)))
        .orderBy(F.asc("predicted"), F.asc("hour"))
    )


def result_json(df: DataFrame) -> list[dict]:
    """Struct/JSON result shaping (O28): rows → JSON-able dicts. Driver-side
    by design — results here are already small (post-LIMIT/filter)."""
    return [row.asDict(recursive=True) for row in df.collect()]


def _float32(values) -> np.ndarray:
    """Round to float32 as the FloatType serving schema stores values."""
    with np.errstate(over="ignore"):
        return np.asarray(values, dtype=np.float64).astype(np.float32)


class Scorer:
    """Driver-local scoring through a fitted Imputer → VectorAssembler →
    RandomForestRegressor pipeline (``trainer.build_pipeline``); any other
    stage layout raises TypeError. ``features`` is the model's input
    column order. The assembler's handleInvalid="skip" never fires here:
    imputation leaves no NaN, since ``Imputer.fit`` refuses an all-missing
    column and so no surrogate is NaN."""

    def __init__(self, model: PipelineModel):
        stages = model.stages if isinstance(model, PipelineModel) else []
        if not (
            len(stages) == 3
            and isinstance(stages[0], ImputerModel)
            and isinstance(stages[1], VectorAssembler)
            and isinstance(stages[2], RandomForestRegressionModel)
            and math.isnan(stages[0].getMissingValue())
            and stages[1].getInputCols() == stages[0].getOutputCols()
            and stages[1].getOutputCol() == stages[2].getFeaturesCol()
        ):
            raise TypeError(
                "Scorer needs an Imputer(missingValue=NaN) → VectorAssembler over"
                f" its outputs → RandomForestRegressionModel pipeline, got {stages}"
            )
        imputer, _, self._rf = stages
        self.features = list(imputer.getInputCols())
        surrogates = imputer.surrogateDF.first()
        self._fill = _float32([surrogates[c] for c in self.features])

    def vector(self, values: list[float]) -> DenseVector:
        """The assembled ``features`` vector for values in ``features`` order."""
        x = _float32(values)
        return Vectors.dense(np.where(np.isnan(x), self._fill, x))

    def score(self, values: list[float]) -> float:
        return float(self._rf.predict(self.vector(values)))

    def predict(self, payload: dict) -> tuple[float, list[str]]:
        """``predict_one`` without Spark: (prediction, defaulted features)."""
        values, missing = coerce_features(payload, self.features)
        return self.score(values), missing

    def sensitivity(self, base: dict, varied_feature: str, values: list[float]) -> list[dict]:
        """``sensitivity_sweep`` rows, in value order."""
        if varied_feature not in self.features:
            raise ValueError(f"unknown feature: {varied_feature}")
        # The varied value is overwritten below, so a non-numeric base
        # value for it is no error (as in the per-value checks of api.py).
        x, _ = coerce_features({**base, varied_feature: 0.0}, self.features)
        i = self.features.index(varied_feature)
        rows = []
        for v, rounded in zip(values, _float32(values)):
            x[i] = float(v)
            rows.append(
                {
                    "varied_feature": varied_feature,
                    "varied_value": float(rounded),
                    "predicted": self.score(x),
                }
            )
        return rows

    def optimal_time(
        self,
        base: dict,
        hours: list,
        minute_of_hour: int,
        target_min: float,
        target_max: float,
    ) -> list[dict]:
        """``optimal_time`` rows over the model's ``Phour``/``Pmin``
        features: valid hours scored, kept inside the target band, sorted
        by (predicted, hour)."""
        x, _ = coerce_features(base, self.features)
        x[self.features.index("Pmin")] = float(minute_of_hour)
        i = self.features.index("Phour")
        rows = []
        for h in valid_hours(hours):
            x[i] = float(h)
            p = self.score(x)
            if target_min <= p <= target_max:
                rows.append({"hour": h, "minute": int(minute_of_hour), "predicted": p})
        return sorted(rows, key=lambda r: (r["predicted"], r["hour"]))


_SCORERS: "weakref.WeakKeyDictionary[PipelineModel, Scorer]" = weakref.WeakKeyDictionary()


def scorer(model: PipelineModel) -> Scorer:
    """The model's Scorer, built on first use and dropped with the model.
    Building reads the Imputer surrogates (a Spark job); scoring runs none.
    Two threads racing on a new model both build it; either result serves."""
    built = _SCORERS.get(model)
    if built is None:
        built = _SCORERS[model] = Scorer(model)
    return built
