"""Incremental regression training (reference spark_trainer.py re-expressed).

Pipeline semantics reproduced from the reference (cited file:line):

- bulk float cast, single select instead of 25 chained withColumns
  (spark_trainer.py:34-37,48-50 — the chained form bloats the analyzed plan)
- drop rows with null label (spark_trainer.py:52)
- column-prune to features+label in canonical order (spark_trainer.py:54-62)
- mean-impute features (Imputer strategy="mean", spark_trainer.py:67-70)
- assemble with handleInvalid="skip" (spark_trainer.py:72-73)
- RandomForestRegressor seed=42, default-ish params (spark_trainer.py:75-79)
- incremental versions v1..vK train on cumulative unions of the micro-batch
  files (spark_trainer.py:43-46,107-109) — each version reads its prefix
  as one multi-path scan, not one scan per file
- model persistence + feature-importance table (spark_trainer.py:82-99)

Scale: each version's training data flows through one scan; Imputer is a
partial-agg pass; RF training is Spark ML's distributed histogram
algorithm. Nothing here collects to the driver except the (tiny)
importance vector.
"""

from __future__ import annotations

import json
import os

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import Imputer, VectorAssembler
from pyspark.ml.regression import RandomForestRegressor
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Canonical 19-feature bike-trip schema (spark_trainer.py:26-30 = api.py:41-45;
# order matters — it defines vector slot order).
BIKE_FEATURES = [
    "Distance", "PLong", "PLatd", "DLong", "DLatd", "Haversine",
    "Pmonth", "Pday", "Phour", "Pmin", "PDweek",
    "Temp", "Precip", "Wind", "Humid", "Solar", "Snow", "GroundTemp", "Dust",
]
BIKE_LABEL = "Duration"
SEED = 42


def cast_prune(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    keep: list[str] | None = None,
) -> DataFrame:
    """Float-cast + null-label-drop + canonical-order prune, as ONE select
    (O12/O13/O14). try_cast keeps the reference's unparseable→null
    semantics under ANSI mode. ``keep`` passes extra columns through
    untouched (e.g. a deterministic tie-break key for ranking evals)."""
    cols = [F.col(c).try_cast("float").alias(c) for c in [*feature_cols, label_col]]
    cols += [F.col(c) for c in (keep or [])]
    return df.select(*cols).na.drop(subset=[label_col])


def build_pipeline(
    feature_cols: list[str],
    label_col: str,
    seed: int = SEED,
    num_trees: int = 20,
    max_depth: int = 5,
) -> Pipeline:
    imputed = [f"{c}_imputed" for c in feature_cols]
    return Pipeline(
        stages=[
            Imputer(inputCols=feature_cols, outputCols=imputed, strategy="mean"),
            VectorAssembler(
                inputCols=imputed, outputCol="features", handleInvalid="skip"
            ),
            RandomForestRegressor(
                featuresCol="features",
                labelCol=label_col,
                seed=seed,
                numTrees=num_trees,
                maxDepth=max_depth,
            ),
        ]
    )


def train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    **kw,
) -> PipelineModel:
    prepared = cast_prune(df, feature_cols, label_col)
    return build_pipeline(feature_cols, label_col, **kw).fit(prepared)


def train_incremental(
    spark: SparkSession,
    batch_paths: list[str],
    feature_cols: list[str],
    label_col: str,
    schema,
    **kw,
) -> dict[int, PipelineModel]:
    """Versions v1..vK over cumulative path prefixes (spark_trainer.py:107-109).
    Each version reads its prefix as ONE multi-path scan (implicit UNION ALL)."""
    models = {}
    for k in range(1, len(batch_paths) + 1):
        df = (
            spark.read.option("header", True)
            .schema(schema)
            .csv(batch_paths[:k])
        )
        models[k] = train(df, feature_cols, label_col, **kw)
    return models


def model_path(base_dir: str, version: int | str) -> str:
    """Versioned model layout ``model_{v}_rf`` (spark_trainer.py:82;
    api.py:26 loads the same names)."""
    return os.path.join(base_dir, f"model_{version}_rf")


def save_model(
    model: PipelineModel,
    base_dir: str,
    version: int | str,
    feature_cols: list[str] | None = None,
) -> str:
    """Persist a trained pipeline (O18, spark_trainer.py:82-84): the model
    dir plus — when feature names are given — the sorted importance JSON
    sidecar (spark_trainer.py:87-99 ``model_{v}_rf_feature_importances.json``).
    """
    path = model_path(base_dir, version)
    model.write().overwrite().save(path)
    if feature_cols is not None:
        rf = model.stages[-1]
        imp = {
            name: float(v)
            for name, v in zip(feature_cols, rf.featureImportances.toArray())
        }
        imp = dict(sorted(imp.items(), key=lambda kv: kv[1], reverse=True))
        with open(path + "_feature_importances.json", "w") as f:
            json.dump(imp, f, indent=4)
    return path


def load_model(base_dir: str, version: int | str) -> PipelineModel | None:
    """Load a persisted pipeline (api.py:24-37 semantics: missing path →
    None, never an exception — the API serves 404s for absent versions)."""
    path = model_path(base_dir, version)
    if not os.path.exists(path):
        return None
    return PipelineModel.load(path)


def load_models(base_dir: str, versions: list[int | str]) -> dict[str, PipelineModel | None]:
    """Boot-time model dict keyed by version string (api.py:23-37)."""
    return {str(v): load_model(base_dir, v) for v in versions}


def feature_importances(
    spark: SparkSession, model: PipelineModel, feature_cols: list[str]
) -> DataFrame:
    """Feature-importance table sorted descending (spark_trainer.py:87-99)
    — the reference's dict-sort-dump as a tiny DataFrame."""
    rf = model.stages[-1]
    rows = [
        (name, float(imp))
        for name, imp in zip(feature_cols, rf.featureImportances.toArray())
    ]
    return (
        spark.createDataFrame(rows, ["feature", "importance"])
        .orderBy(F.desc("importance"), F.asc("feature"))
    )
