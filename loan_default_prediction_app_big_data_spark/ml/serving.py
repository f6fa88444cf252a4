"""A17: single-row inference (the "query" end users run).

Reference flow (app.py:152-205): widget dict → 1-row DataFrame →
fitted scaler → tensor → forward → argmax → rule override → verdict.

Engine flow: 1-row Arrow-built DataFrame → fitted PipelineModel.transform
→ LogisticRegressionModel.transform (MLlib's ``prediction`` column IS the
argmax over class scores) → override → verdict. The row enters Spark as
a ``LocalRelation``, so Catalyst's ``ConvertToLocalRelation`` folds every
projection of the fitted stages on the driver: the executed plan is one
``LocalTableScan`` and a serve runs 0 Spark jobs (a list of Rows would
become a ``Scan ExistingRDD`` over a parallelized RDD: 2 jobs a serve).
What remains is driver-side analysis, ~130-155 ms a serve on 4 cores;
the same arithmetic runs in microseconds driver-local over the (tiny)
model coefficients (``predict_local``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import LOAN_FEATURES, LOAN_IMPUTED
from .override import OverrideThresholds, apply_override, verdict_text

#: The imputed features are nullable: a missing one is filled from the
#: fitted Imputer's surrogate, as ``predict_local`` does.
INPUT_SCHEMA = T.StructType(
    [T.StructField(c, T.DoubleType(), c in LOAN_IMPUTED) for c in LOAN_FEATURES]
)


def _as_double(v) -> float | None:
    return None if v is None else float(v)


def predict_single_row(
    spark: SparkSession,
    pipeline_model,
    lr_model,
    features: dict[str, float],
    th: OverrideThresholds = OverrideThresholds(),
) -> dict:
    """Score one input row and apply the A18 override.

    ``features`` keys follow the reference widget dict (app.py:160-167);
    a missing or ``None`` imputed feature is imputed.
    Returns {prediction, final_prediction, verdict, probability}.
    """
    row = pa.table(
        {c: pa.array([_as_double(features.get(c))], pa.float64()) for c in LOAN_FEATURES}
    )
    df = spark.createDataFrame(row, schema=INPUT_SCHEMA)
    scored = lr_model.transform(pipeline_model.transform(df))
    out = (
        apply_override(scored, th=th)
        .withColumn("verdict", verdict_text())
        .select(
            "prediction",
            "final_prediction",
            "verdict",
            F.col("probability").cast("string").alias("probability"),
        )
        .first()
    )
    return {
        "prediction": out["prediction"],
        "final_prediction": out["final_prediction"],
        "verdict": out["verdict"],
        "probability": out["probability"],
    }


def extract_serving_params(pipeline_model, lr_model) -> dict:
    """Pull the fitted parameters (impute surrogates, scaler stats, LR
    coefficients) out of the models for driver-local scoring.

    Everything is tiny — 4 surrogates, 6 stds/means, 6+1 coefficients —
    the whole model is < 1 KB. ``predict_single_row`` runs the same
    arithmetic in 0 Spark jobs but pays ~130-155 ms of Catalyst analysis
    a serve on 4 cores; these parameters score a row in microseconds.
    """
    from pyspark.ml.feature import ImputerModel, StandardScalerModel

    surrogates: dict[str, float] = {}
    scaler_mean = scaler_std = None
    for stage in pipeline_model.stages:
        if isinstance(stage, ImputerModel):
            srow = stage.surrogateDF.first()
            surrogates = {c: float(srow[c]) for c in srow.asDict()}
        elif isinstance(stage, StandardScalerModel):
            scaler_mean = stage.mean.toArray() if stage.getWithMean() else None
            scaler_std = stage.std.toArray()
    return {
        "surrogates": surrogates,
        "scaler_mean": scaler_mean,
        "scaler_std": scaler_std,
        "coefficients": lr_model.coefficients.toArray(),
        "intercept": float(lr_model.intercept),
    }


def predict_local(
    params: dict,
    features: dict[str, float],
    th: OverrideThresholds = OverrideThresholds(),
) -> dict:
    """Driver-local single-row scoring — microseconds, no Spark job.

    Numerically identical to the distributed path: impute → scale →
    sigmoid(w·x + b) → argmax at 0.5 → A18 override. Use for
    latency-critical serving; `predict_single_row` is the same
    computation through the cluster (for when the 'row' is a batch).
    """
    import math

    imputed: dict[str, float] = {}
    for c in LOAN_FEATURES:
        v = features.get(c)
        if v is None:
            v = params["surrogates"].get(c)
        imputed[c] = float(v)
    x = [imputed[c] for c in LOAN_FEATURES]
    std = params["scaler_std"]
    mean = params["scaler_mean"]
    z = [
        ((xi - (mean[i] if mean is not None else 0.0)) / std[i]) if std[i] else 0.0
        for i, xi in enumerate(x)
    ]
    margin = sum(w * zi for w, zi in zip(params["coefficients"], z)) + params["intercept"]
    p1 = 1.0 / (1.0 + math.exp(-margin))
    pred = 1.0 if p1 > 0.5 else 0.0
    # Override evaluates on IMPUTED values — matching the distributed
    # path, where apply_override reads the pipeline's imputed columns.
    fires = (
        imputed["income"] < th.low_income
        and imputed["loan_amount"] > th.high_loan
        and imputed["property_value"] < th.low_property_value
    )
    final = 0.0 if fires else pred
    return {
        "prediction": pred,
        "final_prediction": final,
        "probability_1": p1,
        "verdict": (
            "The loan is likely to be sanctioned."
            if final == 1.0
            else "The loan is likely to be rejected."
        ),
    }
