"""A17: single-row inference (the "query" end users run).

Reference flow (app.py:152-205): widget dict → 1-row DataFrame →
fitted scaler → tensor → forward → argmax → rule override → verdict.

Engine flow: 1-row Arrow-built DataFrame → each fitted stage's JVM model
(Imputer → Assembler → Scaler → LogisticRegression; MLlib's
``prediction`` column IS the argmax over class scores) → override →
verdict, the last two as the SQL text of ``ml/override.py`` in two
``selectExpr`` projections. The row enters Spark as a ``LocalRelation``,
so Catalyst's ``ConvertToLocalRelation`` folds every projection on the
driver: the executed plan is one ``LocalTableScan`` and a serve runs 0
Spark jobs (a list of Rows would become a ``Scan ExistingRDD`` over a
parallelized RDD: 2 jobs a serve). Calling the JVM stages directly skips
PySpark's per-param re-send on every ``transform``, and the SQL text
replaces one py4j call per column operator, so a warm serve makes 50
py4j round trips instead of ~400. What remains is JVM-side analysis of
each projection: ~95 ms a serve on 4 cores (perfbench ``loan_ml``
median); the same arithmetic runs in microseconds driver-local over the
(tiny) model coefficients (``predict_local``).
"""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schema import LOAN_FEATURES, LOAN_IMPUTED
from .override import OverrideThresholds, override_sql, verdict_sql

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
    a missing, ``None`` or NaN imputed feature is imputed. A missing or
    ``None`` non-imputed one raises ``ValueError``; a NaN one fails in
    the Assembler (``handleInvalid='error'``).
    Returns {prediction, final_prediction, verdict, probability}.

    Each fitted stage's JVM model transforms the row's Java DataFrame
    directly, as PySpark's own ``JavaTransformer._transform`` does
    minus its re-send of every param: a fitted or loaded model already
    holds its params on the JVM. So a PySpark setter called on a stage
    after fit does not reach this path. A warm serve runs 0 Spark jobs
    and makes 50 py4j round trips, ~95 ms on 4 cores.
    """
    row = pa.table(
        {c: pa.array([_as_double(features.get(c))], pa.float64()) for c in LOAN_FEATURES}
    )
    jdf = spark.createDataFrame(row, schema=INPUT_SCHEMA)._jdf
    for stage in (*pipeline_model.stages, lr_model):
        jdf = stage._java_obj.transform(jdf)
    out = (
        DataFrame(jdf, spark)
        .selectExpr("prediction", f"{override_sql(th=th)} AS final_prediction", "probability")
        .selectExpr(
            "prediction",
            "final_prediction",
            f"{verdict_sql()} AS verdict",
            "CAST(probability AS STRING) AS probability",
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
    arithmetic in 0 Spark jobs and 50 py4j round trips but pays ~95 ms
    of JVM-side plan analysis a serve on 4 cores; these parameters score
    a row in microseconds.
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
    A missing, ``None`` or NaN imputed feature is filled from its
    surrogate, as Spark's Imputer does; any other missing or NaN
    feature raises ``ValueError``.
    """
    imputed: dict[str, float] = {}
    for c in LOAN_FEATURES:
        # Spark's Imputer (missingValue=NaN) fills NaN as it fills null;
        # the Assembler (handleInvalid='error') rejects either elsewhere.
        v = _as_double(features.get(c))
        if (v is None or math.isnan(v)) and c in LOAN_IMPUTED:
            v = _as_double(params["surrogates"].get(c))
        if v is None or math.isnan(v):
            raise ValueError(f"feature {c!r} is missing or NaN and has no imputed value")
        imputed[c] = v
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
    # path, where override_sql reads the pipeline's imputed columns.
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
