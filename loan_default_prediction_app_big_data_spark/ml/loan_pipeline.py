"""Tier-A ML parity pipeline (SURVEY.md §2 A8-A16, A19-A20).

The reference computes the same model two ways:

- Spark path (reference spark.py:38-78): Imputer → VectorAssembler →
  StandardScaler(withStd only) → LogisticRegression, unseeded 80/20
  split, ROC-AUC + accuracy evaluators.
- pandas/torch path (reference app.py:69-133): mean-fillna →
  sklearn StandardScaler (centers AND scales, fit on train split) →
  a 1-layer Linear(6,2) + CrossEntropyLoss + Adam — which is exactly
  multinomial logistic regression, so MLlib's LogisticRegression is the
  idiomatic Spark equivalent (no custom NN needed; the per-epoch loss
  log of app.py:126-127 maps to ``trainingSummary.objectiveHistory``).

This module exposes BOTH scaler semantics explicitly (the two reference
paths genuinely differ — SURVEY.md §2 A10 vs A11), always seeds the
split (fixing the irreproducibility of reference spark.py:59), and
keeps everything a stock MLlib Pipeline so training runs as distributed
treeAggregate jobs — the 100 TB path needs no custom code.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
)
from pyspark.ml.feature import Imputer, StandardScaler, VectorAssembler
from pyspark.sql import DataFrame

from ..schema import LOAN_FEATURES, LOAN_IMPUTED, LOAN_LABEL


def cast_features_double(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Promote feature/imputed columns to double before imputation.

    The reference's two paths drift here: Spark's CSV inference keeps
    ``property_value``/``income`` int, so its Imputer TRUNCATES the mean
    when filling (reference spark.py:29+42), while pandas promotes to
    float64 and fills exactly (reference app.py:32-36). The engine picks
    the exact (double) semantics and documents the drift.
    """
    from pyspark.sql import functions as F

    for c in cols or LOAN_FEATURES:
        df = df.withColumn(c, F.col(c).cast("double"))
    return df


def build_preprocessing_pipeline(
    impute_cols: list[str] | None = None,
    feature_cols: list[str] | None = None,
    with_mean: bool = False,
) -> Pipeline:
    """Imputer → VectorAssembler → StandardScaler.

    ``with_mean=False`` reproduces the Spark reference path
    (StandardScaler defaults, reference spark.py:49: scale only);
    ``with_mean=True`` reproduces the sklearn path (reference
    app.py:76: center AND scale).
    """
    impute_cols = impute_cols or LOAN_IMPUTED
    feature_cols = feature_cols or LOAN_FEATURES
    imputer = Imputer(
        strategy="mean", inputCols=impute_cols, outputCols=impute_cols
    )
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    scaler = StandardScaler(
        inputCol="features",
        outputCol="scaled_features",
        withStd=True,
        withMean=with_mean,
    )
    return Pipeline(stages=[imputer, assembler, scaler])


def seeded_split(
    df: DataFrame, weights: tuple[float, float] = (0.8, 0.2), seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """A12 random split — always seeded (the reference's Spark split at
    spark.py:59 is unseeded and irreproducible; app.py:73 pins 42)."""
    train, test = df.randomSplit(list(weights), seed=seed)
    return train, test


@dataclass
class LoanModel:
    """A fitted preprocessing+classifier pair with its eval metrics."""

    pipeline_model: PipelineModel
    lr_model: object  # LogisticRegressionModel
    roc_auc: float
    accuracy: float
    objective_history: list[float]

    def save(self, path: str) -> None:
        """A4 model sink (reference app.py:130 torch.save equivalent)."""
        self.pipeline_model.write().overwrite().save(f"{path}/preprocess")
        self.lr_model.write().overwrite().save(f"{path}/lr")

    @staticmethod
    def load_transformers(path: str):
        """A4 model source (reference app.py:137-143 load equivalent)."""
        from pyspark.ml.classification import LogisticRegressionModel

        return (
            PipelineModel.load(f"{path}/preprocess"),
            LogisticRegressionModel.load(f"{path}/lr"),
        )


def fit_loan_model(
    df: DataFrame,
    with_mean: bool = False,
    fit_scope_train_only: bool = False,
    label_col: str = LOAN_LABEL,
    seed: int = 42,
    max_iter: int = 100,
) -> LoanModel:
    """End-to-end A8-A16/A19-A20: preprocess, split, train, evaluate.

    ``fit_scope_train_only`` mirrors the second reference-path
    difference: the Spark path fits preprocessing on the WHOLE table
    (reference spark.py:55) while the sklearn path fits on the train
    split only (reference app.py:77) — both exposed, documented.
    """
    # The chain below re-executes its input 5-6x without
    # materialization: Imputer fit, StandardScaler fit, the transform
    # feeding the split, and each of the two evaluators replays the
    # whole upstream plan (CSV parse, any replication crossJoin,
    # casts). So the casted input is pinned once and the preprocessed
    # frame once (guide §5 caching: reused AND expensive to
    # recompute); localCheckpoint preserves partition count and
    # contents, so the seeded randomSplit, L-BFGS aggregation order,
    # metrics and objectiveHistory are bit-identical (r9 A/B
    # verified) to the unpinned chain. Both pins are released before
    # returning — nothing stays pinned in the session.
    from ..pinning import release_local_checkpoints

    df = cast_features_double(df).localCheckpoint(eager=True)  # data-scale input
    pre = build_preprocessing_pipeline(with_mean=with_mean)
    if fit_scope_train_only:
        train_raw, test_raw = seeded_split(df, seed=seed)
        pre_model = pre.fit(train_raw)
        train, test = pre_model.transform(train_raw), pre_model.transform(test_raw)
        pinned = (df,)
    else:
        pre_model = pre.fit(df)
        full = pre_model.transform(df).localCheckpoint(eager=True)
        train, test = seeded_split(full, seed=seed)
        pinned = (df, full)

    lr = LogisticRegression(
        featuresCol="scaled_features", labelCol=label_col, maxIter=max_iter
    )
    lr_model = lr.fit(train)
    predictions = lr_model.transform(test)
    metrics = evaluate(predictions, label_col)
    release_local_checkpoints(*pinned)

    return LoanModel(
        pipeline_model=pre_model,
        lr_model=lr_model,
        roc_auc=metrics["roc_auc"],
        accuracy=metrics["accuracy"],
        objective_history=list(lr_model.summary.objectiveHistory),
    )


def evaluate(predictions: DataFrame, label_col: str = LOAN_LABEL) -> dict[str, float]:
    """A19 ROC-AUC + A20 accuracy on a scored frame (reference
    spark.py:71-78). SQL twins for oracle checking live in
    tests/test_ml_loan.py (rank-sum AUC; mean-of-indicator accuracy)."""
    auc = BinaryClassificationEvaluator(
        labelCol=label_col,
        rawPredictionCol="rawPrediction",
        metricName="areaUnderROC",
    ).evaluate(predictions)
    acc = MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="accuracy"
    ).evaluate(predictions)
    return {"roc_auc": auc, "accuracy": acc}
