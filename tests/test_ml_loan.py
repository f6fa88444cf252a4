"""Golden tests for the Tier-A ML parity pipeline on the loan table.

Strategy per SURVEY.md §5: deterministic assertions on impute means and
scaler postconditions, seeded-split reproducibility, the A18 override
truth table, and SQL-twin cross-checks of the MLlib evaluator metrics
(rank-sum ROC-AUC, mean-of-indicator accuracy). Model coefficients are
NOT asserted (L-BFGS vs Adam converge to the same family, not the same
weights) — metrics and formulas are.
"""

from __future__ import annotations

import math
import os
import threading

import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from loan_default_prediction_app_big_data_spark.ml import (
    OverrideThresholds,
    apply_override,
    fit_loan_model,
    predict_single_row,
    seeded_split,
)
from loan_default_prediction_app_big_data_spark.ml.loan_pipeline import (
    build_preprocessing_pipeline,
    cast_features_double,
)
from loan_default_prediction_app_big_data_spark.schema import (
    LOAN_FEATURES,
    LOAN_IMPUTED,
)
from loan_default_prediction_app_big_data_spark.sources.readers import read_loan_csv

LOAN_CSV = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "Loan_Default.csv")


@pytest.fixture(scope="module")
def loan(spark):
    return read_loan_csv(spark, LOAN_CSV).cache()


@pytest.fixture(scope="module")
def model(loan):
    return fit_loan_model(loan, with_mean=False, max_iter=50)


def test_schema_pinned(loan):
    assert len(loan.schema.fields) == 34
    assert loan.count() == 999
    assert dict(loan.dtypes)["rate_of_interest"] == "double"
    assert dict(loan.dtypes)["Status"] == "int"


def test_impute_means_match_pandas(spark, loan):
    """Imputer(strategy=mean) fills each null with the column mean —
    cross-checked against pandas (the reference app.py:34-36 path)."""
    loan_d = cast_features_double(loan)
    pre = build_preprocessing_pipeline().fit(loan_d)
    imputed = pre.transform(loan_d)
    pdf = pd.read_csv(LOAN_CSV)
    means = pdf[LOAN_IMPUTED].mean()
    sp_means = imputed.select(
        *[F.avg(c).alias(c) for c in LOAN_IMPUTED]
    ).first()
    for c in LOAN_IMPUTED:
        filled = pdf[c].fillna(means[c])
        assert sp_means[c] == pytest.approx(filled.mean(), rel=1e-9)
    assert imputed.filter(
        " OR ".join(f"`{c}` IS NULL" for c in LOAN_IMPUTED)
    ).count() == 0


def test_scaler_semantics_both_modes(loan):
    """A10 (withStd only, Spark reference default) vs A11 (center+scale,
    sklearn reference): check unit-variance, and zero-mean only for A11."""
    from pyspark.ml.functions import vector_to_array

    for with_mean in (False, True):
        loan_d = cast_features_double(loan)
        pre = build_preprocessing_pipeline(with_mean=with_mean).fit(loan_d)
        out = pre.transform(loan_d).select(
            vector_to_array("scaled_features").alias("v")
        )
        stats = out.select(
            F.avg(F.col("v")[0]).alias("mu0"),
            F.stddev_samp(F.col("v")[0]).alias("sd0"),
        ).first()
        assert stats["sd0"] == pytest.approx(1.0, rel=1e-6)
        if with_mean:
            assert stats["mu0"] == pytest.approx(0.0, abs=1e-9)
        else:
            assert abs(stats["mu0"]) > 0.1  # not centered


def test_seeded_split_reproducible(loan):
    a_train, a_test = seeded_split(loan, seed=42)
    b_train, b_test = seeded_split(loan, seed=42)
    assert a_train.count() == b_train.count()
    assert a_test.count() == b_test.count()
    assert a_train.count() + a_test.count() == 999
    # 80/20 within tolerance
    assert 0.7 < a_train.count() / 999 < 0.9


def test_model_metrics_sane(model):
    """Metric-range assertions (SURVEY.md §5.3): AUC above chance,
    accuracy at least majority-class, objective history decreasing."""
    assert 0.5 < model.roc_auc <= 1.0
    assert 0.5 <= model.accuracy <= 1.0
    hist = model.objective_history
    assert hist[0] >= hist[-1]


def test_auc_matches_rank_sum_twin(spark, loan, model):
    """A19 SQL twin: areaUnderROC == Mann-Whitney U / (n1*n0) computed
    from the score column with average ranks (exact formula check)."""
    _, test = seeded_split(model.pipeline_model.transform(cast_features_double(loan)), seed=42)
    preds = model.lr_model.transform(test)
    from pyspark.ml.functions import vector_to_array

    scored = preds.select(
        F.col("Status").cast("double").alias("y"),
        vector_to_array("probability")[1].alias("p"),
    )
    scored.createOrReplaceTempView("scored_auc")
    row = spark.sql(
        """
        WITH ranked AS (
            SELECT y, avg(rnk) OVER (PARTITION BY p) AS r
            FROM (SELECT y, p, row_number() OVER (ORDER BY p) AS rnk FROM scored_auc)
        )
        SELECT (sum(CASE WHEN y = 1 THEN r ELSE 0 END)
                - (sum(y) * (sum(y) + 1)) / 2)
               / (sum(y) * (count(*) - sum(y))) AS auc
        FROM ranked
        """
    ).first()
    assert model.roc_auc == pytest.approx(row["auc"], abs=1e-9)


def test_accuracy_matches_indicator_twin(spark, loan, model):
    """A20 SQL twin: accuracy == avg(prediction = label)."""
    _, test = seeded_split(model.pipeline_model.transform(cast_features_double(loan)), seed=42)
    preds = model.lr_model.transform(test)
    acc = preds.agg(
        F.avg((F.col("prediction") == F.col("Status").cast("double")).cast("double"))
    ).first()[0]
    assert model.accuracy == pytest.approx(acc, abs=1e-12)


def test_override_truth_table(spark):
    """A18: forced rejection iff ALL THREE conjuncts hold (reference
    app.py:191-194); violating exactly one conjunct each must pass through."""
    rows = [
        # income, loan_amount, property_value, model prediction, expected final
        (20_000.0, 300_000.0, 50_000.0, 1.0, 0.0),  # all conjuncts -> forced 0
        (40_000.0, 300_000.0, 50_000.0, 1.0, 1.0),  # income too high
        (20_000.0, 100_000.0, 50_000.0, 1.0, 1.0),  # loan too small
        (20_000.0, 300_000.0, 150_000.0, 1.0, 1.0),  # property too valuable
        (20_000.0, 300_000.0, 50_000.0, 0.0, 0.0),  # already rejected
        (30_000.0, 200_000.0, 100_000.0, 1.0, 1.0),  # boundary: strict <,>,<
    ]
    schema = "income double, loan_amount double, property_value double, prediction double, expected double"
    out = apply_override(spark.createDataFrame(rows, schema)).select("expected", "final_prediction").collect()
    for r in out:
        assert r["final_prediction"] == r["expected"]

    # Thresholds reach Spark exactly: 0.1 is not a short binary
    # fraction, so a rendering that rounds it flips the row at or just
    # below it; +-1e18 exercise exponent notation.
    th = OverrideThresholds(low_income=0.1, high_loan=-1e18, low_property_value=1e18)
    below = math.nextafter(0.1, 0.0)
    rows = [
        (0.1, 5.0, 5.0, 1.0, 1.0),  # at the threshold: strict < passes
        (below, 5.0, 5.0, 1.0, 0.0),  # one ulp below: forced 0
        (0.09999999, 5.0, 5.0, 1.0, 0.0),
        (0.10000001, 5.0, 5.0, 1.0, 1.0),
        (below, -1e18, 5.0, 1.0, 1.0),  # loan not > -1e18
        (below, 5.0, 1e18, 1.0, 1.0),  # property not < 1e18
    ]
    out = apply_override(spark.createDataFrame(rows, schema), th=th).select("expected", "final_prediction").collect()
    assert [r["final_prediction"] for r in out] == [r["expected"] for r in out]


def test_single_row_serving_and_persistence(spark, loan, model, tmp_path):
    """A17 + A4: serve one row through the fitted pipeline; round-trip
    the model through disk and verify identical serving output."""
    good = {
        "loan_amount": 100_000.0,
        "rate_of_interest": 4.0,
        "property_value": 500_000.0,
        "income": 120_000.0,
        "Credit_Score": 800.0,
        "LTV": 20.0,
    }
    res = predict_single_row(spark, model.pipeline_model, model.lr_model, good)
    assert res["final_prediction"] in (0.0, 1.0)
    assert "loan is likely" in res["verdict"]

    forced = dict(good, income=10_000.0, loan_amount=250_000.0, property_value=50_000.0)
    res2 = predict_single_row(spark, model.pipeline_model, model.lr_model, forced)
    assert res2["final_prediction"] == 0.0  # A18 override regardless of model

    path = str(tmp_path / "loan_model")
    model.save(path)
    from loan_default_prediction_app_big_data_spark.ml import LoanModel

    pre2, lr2 = LoanModel.load_transformers(path)
    res3 = predict_single_row(spark, pre2, lr2, good)
    assert res3["prediction"] == res["prediction"]
    assert res3["probability"] == res["probability"]


def test_local_serving_matches_distributed(spark, loan, model):
    """Driver-local scoring (broadcast-parameter fast path) must agree
    with the distributed transform on prediction AND probability."""
    from loan_default_prediction_app_big_data_spark.ml.serving import (
        extract_serving_params,
        predict_local,
    )

    params = extract_serving_params(model.pipeline_model, model.lr_model)
    cases = [
        dict(loan_amount=100_000.0, rate_of_interest=4.0, property_value=500_000.0,
             income=120_000.0, Credit_Score=800.0, LTV=20.0),
        dict(loan_amount=250_000.0, rate_of_interest=7.5, property_value=50_000.0,
             income=10_000.0, Credit_Score=520.0, LTV=95.0),  # override fires
        dict(loan_amount=350_000.0, rate_of_interest=3.0, property_value=900_000.0,
             income=80_000.0, Credit_Score=700.0, LTV=40.0),
        # a missing imputed feature is filled from the Imputer's surrogate
        dict(loan_amount=100_000.0, rate_of_interest=4.0, property_value=500_000.0,
             income=None, Credit_Score=800.0, LTV=20.0),
        # ... and so is a NaN one (the Imputer's missingValue is NaN)
        dict(loan_amount=100_000.0, rate_of_interest=4.0, property_value=500_000.0,
             income=math.nan, Credit_Score=800.0, LTV=20.0),
    ]
    for feats in cases:
        dist = predict_single_row(spark, model.pipeline_model, model.lr_model, feats)
        loc = predict_local(params, feats)
        assert loc["prediction"] == dist["prediction"]
        assert loc["final_prediction"] == dist["final_prediction"]
        p1_dist = float(dist["probability"].strip("[]").split(",")[1])
        assert loc["probability_1"] == pytest.approx(p1_dist, abs=1e-9)

    # A NaN feature that is not imputed: the Assembler rejects it
    # (handleInvalid='error'), and predict_local must not score it.
    nan_loan = dict(cases[0], loan_amount=math.nan)
    with pytest.raises(Py4JJavaError, match="NaN"):
        predict_single_row(spark, model.pipeline_model, model.lr_model, nan_loan)
    with pytest.raises(ValueError, match="loan_amount"):
        predict_local(params, nan_loan)
    with pytest.raises(ValueError, match="loan_amount"):
        predict_local(params, {c: v for c, v in cases[0].items() if c != "loan_amount"})


def test_single_row_serving_runs_no_spark_job(spark, loan, model):
    """The 1-row input is a LocalRelation, so Catalyst folds the whole
    fitted pipeline on the driver and a warm serve schedules no job."""
    feats = dict(loan_amount=100_000.0, rate_of_interest=4.0, property_value=500_000.0,
                 income=120_000.0, Credit_Score=800.0, LTV=20.0)
    # The first transform may run one job for the Imputer's lazy surrogates.
    predict_single_row(spark, model.pipeline_model, model.lr_model, feats)
    sc = spark.sparkContext
    group = "test_single_row_serving_runs_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        predict_single_row(spark, model.pipeline_model, model.lr_model, feats)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_single_row_serving_py4j_budget(spark, loan, model):
    """A warm serve calls the fitted JVM stages directly and applies the
    override and verdict as SQL text, so it stays within a fixed budget
    of py4j round trips (the per-param re-send and per-operator column
    building it avoids made it ~400)."""
    feats = dict(loan_amount=100_000.0, rate_of_interest=4.0, property_value=500_000.0,
                 income=120_000.0, Credit_Score=800.0, LTV=20.0)
    predict_single_row(spark, model.pipeline_model, model.lr_model, feats)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    serving = threading.current_thread()
    calls = 0

    def counting(*args, **kwargs):
        # py4j's finalizer thread sends a delete through the same client
        # for every Java proxy Python garbage-collects; those belong to
        # whatever earlier code made the garbage, not to this serve.
        nonlocal calls
        if threading.current_thread() is serving:
            calls += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        predict_single_row(spark, model.pipeline_model, model.lr_model, feats)
    finally:
        del client.send_command
    assert 0 < calls <= 64


def test_viz_feed_bounded_and_deterministic(spark, loan):
    """A25: the viz feed returns exactly n rows of the requested
    columns as pandas, deterministically under a fixed seed."""
    from loan_default_prediction_app_big_data_spark.sources.readers import viz_feed

    a = viz_feed(loan, ["loan_amount", "rate_of_interest", "age"], n=100)
    b = viz_feed(loan, ["loan_amount", "rate_of_interest", "age"], n=100)
    assert len(a) == 100
    assert list(a.columns) == ["loan_amount", "rate_of_interest", "age"]
    assert a["age"].notna().all()
    assert a.equals(b)


def test_cross_validated_tuning(spark, loan):
    """CV over a reg grid: metrics per grid cell, best model's AUC at
    least as good as the unregularized default within CV noise."""
    from loan_default_prediction_app_big_data_spark.ml.tuning import tune_loan_model

    best, pre, metrics = tune_loan_model(
        loan, reg_params=(0.0, 0.1), elastic_net_params=(0.0,), num_folds=2
    )
    assert len(metrics) == 2  # one avg metric per grid cell
    assert all(0.4 < m <= 1.0 for m in metrics)
    assert best.getRegParam() in (0.0, 0.1)
    # best model serves through the normal path
    from loan_default_prediction_app_big_data_spark.ml import predict_single_row

    res = predict_single_row(
        spark, pre, best,
        dict(loan_amount=100_000.0, rate_of_interest=4.0, property_value=500_000.0,
             income=120_000.0, Credit_Score=800.0, LTV=20.0),
    )
    assert res["final_prediction"] in (0.0, 1.0)


def test_extended_model_beats_reference_features(spark, loan):
    """Full-width model (all 34 columns: one-hot categoricals + extra
    numerics) must outperform the reference's 6-feature model on AUC —
    the engine capability the reference leaves on the table."""
    from pyspark.ml.classification import LogisticRegression

    from loan_default_prediction_app_big_data_spark.ml.features import (
        build_extended_pipeline,
        prepare_extended,
    )
    from loan_default_prediction_app_big_data_spark.ml.loan_pipeline import evaluate

    df = prepare_extended(loan)
    pre = build_extended_pipeline().fit(df)
    train, test = seeded_split(pre.transform(df), seed=42)
    lr = LogisticRegression(
        featuresCol="scaled_features", labelCol="Status", maxIter=50
    )
    preds = lr.fit(train).transform(test)
    metrics = evaluate(preds)
    base = fit_loan_model(loan, max_iter=50)
    assert metrics["roc_auc"] > base.roc_auc + 0.02  # material lift
    assert 0.5 < metrics["roc_auc"] <= 1.0


def test_tree_ensembles_train_and_rank(spark, loan):
    """Model-family breadth beyond the reference's LR: RandomForest and
    GBT train on the same features, produce valid probabilities, and
    feature importances rank the informative columns non-trivially."""
    from pyspark.ml.classification import GBTClassifier, RandomForestClassifier

    from loan_default_prediction_app_big_data_spark.ml.loan_pipeline import (
        build_preprocessing_pipeline,
        cast_features_double,
        evaluate,
    )

    df = cast_features_double(loan)
    pre = build_preprocessing_pipeline().fit(df)
    train, test = seeded_split(pre.transform(df), seed=42)
    for est in (
        RandomForestClassifier(
            featuresCol="scaled_features", labelCol="Status", numTrees=20, seed=42
        ),
        GBTClassifier(
            featuresCol="scaled_features", labelCol="Status", maxIter=10, seed=42
        ),
    ):
        model = est.fit(train)
        metrics = evaluate(model.transform(test))
        assert 0.5 < metrics["roc_auc"] <= 1.0
        imp = model.featureImportances.toArray()
        assert len(imp) == 6 and abs(sum(imp) - 1.0) < 1e-6
        assert max(imp) < 1.0  # no degenerate single-feature tree


REFERENCE_PTH = "/root/reference/loan_prediction_model.pth"


@pytest.mark.skipif(not os.path.exists(REFERENCE_PTH), reason="reference checkpoint absent")
def test_torch_state_dict_import_golden():
    """Load the reference's DEPLOYED checkpoint (app.py:130 torch.save,
    app.py:137-143 load_state_dict) without torch and pin the exact
    tensor values — the migration path for a user bringing the
    deployed model with them. Golden floats were read once from the
    committed .pth and are asserted to 1e-6."""
    import numpy as np

    from loan_default_prediction_app_big_data_spark.ml.torch_import import (
        load_torch_state_dict,
    )

    sd = load_torch_state_dict(REFERENCE_PTH)
    assert set(sd) == {"fc.weight", "fc.bias"}
    w, b = sd["fc.weight"], sd["fc.bias"]
    assert w.shape == (2, 6) and w.dtype == np.float32
    assert b.shape == (2,) and b.dtype == np.float32
    assert w[0, 0] == pytest.approx(0.24784796, abs=1e-6)
    assert w[1, 5] == pytest.approx(-0.03288915, abs=1e-6)
    assert b[0] == pytest.approx(0.31619307, abs=1e-6)
    assert b[1] == pytest.approx(-0.52568793, abs=1e-6)


@pytest.mark.skipif(not os.path.exists(REFERENCE_PTH), reason="reference checkpoint absent")
def test_torch_import_scores_like_reference_forward():
    """predict_local over the imported params reproduces the torch
    forward + argmax: sigmoid((w1-w0)·z + (b1-b0)) equals the softmax
    class-1 probability of the 2-logit head, so decisions match the
    reference app's argmax for any input."""
    import math

    import numpy as np

    from loan_default_prediction_app_big_data_spark.ml.serving import predict_local
    from loan_default_prediction_app_big_data_spark.ml.torch_import import (
        load_torch_state_dict,
        serving_params_from_torch,
    )
    from loan_default_prediction_app_big_data_spark.schema import LOAN_FEATURES

    sd = load_torch_state_dict(REFERENCE_PTH)
    params = serving_params_from_torch(REFERENCE_PTH)
    rows = [
        # already-standardized feature rows (the reference scales before
        # the tensor forward; identity scaling here isolates the head)
        [0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        [1.0, -0.5, 0.25, 2.0, -1.0, 0.5],
        [-2.0, 1.5, -0.75, 0.1, 0.9, -1.2],
    ]
    w = np.asarray(sd["fc.weight"], dtype="float64")
    b = np.asarray(sd["fc.bias"], dtype="float64")
    # thresholds that never fire so the override stays out of the way
    from loan_default_prediction_app_big_data_spark.ml.override import OverrideThresholds

    th = OverrideThresholds(low_income=-1e18, high_loan=1e18, low_property_value=-1e18)
    for x in rows:
        logits = w @ np.asarray(x) + b  # the reference forward
        exp = np.exp(logits - logits.max())
        softmax1 = float(exp[1] / exp.sum())
        torch_argmax = float(np.argmax(logits))
        out = predict_local(params, dict(zip(LOAN_FEATURES, x)), th=th)
        assert out["probability_1"] == pytest.approx(softmax1, abs=1e-12)
        assert out["prediction"] == torch_argmax


def test_cross_validated_tuning_selects_sane_model(spark, loan):
    """CrossValidator grid search (ml/tuning.py): the reference trains
    one fixed LR (spark.py:70-78); the engine adds leakage-safe k-fold
    selection. The chosen config must come from the grid, CV metrics
    must cover the full grid, and the tuned holdout AUC must not fall
    below an untuned fit by more than noise."""
    from loan_default_prediction_app_big_data_spark.ml.tuning import (
        tune_with_holdout,
    )

    res = tune_with_holdout(loan, num_folds=2)
    assert res.grid_size == 4
    assert len(res.avg_metrics) == 4
    assert res.best_reg_param in (0.0, 0.1)
    assert res.best_elastic_net in (0.0, 1.0)
    assert res.best_cv_auc == max(res.avg_metrics)
    assert 0.5 < res.best_cv_auc < 1.0
    # Holdout AUC in a sane band (the untuned reference-width model
    # sits near 0.62; full-width near 0.87 — tuning must not collapse).
    assert res.holdout_auc > 0.55
