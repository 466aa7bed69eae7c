"""Training / CV / Platt / explanation (reference test_crossvalidate.py,
test_scale.py, test_explain.py, test_scoring.py scope)."""

from __future__ import annotations

import math
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from daxos_spark.ml.train import GBTParams


@pytest.fixture(scope="module")
def trained(matrix_ds):
    from daxos_spark.ml.train import fit_gbt

    params = GBTParams(eta=0.2, max_depth=3, n_boost_round=10, seed=42)
    model = fit_gbt(matrix_ds.fact, params)
    return model, params


def test_gbt_recovers_signal(matrix_ds, trained):
    """Planted-signal recovery (reference check_ors_reasonable spirit,
    setup_data.py:155-165): AUC on train data well above chance."""
    from daxos_spark.ml.scoring import score_auc
    from daxos_spark.ml.train import predict_gbt

    model, _ = trained
    scored = predict_gbt(model, matrix_ds.fact)
    assert scored.count() == matrix_ds.fact.count()
    pvals = [r["y_pred"] for r in scored.select("y_pred").collect()]
    assert all(0.0 <= p <= 1.0 for p in pvals)
    assert score_auc(scored) > 0.85


def test_model_save_load_roundtrip(tmp_path, matrix_ds, trained):
    from daxos_spark.ml.train import load_model, predict_gbt, save_model

    model, _ = trained
    save_model(model, str(tmp_path / "gbt"))
    back = load_model(str(tmp_path / "gbt"))
    a = predict_gbt(model, matrix_ds.fact).select("row_idx", "y_pred").collect()
    b = predict_gbt(back, matrix_ds.fact).select("row_idx", "y_pred").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_scoring_nan_filter(spark):
    """P6: NaN labels dropped before scoring (crossvalidate.py:133-138)."""
    from daxos_spark.ml.scoring import score_rmse

    df = spark.createDataFrame(
        [(0.0, 0.1), (1.0, 0.9), (float("nan"), 0.5)], "label double, y_pred double"
    )
    rmse = score_rmse(df)
    assert abs(rmse - 0.1) < 1e-9


def test_param_sampler_ranges():
    from daxos_spark.ml.crossvalidate import sample_param_grid

    grid = sample_param_grid(50, seed=1)
    assert len(grid) == 50
    assert all(1e-4 <= g["eta"] <= 0.1 for g in grid)
    assert all(0.5 <= g["subsample"] <= 1.0 for g in grid)
    assert all(2 <= g["max_depth"] <= 8 for g in grid)
    assert grid == sample_param_grid(50, seed=1)  # deterministic
    assert grid != sample_param_grid(50, seed=2)


def test_cv_results_and_argbest(matrix_ds):
    from daxos_spark.ml.crossvalidate import cv_gbt

    base = GBTParams(n_boost_round=5, seed=42)
    grid = [
        {"eta": 0.3, "subsample": 1.0, "colsample_bytree": 1.0, "max_depth": 3},
        {"eta": 0.0001, "subsample": 1.0, "colsample_bytree": 1.0, "max_depth": 2},
    ]
    results, best, oof = cv_gbt(matrix_ds.fact, base, grid, n_folds=3, row_chunks=10)
    rows = results.collect()
    assert len(rows) == 6  # 2 params × 3 folds (FIXTURES.md §7 shape)
    assert set(results.columns) >= {
        "eta", "subsample", "colsample_bytree", "max_depth", "metric",
        "score", "train_score", "fold", "n_boost_round",
    }
    # arg-best consistency: chosen params have the highest fold-mean
    # score in the results table (A2; AUC is ranking-based so even the
    # tiny-eta model can compete — don't assume which wins)
    means = {}
    for r in rows:
        means.setdefault(r["eta"], []).append(r["score"])
    best_eta = max(means, key=lambda e: sum(means[e]) / len(means[e]))
    assert best["eta"] == best_eta
    # OOF covers every row exactly once (union of held-out folds)
    assert oof.count() == matrix_ds.fact.count()
    assert oof.select("row_idx").distinct().count() == matrix_ds.fact.count()


@pytest.fixture(scope="module")
def platt_oof(matrix_ds):
    """Cached OOF predictions of one CV round (the Platt fit's input)."""
    from daxos_spark.ml.crossvalidate import fit_one_round_cv

    params = GBTParams(eta=0.2, max_depth=3, n_boost_round=5, seed=1)
    _, oof = fit_one_round_cv(matrix_ds.fact, params, n_folds=3, row_chunks=10)
    oof = oof.cache()
    oof.count()
    yield oof
    oof.unpersist()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), read from a job group."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _mllib_platt(oof):
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    data = oof.select(
        array_to_vector(F.array(F.col("y_pred").cast("double"))).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    return LogisticRegression(regParam=0.0, standardization=False).fit(data)


def test_platt_scaling(spark, platt_oof):
    from daxos_spark.ml.scale import apply_platt, fit_platt

    oof = platt_oof
    model = fit_platt(oof)
    calibrated = apply_platt(model, oof)
    vals = calibrated.select("y_pred", "y_pred_platt_scaled", "label").collect()
    assert all(0.0 <= r["y_pred_platt_scaled"] <= 1.0 for r in vals)
    # monotone: platt preserves score ordering
    s = sorted(vals, key=lambda r: r["y_pred"])
    platt = [r["y_pred_platt_scaled"] for r in s]
    assert all(a <= b + 1e-12 for a, b in zip(platt, platt[1:]))


def test_platt_matches_mllib_logistic_regression(platt_oof):
    """M6 oracle: the unpenalized MLlib fit the driver Newton replaced."""
    from daxos_spark.ml.scale import fit_platt

    ours, ref = fit_platt(platt_oof), _mllib_platt(platt_oof)
    assert abs(ours.coefficients[0] - ref.coefficients[0]) < 1e-6
    assert abs(ours.intercept - ref.intercept) < 1e-6


def test_platt_matches_relational_newton(platt_oof):
    """Same MLE as the relational fixed-step Newton core behind
    a2_platt_identity, fed the same grouped (score, rows, positives)
    table."""
    from daxos_spark.ml.scale import fit_platt, newton_logistic_grouped

    g = platt_oof.groupBy(F.col("y_pred").alias("x")).agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.sum("label").cast("double").alias("k")
    )
    ref = newton_logistic_grouped(g, iters=8).collect()[0]
    ours = fit_platt(platt_oof)
    assert abs(ours.coefficients[0] - ref["a"]) < 1e-9
    assert abs(ours.intercept - ref["b"]) < 1e-9


def test_platt_fit_is_one_aggregate(spark, platt_oof):
    """The grouped OOF aggregate is the fit's only Spark work: a map
    stage and a result stage, each its own job under AQE (MLlib's LBFGS
    fit ran 6 on the same input)."""
    from daxos_spark.ml.scale import fit_platt

    _, n_jobs = _jobs(spark, lambda: fit_platt(platt_oof))
    assert n_jobs <= 2


def test_apply_platt_on_saved_mllib_model(spark, platt_oof, tmp_path):
    """CLI ``predict --platt``: a saved MLlib LogisticRegressionModel goes
    through the same native column as ``fit_platt``'s model and gives
    its probability[1]."""
    from pyspark.ml.classification import LogisticRegressionModel
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from daxos_spark.ml.scale import apply_platt

    _mllib_platt(platt_oof).save(str(tmp_path / "platt"))
    model = LogisticRegressionModel.load(str(tmp_path / "platt"))
    ours = apply_platt(model, platt_oof)
    ref = model.transform(
        platt_oof.withColumn("features", array_to_vector(F.array(F.col("y_pred").cast("double"))))
    ).select("row_idx", vector_to_array("probability")[1].alias("p"))
    got = dict(ours.select("row_idx", "y_pred_platt_scaled").collect())
    want = dict(ref.collect())
    assert got.keys() == want.keys()
    assert max(abs(got[i] - want[i]) for i in got) < 1e-12


def _oof_frame(spark, rows):
    return spark.createDataFrame(rows, "y_pred double, label double")


@pytest.mark.parametrize(
    "bad_rows, message",
    [
        ([(0.4, None), (0.9, None)], "2 OOF rows have a null or NaN label"),
        ([(0.4, float("nan")), (0.9, float("nan"))], "2 OOF rows have a null or NaN label"),
        ([(0.4, 2.0)], "1 OOF labels are not 0 or 1"),
        ([(None, 1.0), (float("nan"), 0.0)], "2 OOF rows have a null or NaN score"),
    ],
)
def test_platt_rejects_bad_oof_rows(spark, bad_rows, message):
    """Named errors where MLlib raised its own (``Labels MUST NOT be Null
    or NaN``), counted in the fit's one aggregate."""
    from daxos_spark.ml.scale import fit_platt

    oof = _oof_frame(spark, [(0.2, 0.0), (0.7, 1.0), (0.5, 1.0)] + bad_rows)
    with pytest.raises(ValueError, match=message):
        fit_platt(oof)


def test_platt_rejects_empty_oof(spark):
    from daxos_spark.ml.scale import fit_platt

    with pytest.raises(ValueError, match="the OOF has no rows"):
        fit_platt(_oof_frame(spark, []))


@pytest.mark.parametrize("label", [0.0, 1.0])
def test_platt_one_class_oof(spark, label):
    """MLlib's answer for a one-class OOF: coefficient 0, intercept ±inf;
    the calibrated column is then the constant class."""
    from daxos_spark.ml.scale import apply_platt, fit_platt

    oof = _oof_frame(spark, [(x / 10, label) for x in range(10)])
    model = fit_platt(oof)
    assert model.coefficients[0] == 0.0
    assert model.intercept == (math.inf if label else -math.inf)
    cal = {r[0] for r in apply_platt(model, oof).select("y_pred_platt_scaled").collect()}
    assert cal == {label}


def test_platt_constant_score(spark):
    from daxos_spark.ml.scale import fit_platt

    oof = _oof_frame(spark, [(0.3, float(i % 4 == 0)) for i in range(20)])
    model = fit_platt(oof)
    assert model.coefficients[0] == 0.0
    assert abs(model.intercept - math.log(5 / 15)) < 1e-12


def test_platt_separable_oof_stops_finite(spark):
    """No finite MLE: the fit stops (at the step cap or a singular
    Hessian) with finite coefficients and a monotone output in [0, 1]."""
    from daxos_spark.ml.scale import apply_platt, fit_platt

    rows = [(x / 20, float(x >= 10)) for x in range(20)]
    oof = _oof_frame(spark, rows)
    model = fit_platt(oof)
    assert math.isfinite(model.coefficients[0]) and math.isfinite(model.intercept)
    assert model.coefficients[0] > 0.0
    cal = [r[0] for r in apply_platt(model, oof).orderBy("y_pred").select("y_pred_platt_scaled").collect()]
    assert all(0.0 <= p <= 1.0 for p in cal)
    assert all(a <= b for a, b in zip(cal, cal[1:]))
    assert cal[0] < 0.5 < cal[-1]


def test_subset_columns_runs_no_job(spark, matrix_ds, tmp_path):
    from daxos_spark.operators.subset import subset_columns
    from daxos_spark.sources.plink import read_matrix, write_matrix

    write_matrix(matrix_ds, str(tmp_path / "ds"))
    ds = read_matrix(spark, str(tmp_path / "ds"))
    names = ds.cols
    sub, n_jobs = _jobs(spark, lambda: subset_columns(ds, names[3:7], match_prefix=False))
    assert n_jobs == 0
    assert sub.n_features == 4
    assert sub.cols == names[3:7]


def test_feature_importances_and_pruning(matrix_ds, trained):
    from daxos_spark.ml.explain import feature_importances, used_features

    model, _ = trained
    imp = feature_importances(model, matrix_ds.cols)
    assert imp.count() == matrix_ds.n_features
    top = imp.orderBy(F.col("gain").desc()).limit(2).collect()
    signal = set(matrix_ds.cols[10:])
    assert {r["predictors"] for r in top} == signal  # planted SNPs win

    used = used_features(model, matrix_ds.cols)
    assert set(used) >= signal


def test_used_features_runs_no_job(spark, matrix_ds, trained):
    from daxos_spark.ml.explain import used_features

    model, _ = trained
    used, n_jobs = _jobs(spark, lambda: used_features(model, matrix_ds.cols))
    assert n_jobs == 0
    imp = model.featureImportances.toArray()
    assert used == [s for s, g in zip(matrix_ds.cols, imp) if g != 0.0]


def test_permutation_importance_finds_signal(matrix_ds, trained):
    from daxos_spark.ml.explain import permutation_importance

    model, _ = trained
    pi = permutation_importance(model, matrix_ds.fact, matrix_ds.cols, seed=5)
    rows = {r["predictors"]: r["shap_mean_abs"] for r in pi.collect()}
    signal = matrix_ds.cols[10:]
    noise_max = max(v for k, v in rows.items() if k not in signal)
    assert min(rows[s] for s in signal) > noise_max


def test_adjusted_auc(spark, matrix_ds, covars_path, trained):
    from daxos_spark.ml.adjust import adjusted_auc
    from daxos_spark.ml.deconfound import align_covars
    from daxos_spark.ml.train import predict_gbt
    from daxos_spark.sources.tables import read_covars

    model, _ = trained
    scored = predict_gbt(model, align_covars(matrix_ds.fact, read_covars(spark, covars_path)))
    out = adjusted_auc(scored, ["COV1", "COV2", "COV3"])
    assert 0.5 < out["auc_raw"] <= 1.0
    assert 0.0 <= out["auc_adjusted"] <= 1.0
    # covariates are pure noise here → adjustment barely moves AUC
    assert abs(out["auc_adjusted"] - out["auc_raw"]) < 0.2
