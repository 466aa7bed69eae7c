"""Residualization vs numpy closed-form oracle (reference
tests/test_deconfound.py scope, tightened per SURVEY §5: numeric
equivalence, not just shapes)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _collect_xy(fact, cov_cols):
    rows = fact.orderBy("row_idx").collect()
    X = np.array([r["features"] for r in rows], dtype=np.float64)
    C = np.column_stack(
        [np.ones(len(rows)), *[np.array([r[c] for r in rows], dtype=np.float64) for c in cov_cols]]
    )
    y = np.array([r["label"] for r in rows], dtype=np.float64)
    return X, C, y


def test_betas_match_numpy_lstsq(spark, matrix_ds, covars_path):
    from daxos_spark.ml.deconfound import align_covars, fit_betas
    from daxos_spark.sources.tables import read_covars

    cov = read_covars(spark, covars_path)
    joined = align_covars(matrix_ds.fact, cov).persist()
    cov_cols = ["COV1", "COV2", "COV3"]
    betas, _ = fit_betas(joined, cov_cols)

    X, C, _ = _collect_xy(joined, cov_cols)
    expected, *_ = np.linalg.lstsq(C, X, rcond=None)
    assert betas.shape == (4, X.shape[1])
    np.testing.assert_allclose(betas, expected, rtol=1e-8, atol=1e-10)


def test_residuals_match_numpy(spark, matrix_ds, covars_path):
    from daxos_spark.ml.deconfound import (
        align_covars,
        fit_betas,
        residualize_features,
    )
    from daxos_spark.sources.tables import read_covars

    cov = read_covars(spark, covars_path)
    joined = align_covars(matrix_ds.fact, cov).persist()
    cov_cols = ["COV1", "COV2", "COV3"]
    betas, _ = fit_betas(joined, cov_cols)
    adj = residualize_features(joined, cov_cols, betas)

    X, C, _ = _collect_xy(joined, cov_cols)
    expected = (X - C @ betas).astype(np.float32)
    got = np.array(
        [r["features_adj"] for r in adj.orderBy("row_idx").collect()], dtype=np.float32
    )
    np.testing.assert_allclose(got, expected, rtol=1e-5, atol=1e-6)
    # residuals are orthogonal to covariates (OLS property)
    np.testing.assert_allclose(C.T @ expected, np.zeros((4, X.shape[1])), atol=1e-2)


def test_label_residual_and_standardize(spark, matrix_ds, covars_path):
    from daxos_spark.ml.deconfound import (
        align_covars,
        fit_betas,
        residualize_label,
        standardize_covars,
    )
    from daxos_spark.sources.tables import read_covars

    cov = read_covars(spark, covars_path)
    joined = align_covars(matrix_ds.fact, cov)
    cov_cols = ["COV1", "COV2", "COV3"]

    std, stats = standardize_covars(joined, cov_cols)
    for c in cov_cols:
        m = std.agg(F.avg(c), F.stddev_pop(c)).collect()[0]
        assert abs(m[0]) < 1e-9 and abs(m[1] - 1.0) < 1e-6

    # test split reuses train stats (M5 contract)
    std2, stats2 = standardize_covars(joined, cov_cols, stats)
    assert stats2 == stats

    _, yb = fit_betas(joined, cov_cols)
    out = residualize_label(joined, cov_cols, yb)
    _, C, y = _collect_xy(joined, cov_cols)
    expected = y - C @ yb
    got = np.array([r["label_adj"] for r in out.orderBy("row_idx").collect()])
    np.testing.assert_allclose(got, expected, rtol=1e-5, atol=1e-6)


def test_full_deconfound_pipeline(spark, matrix_ds, covars_path):
    from daxos_spark.ml.deconfound import deconfound
    from daxos_spark.sources.tables import read_covars

    cov = read_covars(spark, covars_path)
    out, stats, fb, yb = deconfound(matrix_ds.fact, cov)
    assert "features_adj" in out.columns and "label_adj" in out.columns
    assert out.count() == matrix_ds.fact.count()
    assert fb.shape == (4, matrix_ds.n_features) and yb.shape == (4,)


def _missing_frame(spark):
    """Covariates, labels with ~20% nulls and dosages with ~10% nulls
    (PLINK ``NA``); returns the frame and its numpy twin (NaN = null)."""
    n, p = 200, 6
    rng = np.random.RandomState(5)
    C = rng.normal(size=(n, 3))
    X = rng.randint(0, 3, size=(n, p)).astype(np.float32) + (C[:, :1] > 0)
    X[rng.rand(n, p) < 0.1] = np.nan
    y = (C @ [0.5, -0.3, 0.2] + 1.0 + rng.normal(0, 0.1, n)).astype(np.float32)
    y[rng.rand(n) < 0.2] = np.nan
    rows = [
        (
            i,
            None if np.isnan(y[i]) else float(y[i]),
            [None if np.isnan(v) else float(v) for v in X[i]],
            *map(float, C[i]),
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "row_idx long, label float, features array<float>, COV1 double, COV2 double, COV3 double"
    )
    return df, X.astype(np.float64), y.astype(np.float64), np.column_stack([np.ones(n), C])


def _lstsq_present(D, v):
    keep = ~np.isnan(v)
    return np.linalg.lstsq(D[keep], v[keep], rcond=None)[0]


def test_label_betas_fit_only_labelled_rows(spark):
    """M2/P7: rows with a null label drop out of the label fit entirely
    (its gramian too), not just out of Cᵀy."""
    from daxos_spark.ml.deconfound import fit_betas

    df, _, y, D = _missing_frame(spark)
    assert np.isnan(y).sum() > 20
    _, yb = fit_betas(df, ["COV1", "COV2", "COV3"])
    np.testing.assert_allclose(yb, _lstsq_present(D, y), rtol=1e-8, atol=1e-10)


def test_feature_betas_fit_each_column_on_its_present_rows(spark):
    """M1/P7: an ``NA`` dosage drops that row from that column's fit only."""
    from daxos_spark.ml.deconfound import fit_betas

    df, X, _, D = _missing_frame(spark)
    fb, _ = fit_betas(df, ["COV1", "COV2", "COV3"])
    assert fb.shape == (4, X.shape[1])
    for j in range(X.shape[1]):
        assert np.isnan(X[:, j]).any()
        np.testing.assert_allclose(fb[:, j], _lstsq_present(D, X[:, j]), rtol=1e-8, atol=1e-10)


def test_na_dosage_residual_is_nan(spark):
    """An ``NA`` cell residualizes to NaN; its neighbours to x − C·b."""
    from daxos_spark.ml.deconfound import fit_betas, residualize_features

    cov_cols = ["COV1", "COV2", "COV3"]
    df, X, _, D = _missing_frame(spark)
    fb, _ = fit_betas(df, cov_cols)
    got = np.array(
        [r["features_adj"] for r in residualize_features(df, cov_cols, fb).orderBy("row_idx").collect()],
        dtype=np.float64,
    )
    expected = (X - D @ fb).astype(np.float32)
    assert np.array_equal(np.isnan(got), np.isnan(X))
    np.testing.assert_allclose(got, expected, rtol=1e-5, atol=1e-6)
