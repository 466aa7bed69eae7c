"""Platt scaling — M6/M7 (reference daxos/scale.py:8-30
run_cv_and_platt_scale, daxos/utils.py:41-49 yhat).

Fit: unpenalized logistic regression of out-of-fold predictions onto
the binary label (exactly the reference's
LogisticRegression(penalty=None) on stacked OOF preds). One aggregate
reduces the OOF to a (score, rows, positives) table with a row per
distinct score — never more rows than the CV rows the OOF came from,
which the reference holds on its driver as one vector — and the driver
fits (a, b) by Newton's method on that table's exact log-likelihood.
Apply: one native column, sigmoid(a * y_pred + b).

Measured in a cold ``geno`` pass on 4 vCPU: MLlib's LBFGS
LogisticRegression took about 3 s and 6 jobs for this 2-parameter fit,
the grouped aggregate + driver Newton about 0.5 s and 2 jobs. Two other
designs lost: ``newton_logistic_grouped`` on the grouped table (3.7 s,
its crossJoin chain) and a driver loop of one-row aggregates (1.8 s
over 6 iterations).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_ITER = 100
_TOL = 1e-12


@dataclass(frozen=True)
class PlattModel:
    """A fitted (a, b) under the field names of MLlib's
    ``LogisticRegressionModel``, so ``apply_platt`` takes either (a saved
    MLlib model is the CLI's ``--platt``)."""

    coefficients: tuple[float]
    intercept: float


def fit_platt(oof: DataFrame, label_col: str = "label", pred_col: str = "y_pred") -> PlattModel:
    """M6: fit on OOF predictions (scale.py:8-30), same answer as MLlib
    ``LogisticRegression(regParam=0, standardization=False)``: a
    one-class OOF gives a = 0 and b = ±inf, a constant score gives
    a = 0 and b = logit(base rate). A null or NaN label, a label other
    than 0/1, or a null or NaN score raises ``ValueError``."""
    y = F.col(label_col).cast("double")
    rows = (
        oof.groupBy(F.col(pred_col).cast("double").alias("x"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(y).alias("k"),
            F.count_if(y.isNull() | F.isnan(y)).alias("n_null"),
            F.count_if(~y.isin(0.0, 1.0)).alias("n_other"),
        )
        .collect()
    )
    if not rows:
        raise ValueError("Platt fit: the OOF has no rows")
    n_null = sum(r["n_null"] for r in rows)
    if n_null:
        raise ValueError(f"Platt fit: {n_null} OOF rows have a null or NaN label")
    n_other = sum(r["n_other"] for r in rows)
    if n_other:
        raise ValueError(f"Platt fit: {n_other} OOF labels are not 0 or 1")
    bad_x = sum(r["n"] for r in rows if r["x"] is None or math.isnan(r["x"]))
    if bad_x:
        raise ValueError(f"Platt fit: {bad_x} OOF rows have a null or NaN score")
    x, n, k = (np.array([float(r[c]) for r in rows]) for c in ("x", "n", "k"))
    a, b = _newton_grouped(x, n, k)
    return PlattModel(coefficients=(a,), intercept=b)


def _loglik(a: float, b: float, x: np.ndarray, n: np.ndarray, k: np.ndarray) -> float:
    z = a * x + b
    return float(np.sum(k * z - n * np.logaddexp(0.0, z)))


def _newton_grouped(x: np.ndarray, n: np.ndarray, k: np.ndarray) -> tuple[float, float]:
    """Unpenalized 1-D logistic MLE over a grouped (x, n, k) table:
    Newton steps from a = 0, b = logit(base rate), each halved until the
    log-likelihood does not fall; stops once |Δa| + |Δb| < 1e-12, after
    100 steps (a separable table has no finite MLE), or when the Hessian
    is singular (every score's probability is 0 or 1)."""
    nn, kk = n.sum(), k.sum()
    if kk in (0.0, nn):
        return 0.0, math.copysign(math.inf, kk - 0.5)
    a, b = 0.0, math.log(kk / (nn - kk))
    if len(x) == 1:
        return a, b
    ll = _loglik(a, b, x, n, k)
    for _ in range(_MAX_ITER):
        p = np.exp(-np.logaddexp(0.0, -(a * x + b)))
        w = n * p * (1.0 - p)
        r = k - n * p
        g1, g2 = float(r @ x), float(r.sum())
        h11, h12, h22 = float(w @ (x * x)), float(w @ x), float(w.sum())
        det = h11 * h22 - h12 * h12
        if not det > 0.0:
            break
        da, db = (h22 * g1 - h12 * g2) / det, (h11 * g2 - h12 * g1) / det
        for _ in range(60):
            ll_new = _loglik(a + da, b + db, x, n, k)
            if ll_new >= ll:
                break
            da, db = da / 2.0, db / 2.0
        else:
            break
        a, b, ll = a + da, b + db, ll_new
        if abs(da) + abs(db) < _TOL:
            break
    return a, b


def apply_platt(
    model,
    scored: DataFrame,
    pred_col: str = "y_pred",
    out_col: str = "y_pred_platt_scaled",
) -> DataFrame:
    """M7: predict_proba[:,1] (utils.py:41-49) → calibrated column,
    keeping all input columns (predictions CSV shape,
    scripts/predict.py:161-164). ``model`` is a ``PlattModel`` or a
    binary MLlib ``LogisticRegressionModel``; the column is MLlib's
    ``probability[1]``, 1 / (1 + exp(-(a * y_pred + b)))."""
    a, b = float(model.coefficients[0]), float(model.intercept)
    margin = F.lit(a) * F.col(pred_col).cast("double") + F.lit(b)
    return scored.withColumn(out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)))


def newton_logistic_grouped(g: DataFrame, iters: int = 8) -> DataFrame:
    """Unpenalized 1-D logistic MLE over a grouped (x, n, k) table via
    ``iters`` fixed Newton steps — one crossJoin+agg round per step,
    nothing collected. Start: a=0, b=logit(base rate). Quadratic
    convergence puts the iterate at machine precision well before 8
    steps for any non-separable grouped table. This is the relational
    core of the hash-checked ``a2_platt_identity`` driver query."""
    tot = g.agg(F.sum("n").alias("nn"), F.sum("k").alias("kk"))
    ab = tot.select(
        F.lit(0.0).alias("a"),
        F.log(F.col("kk") / (F.col("nn") - F.col("kk"))).alias("b"),
    )
    n, k, x, a, b = (F.col(c) for c in ("n", "k", "x", "a", "b"))
    for _ in range(iters):
        p = 1.0 / (1.0 + F.exp(-(a * x + b)))
        w = n * p * (1.0 - p)
        s = g.crossJoin(F.broadcast(ab)).agg(
            F.max(a).alias("a"),
            F.max(b).alias("b"),
            F.sum(n * p * x - k * x).alias("g1"),
            F.sum(n * p - k).alias("g2"),
            F.sum(w * x * x).alias("h11"),
            F.sum(w * x).alias("h12"),
            F.sum(w).alias("h22"),
        )
        det = F.col("h11") * F.col("h22") - F.col("h12") * F.col("h12")
        ab = s.select(
            (a - (F.col("h22") * F.col("g1") - F.col("h12") * F.col("g2")) / det).alias("a"),
            (b - (F.col("h11") * F.col("g2") - F.col("h12") * F.col("g1")) / det).alias("b"),
        )
    return ab
