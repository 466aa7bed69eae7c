"""a2_platt_identity's Newton core (M6 deterministic face).

The oracle gate proves cross-engine hash equality; these tests pin the
math itself: the relational fixed-step Newton fit must agree with an
independent numpy MLE, be fully converged at 8 steps (8 vs 12 steps
identical to float noise), and satisfy the calibration identity
mean(sigmoid(a*x+b)) == base rate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from daxos_spark.ml.scale import newton_logistic_grouped


def _numpy_newton(x, n, k, iters=50):
    nn, kk = n.sum(), k.sum()
    a, b = 0.0, float(np.log(kk / (nn - kk)))
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(a * x + b)))
        w = n * p * (1.0 - p)
        g1, g2 = np.sum(n * p * x - k * x), np.sum(n * p - k)
        h11, h12, h22 = np.sum(w * x * x), np.sum(w * x), np.sum(w)
        det = h11 * h22 - h12 * h12
        a -= (h22 * g1 - h12 * g2) / det
        b -= (h11 * g2 - h12 * g1) / det
    return a, b


def _grouped(spark):
    # overlapping but label-correlated score groups (non-separable MLE)
    pdf = pd.DataFrame(
        {
            "x": [0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9],
            "n": [40.0, 35.0, 30.0, 28.0, 26.0, 24.0, 22.0, 20.0, 18.0, 16.0],
            "k": [2.0, 4.0, 6.0, 9.0, 12.0, 14.0, 16.0, 17.0, 16.0, 15.0],
        }
    )
    return pdf, spark.createDataFrame(pdf)


def test_newton_matches_numpy_mle(spark):
    pdf, g = _grouped(spark)
    row = newton_logistic_grouped(g, iters=8).collect()[0]
    a_ref, b_ref = _numpy_newton(
        pdf.x.to_numpy(), pdf.n.to_numpy(), pdf.k.to_numpy()
    )
    assert abs(row["a"] - a_ref) < 1e-9 and abs(row["b"] - b_ref) < 1e-9


def test_newton_converged_at_8_steps(spark):
    _, g = _grouped(spark)
    r8 = newton_logistic_grouped(g, iters=8).collect()[0]
    r12 = newton_logistic_grouped(g, iters=12).collect()[0]
    assert abs(r8["a"] - r12["a"]) < 1e-12 and abs(r8["b"] - r12["b"]) < 1e-12


def test_calibration_identity_holds(spark):
    pdf, g = _grouped(spark)
    ab = newton_logistic_grouped(g, iters=8)
    out = (
        g.crossJoin(F.broadcast(ab))
        .agg(
            (
                F.sum(
                    F.col("n")
                    / (1.0 + F.exp(-(F.col("a") * F.col("x") + F.col("b"))))
                )
                / F.sum("n")
            ).alias("mean_cal")
        )
        .collect()[0]
    )
    assert abs(out["mean_cal"] - pdf.k.sum() / pdf.n.sum()) < 1e-12


def test_driver_fit_matches_on_expanded_rows(spark):
    """``fit_platt`` regroups row-level OOF predictions into the same
    table and lands on the same MLE as the relational core."""
    from daxos_spark.ml.scale import fit_platt

    pdf, g = _grouped(spark)
    rows = [
        (float(x), float(i < k))
        for x, n, k in pdf.itertuples(index=False)
        for i in range(int(n))
    ]
    model = fit_platt(spark.createDataFrame(rows, "y_pred double, label double"))
    ref = newton_logistic_grouped(g, iters=8).collect()[0]
    assert abs(model.coefficients[0] - ref["a"]) < 1e-9
    assert abs(model.intercept - ref["b"]) < 1e-9
