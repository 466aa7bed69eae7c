"""Platt scaling — M6/M7 (reference daxos/scale.py:8-30
run_cv_and_platt_scale, daxos/utils.py:41-49 yhat).

Fit: unpenalized logistic regression of out-of-fold predictions onto
the binary label (exactly the reference's
LogisticRegression(penalty=None) on stacked OOF preds).
Apply: model.transform → calibrated probability column.
"""

from __future__ import annotations

from pyspark.ml.classification import LogisticRegression, LogisticRegressionModel
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fit_platt(oof: DataFrame, label_col: str = "label", pred_col: str = "y_pred") -> LogisticRegressionModel:
    """M6: fit on OOF predictions (scale.py:8-30). regParam=0 ≡
    sklearn penalty=None."""
    data = oof.select(
        array_to_vector(F.array(F.col(pred_col).cast("double"))).alias("features"),
        F.col(label_col).cast("double").alias("label"),
    )
    lr = LogisticRegression(regParam=0.0, standardization=False)
    return lr.fit(data)


def apply_platt(
    model: LogisticRegressionModel,
    scored: DataFrame,
    pred_col: str = "y_pred",
    out_col: str = "y_pred_platt_scaled",
) -> DataFrame:
    """M7: predict_proba[:,1] (utils.py:41-49) → calibrated column,
    keeping all input columns (predictions CSV shape,
    scripts/predict.py:161-164)."""
    data = scored.withColumn(
        "__pf", array_to_vector(F.array(F.col(pred_col).cast("double")))
    )
    # param override, not a rename — the input frame may legitimately
    # carry its own `features` column (the fact table's array)
    out = model.transform(data, {model.featuresCol: "__pf"})
    return (
        out.withColumn(out_col, vector_to_array(F.col("probability")).getItem(1))
        .drop("__pf", "rawPrediction", "probability", "prediction")
    )


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
