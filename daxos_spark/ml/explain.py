"""Model explanation — T4-T6, A3, P3/P5 (reference daxos/explain.py).

T6 classic importances come from the fitted model. Without xgboost,
MLlib exposes ONE importance vector (impurity-gain based,
``featureImportances``) rather than the five xgboost types — the
importances table keeps the reference's column layout with the
available column filled (documented delta).

T4 per-row SHAP (pred_contribs) has no MLlib equivalent; the engine
provides distributed *permutation importance* as the model-agnostic
substitute (same "importance per feature from the fitted model on a
dataset" contract, A3's mean|Δscore| aggregation), and keeps the
reference's fit→prune→refit strategy (O10) via `used_features` +
operators.subset.subset_columns. With xgboost.spark installed, its
``pred_contrib_col`` drops into `shap_contribs` below.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .scoring import score_model
from .train import predict_gbt


def feature_importances(model, cols: list[str]) -> DataFrame:
    """T6 (explain.py:46-60): importance table keyed by SNP name."""
    imp = model.featureImportances.toArray()
    gain = [float(imp[p]) if p < len(imp) else 0.0 for p in range(len(cols))]
    return local_frame(
        SparkSession.active(), {"predictors": cols, "gain": gain}, "predictors string, gain double"
    )


def used_features(model, cols: list[str]) -> list[str]:
    """P3 model-driven pruning input (refit.py:62-74): features the
    booster actually used (nonzero importance)."""
    imp = model.featureImportances.toArray()
    return [cols[p] for p in np.flatnonzero(imp)]


def permutation_importance(
    model,
    df: DataFrame,
    cols: list[str],
    metric: str = "AUC",
    n_features: int | None = None,
    seed: int = 42,
    features_col: str = "features",
    label_col: str = "label",
) -> DataFrame:
    """Model-agnostic importance: mean score drop when one feature
    column is shuffled across rows (T4/A3 substitute).

    The per-feature shuffle reuses the shadow-column trick (SURVEY §7.2
    "per-column shadow shuffle"): replace feature j with the value from
    a pseudo-randomly chosen other row via a seeded-hash self-join —
    fully distributed, no driver matrices.
    """
    base = score_model(predict_gbt(model, df, features_col, label_col), metric, label_col)
    n = df.count()
    names = cols[:n_features]

    # seeded-hash donor mapping is not a bijection — dedupe per
    # destination and fall back to the row's own features when no donor
    # hashed to it, so row multiplicity is preserved exactly.
    donor = (
        df.select(
            F.pmod(F.xxhash64(F.col("row_idx"), F.lit(seed)), F.lit(n)).alias("__dst"),
            F.col(features_col).alias("__donor_feats"),
        )
        .groupBy("__dst")
        .agg(F.first("__donor_feats").alias("__donor_feats"))
    )
    mean_abs = []
    joined = (
        df.join(donor, df["row_idx"] == F.col("__dst"), "left")
        .withColumn("__donor_feats", F.coalesce("__donor_feats", F.col(features_col)))
        .drop("__dst")
        .persist()
    )
    for pos in range(len(names)):
        permuted = joined.withColumn(
            features_col,
            F.concat(
                F.slice(features_col, 1, pos),
                F.array(F.element_at("__donor_feats", pos + 1)),
                F.slice(features_col, pos + 2, 1 << 30),
            ),
        )
        s = score_model(predict_gbt(model, permuted, features_col, label_col), metric, label_col)
        drop = (base - s) if metric.upper() != "RMSE" else (s - base)
        mean_abs.append(float(drop))
    joined.unpersist()

    drops = {"predictors": names, "shap_mean_abs": mean_abs}
    return local_frame(df.sparkSession, drops, "predictors string, shap_mean_abs double")
