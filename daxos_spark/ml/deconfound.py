"""Covariate residualization ("deconfounding") — M1-M5 (reference
daxos/deconfound.py:8-102, scripts/adjust_hdf5_for_covariates.py).

The reference fits p independent per-column OLS regressions (215k
sklearn fits needing a shared-memory pool and a 300 GB / 10 h budget —
BASELINE.md). Closed form instead (SURVEY §2.6 M1):

    betas = (CᵀC)⁻¹ CᵀX        C: n×(k+1) design [1|covars], X: n×p

The label fit (M2) is the same regression on one more column, so
``fit_betas`` fits ``[label | features]`` in ONE distributed pass:
posexplode the columns and, per position, partially aggregate Σ zᵢ·v
and that position's own gramian Σ zᵢ·zⱼ over the rows where v is
present (the reference's per-column NaN drop, P7; map-side combine
makes the shuffle (p+1)×n_partitions rows, not n×p). The driver solves
the p+1 small (k+1)×(k+1) systems in one batched call. The residual
X − C·betas is a native ``transform`` against a one-row broadcast beta
frame — no Python in the row loop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.tables import covar_columns


def align_covars(fact: DataFrame, covars: DataFrame) -> DataFrame:
    """J2 ordered-alignment join (deconfound.py:19-26): the reference
    reorders the covariate table to match matrix row order; here
    alignment is an equi-join on IID and order is carried by row_idx."""
    cov_cols = covar_columns(covars)
    return fact.join(
        F.broadcast(covars.select(F.col("IID").alias("__iid"), *cov_cols)),
        fact["iid"] == F.col("__iid"),
        "inner",
    ).drop("__iid")


def standardize_covars(
    df: DataFrame, cov_cols: list[str], stats: dict[str, tuple[float, float]] | None = None
) -> tuple[DataFrame, dict[str, tuple[float, float]]]:
    """M5 covariate standardization (adjust_hdf5_for_covariates.py:25-31):
    z-score each covariate; test splits reuse the train stats."""
    if stats is None:
        row = df.agg(
            *[F.avg(c).alias(f"m_{c}") for c in cov_cols],
            *[F.stddev_pop(c).alias(f"s_{c}") for c in cov_cols],
        ).collect()[0]
        stats = {c: (float(row[f"m_{c}"]), float(row[f"s_{c}"]) or 1.0) for c in cov_cols}
    out = df
    for c in cov_cols:
        m, s = stats[c]
        out = out.withColumn(c, (F.col(c) - F.lit(m)) / F.lit(s))
    return out, stats


def fit_betas(
    fact: DataFrame, cov_cols: list[str], features_col: str = "features", label_col: str = "label"
) -> tuple[np.ndarray, np.ndarray]:
    """M1 + M2 closed-form betas on design [1 | covars]: the feature
    betas, shape (k+1, p), and the label betas, shape (k+1,). Each
    column is fitted on its own non-null, non-NaN rows."""
    k = len(cov_cols)
    zs = [F.lit(1.0), *[F.col(c).cast("double") for c in cov_cols]]
    # the label is position 0, so its position never depends on the
    # feature width; a null features array contributes no feature rows
    cols = F.concat(
        F.array(F.col(label_col).cast("double")),
        F.coalesce(F.col(features_col).cast("array<double>"), F.array().cast("array<double>")),
    )
    # NaN counts as missing; every position stays in the result so the
    # width is the widest array, and a column with no usable row gets
    # a NULL (→ NaN) system and so NaN betas
    exploded = fact.select(
        *[z.alias(f"__z{i}") for i, z in enumerate(zs)], F.posexplode(cols).alias("pos", "__v")
    ).withColumn("__v", F.when(~F.isnan("__v"), F.col("__v")))
    pairs = [(i, j) for i in range(k + 1) for j in range(i, k + 1)]
    present = F.col("__v").isNotNull()
    rows = (
        exploded.groupBy("pos")
        .agg(
            *[F.sum(F.col(f"__z{i}") * F.col("__v")).alias(f"c{i}") for i in range(k + 1)],
            *[F.sum(F.when(present, F.col(f"__z{i}") * F.col(f"__z{j}"))).alias(f"g_{i}_{j}") for i, j in pairs],
        )
        .collect()
    )
    ctc = np.zeros((len(rows), k + 1, k + 1))
    cty = np.zeros((len(rows), k + 1))
    for r in rows:
        for i, j in pairs:
            ctc[r["pos"], i, j] = ctc[r["pos"], j, i] = r[f"g_{i}_{j}"]
        cty[r["pos"]] = [r[f"c{i}"] for i in range(k + 1)]
    betas = np.linalg.solve(ctc, cty[..., None])[..., 0]  # (p+1, k+1)
    return betas[1:].T, betas[0]


def residualize_features(
    fact: DataFrame,
    cov_cols: list[str],
    betas: np.ndarray,
    features_col: str = "features",
    out_col: str = "features_adj",
) -> DataFrame:
    """M3 residual transform: features_adj = X − C·betas, element j
    being x_j − (b0[j] + Σ cᵢ·bᵢ[j]).

    The (k+1)×p beta matrix rides in a one-row frame broadcast to every
    task (the only driver-sized object, as in the reference's own design
    O10/M3 where betas are dense in memory, deconfound.py:87-102). A
    null dosage gives NaN.
    """
    bnames = [f"__b{i}" for i in range(len(betas))]
    bframe = local_frame(
        fact.sparkSession,
        {n: [b] for n, b in zip(bnames, np.asarray(betas, dtype=np.float64).tolist())},
        ", ".join(f"{n} array<double>" for n in bnames),
    )
    cs = [F.lit(1.0), *[F.col(c).cast("double") for c in cov_cols]]

    def adj(x, j):
        pred = cs[0] * F.col(bnames[0])[j]
        for c, n in zip(cs[1:], bnames[1:]):
            pred = pred + c * F.col(n)[j]
        return F.coalesce((x.cast("double") - pred).cast("float"), F.lit(float("nan")).cast("float"))

    return (
        fact.crossJoin(F.broadcast(bframe))
        .withColumn(out_col, F.transform(features_col, adj))
        .drop(*bnames)
    )


def residualize_label(
    fact: DataFrame,
    cov_cols: list[str],
    betas: np.ndarray,
    label_col: str = "label",
    out_col: str = "label_adj",
) -> DataFrame:
    """M4: label_adj = y − C·y_betas — pure column arithmetic."""
    pred = F.lit(float(betas[0]))
    for i, c in enumerate(cov_cols):
        pred = pred + F.lit(float(betas[i + 1])) * F.col(c).cast("double")
    return fact.withColumn(out_col, (F.col(label_col).cast("double") - pred).cast("float"))


def deconfound(
    fact: DataFrame,
    covars: DataFrame,
    stats: dict[str, tuple[float, float]] | None = None,
    feature_betas: np.ndarray | None = None,
    y_betas: np.ndarray | None = None,
):
    """Full M1-M5 pipeline (adjust_hdf5_for_covariates.py main flow):
    align → standardize → betas → residualize X and y.

    Returns (adjusted DataFrame with features_adj/label_adj, fitted
    scaler stats, feature betas, label betas). A test split must pass
    ALL of the train-fitted pieces back in (``stats``, ``feature_betas``,
    ``y_betas``) — refitting betas on the test rows would residualize
    test features into a different space than the model was trained in
    and leak test labels into the y-adjustment.
    """
    cov_cols = covar_columns(covars)
    joined, stats = standardize_covars(align_covars(fact, covars), cov_cols, stats)
    if (feature_betas is None) != (y_betas is None):
        raise ValueError("pass both feature_betas and y_betas (the train fit), or neither")
    if feature_betas is None:
        feature_betas, y_betas = fit_betas(joined, cov_cols)
    out = residualize_features(joined, cov_cols, feature_betas)
    out = residualize_label(out, cov_cols, y_betas)
    return out.drop(*cov_cols), stats, feature_betas, y_betas
