"""Model scoring — A5/A6 (reference daxos/crossvalidate.py:130-145
``score_model``, daxos/scoring.py:94-135 adjusted AUC).

Every binary score reads one reduction, ``score_groups``: a
``groupBy(score)`` aggregate to a (score, rows, positives) table of the
labelled rows plus bad-row counts, collected (a row per distinct score,
never more than the rows scored; the reference scores on its driver).
``score_auc`` is the exact tie-averaged Mann-Whitney AUC on it;
``fit_platt`` (``scale.py``) fits on it. RMSE/R² are one native
aggregate. Null/NaN labels are dropped (P6, crossvalidate.py:133-138);
no labelled rows, a one-class AUC, a label other than 0/1 and a null/NaN
score raise ``ValueError``. On 3000 uncached GBT predictions (4 vCPU)
MLlib's ``BinaryClassificationEvaluator`` (4 jobs, 0.18-0.33 s; bins the
ROC past 1000 scores) and a Spark window over the grouped table (3 jobs,
0.25-0.40 s) lost to this reduction (2 jobs, 0.15-0.22 s).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ScoreGroups:
    """Rows ``n``, positives ``k`` per ascending distinct score ``x``."""

    x: list[float]
    n: list[int]
    k: list[int]
    null_labels: int
    other_labels: int
    bad_scores: int

    def check_binary(self, what: str, noun: str) -> None:
        if self.other_labels:
            raise ValueError(f"{what}: {self.other_labels} {noun} labels are not 0 or 1")
        if self.bad_scores:
            raise ValueError(f"{what}: {self.bad_scores} {noun} rows have a null or NaN score")


def _labelled(y):
    return y.isNotNull() & ~F.isnan(y)


def score_groups(df: DataFrame, label_col: str = "label", pred_col: str = "y_pred") -> ScoreGroups:
    y = F.col(label_col).cast("double")
    rows = df.groupBy(F.col(pred_col).cast("double").alias("x")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_if(_labelled(y)).alias("n"),
        F.count_if(y == 1.0).alias("k"),
        F.count_if(_labelled(y) & ~y.isin(0.0, 1.0)).alias("n_other"),
    ).collect()
    bad = [r["x"] is None or math.isnan(r["x"]) for r in rows]
    good = sorted((r for r, b in zip(rows, bad) if r["n"] and not b), key=lambda r: r["x"])
    return ScoreGroups(
        *([r[c] for r in good] for c in ("x", "n", "k")),
        null_labels=sum(r["rows"] - r["n"] for r in rows),
        other_labels=sum(r["n_other"] for r in rows),
        bad_scores=sum(r["n"] for r, b in zip(rows, bad) if b),
    )


def auc_of(g: ScoreGroups) -> float:
    """Exact ROC-AUC: Mann-Whitney with tie-averaged ranks (the trapezoid
    under the exact ROC curve), integers until one division:
    2·R_pos = Σ k_s·(2·rows_below_s + n_s + 1),
    AUC = (2·R_pos − n_pos·(n_pos+1)) / (2·n_pos·n_neg)."""
    g.check_binary("AUC", "scored")
    n_pos, n_neg = sum(g.k), sum(g.n) - sum(g.k)
    if not n_pos + n_neg:
        raise ValueError("AUC: no labelled rows to score")
    if not n_pos or not n_neg:
        raise ValueError(f"AUC: all {n_pos + n_neg} labelled rows are one class")
    r2, below = 0, 0
    for n_s, k_s in zip(g.n, g.k):
        r2 += k_s * (2 * below + n_s + 1)
        below += n_s
    return float(r2 - n_pos * (n_pos + 1)) / float(2 * n_pos * n_neg)


def score_auc(df: DataFrame, label_col: str = "label", pred_col: str = "y_pred") -> float:
    return auc_of(score_groups(df, label_col, pred_col))


def _regression_sums(df: DataFrame, label_col: str, pred_col: str):
    """One aggregate over the labelled rows: n, Σ(y−p)², var_pop(y)."""
    y, p = F.col(label_col).cast("double"), F.col(pred_col).cast("double")
    s = df.filter(_labelled(y)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((y - p) * (y - p)).alias("sse"),
        F.var_pop(y).alias("var"),
        F.count_if(~_labelled(p)).alias("n_bad"),
    ).collect()[0]
    if not s["n"]:
        raise ValueError("regression score: no labelled rows to score")
    if s["n_bad"]:
        raise ValueError(f"regression score: {s['n_bad']} rows have a null or NaN prediction")
    return s


def score_rmse(df: DataFrame, label_col: str = "label", pred_col: str = "y_pred") -> float:
    s = _regression_sums(df, label_col, pred_col)
    return math.sqrt(s["sse"] / s["n"])


def score_r2(df: DataFrame, label_col: str = "label", pred_col: str = "y_pred") -> float:
    s = _regression_sums(df, label_col, pred_col)
    if not s["var"] > 0.0:
        raise ValueError(f"R²: all {s['n']} labelled rows have the same label")
    return 1.0 - s["sse"] / (s["n"] * s["var"])


def score_model(df: DataFrame, metric: str, label_col: str = "label", pred_col: str = "y_pred") -> float:
    """Reference-vocabulary dispatch ('AUC' | 'RMSE' | 'R2')."""
    metric = metric.upper()
    if metric == "AUC":
        return score_auc(df, label_col, pred_col)
    if metric == "RMSE":
        return score_rmse(df, label_col, pred_col)
    if metric == "R2":
        return score_r2(df, label_col, pred_col)
    raise ValueError(f"unknown metric {metric!r}")
