"""The shared score reduction (A5/A6): exact AUC, RMSE/R², degenerate
input, determinism and job count."""

from __future__ import annotations

import bisect
import random
import uuid

import pytest
from pyspark.ml.evaluation import RegressionEvaluator

from daxos_spark.ml.scoring import score_auc, score_groups, score_r2, score_rmse


def _frame(spark, rows):
    return spark.createDataFrame(rows, "label double, y_pred double")


def _mann_whitney(rows) -> float:
    """Pairwise AUC: each (positive, negative) pair scores 2 if the
    positive ranks higher and 1 on a tie, over 2·n_pos·n_neg."""
    neg = sorted(p for y, p in rows if y == 0.0)
    pos = [p for y, p in rows if y == 1.0]
    num = sum(bisect.bisect_left(neg, p) + bisect.bisect_right(neg, p) for p in pos)
    return float(num) / float(2 * len(pos) * len(neg))


@pytest.fixture(scope="module")
def distinct_scores(spark):
    """5,000 rows, every score distinct: MLlib's evaluator bins this ROC
    curve to 1000 points, the exact AUC does not."""
    rng = random.Random(13)
    rows = [(float(rng.random() < 0.3 + 0.4 * (i / 5000)), i / 5000 + rng.random()) for i in range(5000)]
    assert len({p for _, p in rows}) == 5000
    df = _frame(spark, rows).cache()
    df.count()
    yield rows, df
    df.unpersist()


def test_auc_equals_pure_python_mann_whitney(distinct_scores):
    rows, df = distinct_scores
    assert score_auc(df) == _mann_whitney(rows)


def test_auc_with_ties_equals_pure_python_mann_whitney(spark):
    rng = random.Random(5)
    rows = [(float(rng.random() < 0.5), float(rng.randrange(7))) for _ in range(400)]
    assert score_auc(_frame(spark, rows)) == _mann_whitney(rows)


def test_auc_is_bit_identical_across_partitionings(distinct_scores):
    _, df = distinct_scores
    assert score_auc(df.repartition(1)) == score_auc(df.repartition(8)) == score_auc(df)


def test_auc_drops_null_labels(spark):
    rows = [(0.0, 0.1), (1.0, 0.8), (0.0, 0.4), (1.0, 0.3), (1.0, 0.9)]
    noisy = rows + [(None, 0.95), (float("nan"), 0.05), (None, None)]
    assert score_auc(_frame(spark, noisy)) == score_auc(_frame(spark, rows)) == _mann_whitney(rows)
    g = score_groups(_frame(spark, noisy))
    assert (sum(g.n), sum(g.k), g.null_labels, g.bad_scores) == (5, 3, 3, 0)


@pytest.mark.parametrize(
    "rows, message",
    [
        ([], "AUC: no labelled rows to score"),
        ([(None, 0.2), (float("nan"), 0.4)], "AUC: no labelled rows to score"),
        ([(1.0, 0.2), (1.0, 0.4)], "AUC: all 2 labelled rows are one class"),
        ([(0.0, 0.2), (0.0, 0.4), (0.0, 0.3)], "AUC: all 3 labelled rows are one class"),
        ([(0.0, 0.2), (1.0, 0.4), (2.0, 0.3)], "AUC: 1 scored labels are not 0 or 1"),
        ([(0.0, 0.2), (1.0, 0.4), (1.0, float("nan"))], "AUC: 1 scored rows have a null or NaN score"),
        ([(0.0, 0.2), (1.0, 0.4), (0.0, None)], "AUC: 1 scored rows have a null or NaN score"),
    ],
)
def test_auc_rejects_degenerate_input(spark, rows, message):
    with pytest.raises(ValueError, match=message):
        score_auc(_frame(spark, rows))


@pytest.mark.parametrize("score", [score_rmse, score_r2])
def test_regression_scores_reject_empty_input(spark, score):
    with pytest.raises(ValueError, match="no labelled rows to score"):
        score(_frame(spark, [(None, 0.3)]))
    with pytest.raises(ValueError, match="no labelled rows to score"):
        score(_frame(spark, []))


def test_regression_scores_match_mllib_evaluator(spark):
    rng = random.Random(3)
    rows = [(rng.gauss(0, 1), rng.gauss(0, 1)) for _ in range(2000)]
    rows = [(y, 0.6 * y + 0.4 * p) for y, p in rows]
    df = _frame(spark, rows + [(None, 0.5), (float("nan"), 0.1)])
    clean = _frame(spark, rows)
    for metric, score in (("rmse", score_rmse), ("r2", score_r2)):
        oracle = RegressionEvaluator(labelCol="label", predictionCol="y_pred", metricName=metric).evaluate(clean)
        assert abs(score(df) - oracle) < 1e-9


def test_score_auc_is_one_grouped_aggregate(spark, distinct_scores):
    """A map stage and a result stage on a cached frame (MLlib's evaluator
    ran 4 jobs)."""
    _, df = distinct_scores
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        score_auc(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
