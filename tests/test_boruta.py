"""Boruta feature selection + scipy-free stats (reference
tests/test_boruta.py scope)."""

from __future__ import annotations

import math

import numpy as np

from daxos_spark.ml.boruta import binom_cdf, binom_sf, fdr_bh


def test_binom_exact_values():
    # oracle: exact hand-computed binomials
    assert abs(binom_sf(7, 10, 0.5) - (math.comb(10, 8) + math.comb(10, 9) + 1) / 1024) < 1e-12
    assert abs(binom_cdf(2, 10, 0.5) - (1 + 10 + 45) / 1024) < 1e-12
    assert abs(binom_sf(-1, 5, 0.5) - 1.0) < 1e-12
    assert abs(binom_cdf(5, 5, 0.5) - 1.0) < 1e-12


def test_fdr_bh_known_example():
    p = np.array([0.01, 0.04, 0.03, 0.005])
    adj = fdr_bh(p)
    # classic BH: sorted [.005,.01,.03,.04] → n/rank multipliers [4,2,4/3,1]
    expected_sorted = [0.02, 0.02, 0.04, 0.04]
    np.testing.assert_allclose(sorted(adj), expected_sorted, rtol=1e-12)
    assert np.all(adj <= 1.0)


def test_shadow_features_double_width(matrix_ds):
    from daxos_spark.ml.boruta import add_shadow_features

    shadowed = add_shadow_features(matrix_ds.fact)
    w = shadowed.select((2 * 12 == __import__("pyspark").sql.functions.size("features")).alias("ok"))
    assert all(r["ok"] for r in w.collect())
    # shadow columns preserve per-column value multisets
    rows = shadowed.orderBy("row_idx").collect()
    X = np.array([r["features"] for r in rows])
    for j in range(12):
        assert sorted(X[:, j]) == sorted(X[:, 12 + j])


def test_boruta_accepts_signal_rejects_noise(matrix_ds):
    from daxos_spark.ml.boruta import boruta
    from daxos_spark.ml.train import GBTParams

    names = matrix_ds.cols
    res = boruta(
        matrix_ds.fact,
        names,
        GBTParams(eta=0.3, max_depth=3, n_boost_round=5, seed=0),
        max_iter=8,
        percentile=90.0,
    )
    signal = set(names[10:])
    assert signal <= set(res.accepted)
    # most pure-noise SNPs must not be accepted
    assert len(set(res.accepted) - signal) <= 2
    assert res.importance_history.shape == (8, 12)
