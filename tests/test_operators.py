"""Operators: subsetting, splits, indexing (reference
tests/test_read.py + test_crossvalidate.py split coverage)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def test_subset_rows_by_ids(spark, matrix_ds):
    from daxos_spark.operators.subset import subset_rows_by_ids

    ids = spark.createDataFrame([(f"I{i}",) for i in range(0, 50)], "IID string")
    kept = subset_rows_by_ids(matrix_ds.fact, ids)
    assert kept.count() == 50
    assert {r["iid"] for r in kept.select("iid").collect()} == {f"I{i}" for i in range(50)}
    # anti-join complement (J4), disjoint + exhaustive (split_ids.py:53-55)
    dropped = subset_rows_by_ids(matrix_ds.fact, ids, keep=False)
    assert dropped.count() == matrix_ds.fact.count() - 50


def test_subset_columns_both_strategies(spark, matrix_ds, plink_raw_path):
    import daxos_spark.operators.subset as S

    _, X, y, snps = plink_raw_path
    want = [snps[1], snps[4], snps[7]]
    sub = S.subset_columns(matrix_ds, want)
    assert sub.cols == want
    row = sub.fact.filter(F.col("iid") == "I3").collect()[0]
    assert row["features"] == [float(X[3, 1]), float(X[3, 4]), float(X[3, 7])]

    # prefix matching (read.py:210-215): rs-id without allele suffix
    pfx = [s.split("_")[0] for s in want]
    sub2 = S.subset_columns(matrix_ds, pfx, match_prefix=True)
    assert len(sub2.cols) == 3

    # explode-join strategy must agree with expression gather
    old = S._EXPR_GATHER_MAX
    S._EXPR_GATHER_MAX = 0
    try:
        sub3 = S.subset_columns(matrix_ds, want)
        a = sub.fact.orderBy("row_idx").select("features").collect()
        b = sub3.fact.orderBy("row_idx").select("features").collect()
        assert a == b
    finally:
        S._EXPR_GATHER_MAX = old


def test_fold_column_chunk_aligned(matrix_ds):
    from daxos_spark.operators.splits import with_fold_column

    folded = with_fold_column(matrix_ds.fact, n_folds=5, row_chunks=10)
    rows = folded.select("row_idx", "fold").collect()
    for r in rows:  # exact chunk math (test_crossvalidate.py:94-99 style)
        assert r["fold"] == (r["row_idx"] // 10) % 5
    sizes = [
        r["count"] for r in folded.groupBy("fold").count().orderBy("fold").collect()
    ]
    assert sum(sizes) == 240 and max(sizes) - min(sizes) <= 10


def test_chunked_train_test_split(matrix_ds):
    from daxos_spark.operators.splits import chunked_train_test_split

    tr, te = chunked_train_test_split(matrix_ds.fact, train_size=0.8, row_chunks=10, seed=1)
    ntr, nte = tr.count(), te.count()
    assert ntr + nte == 240
    assert 0.6 * 240 < ntr < 0.95 * 240  # 80/20-ish, whole chunks
    # chunk alignment: no chunk straddles the split
    tr_chunks = {r[0] // 10 for r in tr.select("row_idx").collect()}
    te_chunks = {r[0] // 10 for r in te.select("row_idx").collect()}
    assert not (tr_chunks & te_chunks)
    # determinism
    tr2, _ = chunked_train_test_split(matrix_ds.fact, train_size=0.8, row_chunks=10, seed=1)
    assert tr2.count() == ntr


def test_seeded_id_split_disjoint(matrix_ds):
    from daxos_spark.operators.splits import seeded_id_split

    tr, te = seeded_id_split(matrix_ds.fact, train_frac=0.75, seed=3)
    a = {r["iid"] for r in tr.select("iid").collect()}
    b = {r["iid"] for r in te.select("iid").collect()}
    assert not (a & b) and len(a | b) == 240


def test_head_subsample(matrix_ds):
    from daxos_spark.operators.subset import head_subsample

    sub = head_subsample(matrix_ds.fact, 60)
    assert sub.count() == 60
    assert max(r["row_idx"] for r in sub.select("row_idx").collect()) == 59


def test_with_row_idx_deterministic(spark):
    from daxos_spark.operators.indexing import shuffled_with_row_idx

    df = spark.range(500).withColumnRenamed("id", "k")
    a = shuffled_with_row_idx(df, seed=9).select("k", "row_idx").collect()
    b = shuffled_with_row_idx(df, seed=9).select("k", "row_idx").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    idx = sorted(r["row_idx"] for r in a)
    assert idx == list(range(500))


def test_salted_join_equals_plain_join(spark):
    import numpy as np
    import pandas as pd

    from daxos_spark.operators.skew import salted_join

    rng = np.random.RandomState(9)
    # heavy skew: 80% of left rows share one key
    left = pd.DataFrame(
        {
            "k": np.where(rng.uniform(size=500) < 0.8, 7, rng.randint(0, 20, 500)),
            "lv": np.arange(500),
        }
    )
    right = pd.DataFrame({"k": np.arange(20), "rv": np.arange(20) * 100})
    sl, sr = spark.createDataFrame(left), spark.createDataFrame(right)
    got = sorted(
        (r["k"], r["lv"], r["rv"]) for r in salted_join(sl, sr, ["k"], n_salts=4).collect()
    )
    want = sorted((r["k"], r["lv"], r["rv"]) for r in sl.join(sr, ["k"]).collect())
    assert got == want

    # left join keeps unmatched left rows exactly once
    right_partial = spark.createDataFrame(right[right.k < 10])
    got_l = sorted(
        (r["k"], r["lv"], r["rv"])
        for r in salted_join(sl, right_partial, ["k"], n_salts=4, how="left").collect()
    )
    want_l = sorted(
        (r["k"], r["lv"], r["rv"]) for r in sl.join(right_partial, ["k"], "left").collect()
    )
    assert got_l == want_l


def test_connected_components(spark):
    import pandas as pd

    from daxos_spark.operators.components import connected_components

    # two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    edges = pd.DataFrame(
        {"a": [1, 2, 3, 10, 20, 21], "b": [2, 3, 4, 11, 21, 22]}
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(spark.createDataFrame(edges)).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_raises_on_nonconvergence(spark):
    import pandas as pd
    import pytest as pt

    from daxos_spark.operators.components import connected_components

    chain = pd.DataFrame({"a": list(range(0, 12)), "b": list(range(1, 13))})
    with pt.raises(RuntimeError, match="did not converge"):
        connected_components(spark.createDataFrame(chain), max_iter=2).collect()
