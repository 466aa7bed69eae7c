"""Hot-key cap, count + anti-join form (operators.neardup.cap_hot_keys):
drop semantics + no-op guarantee below the cap (keeps the sf0.01/0.1
oracle hashes)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from daxos_spark.operators.neardup import BUCKET_CAP, cap_hot_keys


def _sh(spark):
    rows = []
    # shingle "hot" appears in 4 docs, "warm" in 2, "rare" in 1
    for d in range(4):
        rows.append((d, "hot"))
    for d in range(2):
        rows.append((d, "warm"))
    rows.append((0, "rare"))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "s"]))


def test_cap_drops_only_above_threshold(spark):
    sh = _sh(spark)
    capped = cap_hot_keys(sh, cap=2)
    left = {(r["doc_id"], r["s"]) for r in capped.collect()}
    assert all(s != "hot" for _, s in left)
    assert (0, "warm") in left and (1, "warm") in left and (0, "rare") in left
    assert len(left) == 3


def test_cap_noop_below_threshold(spark):
    sh = _sh(spark)
    capped = cap_hot_keys(sh, cap=4)
    assert capped.count() == sh.count()


def test_production_cap_exceeds_test_corpus_size():
    # documents has ≤5000 rows at the largest driver SF (sf0.1), so no
    # shingle's DF can reach the cap → hashes vs the oracle unchanged.
    assert BUCKET_CAP > 5000
