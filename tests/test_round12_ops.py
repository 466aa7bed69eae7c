"""Round-12 optimization-round internals: memory-safe bucket caps
(pre-count before collect_list) and oversized-bucket pair spreading
(operators.neardup.bucket_pairs segment units) — the five dedup bucket
lanes must emit the identical pair multisets through both enumeration
branches."""

from __future__ import annotations

import pyspark.sql.functions as F


def _naive_pairs(rows):
    """Reference i<j pair multiset over sorted unique member arrays."""
    out = []
    for ds in rows:
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                out.append((ds[i], ds[j]))
    return sorted(out)


def test_pair_enumeration_small_and_big_branches(spark):
    from daxos_spark.operators.neardup import bucket_pairs

    # bucket sizes straddle the seg threshold (seg=4 forces the
    # repartitioned unit-grid branch): 3 (small), 4 (boundary-small),
    # 5, 11, 17 (big: 2, 3 and 5 segments incl. ragged tails)
    rows = [
        [3, 1, 2],
        [10, 11, 12, 13],
        [20, 24, 21, 23, 22],
        list(range(100, 111)),
        list(range(200, 234, 2)),
    ]
    bkt = spark.createDataFrame(
        [(F_row,) for F_row in [sorted(r) for r in rows]], "ds array<bigint>"
    )
    got = sorted(
        (r["pa"], r["pb"]) for r in bucket_pairs(bkt, seg=4).collect()
    )
    assert got == _naive_pairs(rows)
    # multiset property: a duplicated bucket duplicates its pairs
    bkt2 = bkt.unionByName(bkt.filter(F.size("ds") == 3))
    got2 = sorted(
        (r["pa"], r["pb"]) for r in bucket_pairs(bkt2, seg=4).collect()
    )
    assert len(got2) == len(got) + 3  # the 3-member bucket's 3 pairs


def test_pair_enumeration_struct_elements(spark):
    # the simhash lane enumerates struct(doc_id, sh) members
    from daxos_spark.operators.neardup import bucket_pairs

    rows = [[(i, 1000 + i) for i in range(9)]]
    bkt = spark.createDataFrame(
        [(rows[0],)], "ds array<struct<doc_id bigint, sh bigint>>"
    )
    got = sorted(
        (r["pa"]["doc_id"], r["pb"]["doc_id"])
        for r in bucket_pairs(bkt, seg=3).collect()
    )
    assert got == _naive_pairs([[i for i in range(9)]])


def test_window_cap_prefilters_before_collect(spark):
    # the over-cap key must be pruned upstream of the collect_list
    # aggregate (plan-level guarantee of the §5 memory-safety fix),
    # and the windowed count must see the GLOBAL per-key total even
    # when the collect groups by (source, key)
    from daxos_spark.operators.neardup import capped_stream

    sh = spark.createDataFrame(
        # "hot" spans two sources (3 + 2 = 5 rows > cap 4): the global
        # cap must drop it even though each per-source bucket is small
        [(d, "w", "hot") for d in range(3)]
        + [(d, "x", "hot") for d in range(3, 5)]
        + [(9, "w", "cold")],
        "doc_id bigint, source string, s string",
    )
    capped = capped_stream(sh, 4)
    bkt = capped.groupBy("source", "s").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    rows = {r["s"]: r["ds"] for r in bkt.collect()}
    assert rows == {"cold": [9]}
    # AQE prints Final and Initial sections — inspect the final one
    plan = (
        bkt._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    # the windowed count prefilter sits below the collect aggregate,
    # and adds no second exchange for the (source, s) grouping
    assert "collect_list" in plan and "Window" in plan
    assert plan.index("collect_list") < plan.index("Window")
    assert plan.count("Exchange hashpartitioning") == 1


def test_count_anti_cap_unchanged(spark):
    # the count+anti-join form still guards the self-join lanes
    from daxos_spark.operators.neardup import cap_hot_keys

    sh = spark.createDataFrame(
        [(d, "w", "hot") for d in range(5)] + [(9, "w", "cold")],
        "doc_id bigint, source string, s string",
    )
    got = {(r["doc_id"], r["s"]) for r in cap_hot_keys(sh, 4).collect()}
    assert got == {(9, "cold")}
