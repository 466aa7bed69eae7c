"""ld_clump vs a brute-force python greedy oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd

from daxos_spark.operators.clumping import ld_clump


def _oracle(df: pd.DataFrame, window: int) -> set[tuple]:
    out = set()
    for chrom, g in df.groupby("chrom"):
        g = g.sort_values(["pval", "pos"], kind="mergesort")
        taken: list[int] = []
        for _, r in g.iterrows():
            if all(abs(r.pos - t) > window for t in taken):
                taken.append(r.pos)
                out.add((chrom, r.pos))
    return out


def test_clump_matches_bruteforce(spark):
    rng = np.random.RandomState(5)
    n = 400
    pdf = pd.DataFrame(
        {
            "chrom": rng.randint(1, 5, n),
            "pos": rng.randint(0, 10_000, n).astype("int64"),
            "pval": rng.uniform(size=n).round(6),
            "snp_id": np.arange(n),
        }
    ).drop_duplicates(["chrom", "pos"])
    window = 500
    got = {
        (r["chrom"], r["pos"])
        for r in ld_clump(spark.createDataFrame(pdf), window=window).collect()
    }
    want = _oracle(pdf, window)
    assert got == want
    assert 0 < len(got) < len(pdf)


def test_clump_keeps_best_and_excludes_window(spark):
    pdf = pd.DataFrame(
        {
            "chrom": [1, 1, 1, 2],
            "pos": [100, 300, 1000, 100],
            "pval": [0.5, 0.001, 0.2, 0.9],
            "snp_id": [0, 1, 2, 3],
        }
    )
    got = ld_clump(spark.createDataFrame(pdf), window=250).orderBy("chrom", "pos").collect()
    # chrom 1: pos 300 (best p) kills pos 100 (within 250); pos 1000 survives
    assert [(r["chrom"], r["pos"]) for r in got] == [(1, 300), (1, 1000), (2, 100)]


def test_r2_clump_matches_bruteforce(spark):
    """ld_clump_r2 == greedy with the exact numpy corr² mask."""
    from daxos_spark.operators.clumping import ld_clump_r2

    rng = np.random.RandomState(11)
    n, p = 120, 24
    # block-correlated dosages: SNP j correlates with its block neighbors
    base = rng.binomial(2, 0.4, size=(n, p // 4)).astype(float)
    x = np.repeat(base, 4, axis=1) + rng.normal(0, 0.6, size=(n, p))
    stats = pd.DataFrame(
        {
            "chrom": np.repeat([1, 2], p // 2),
            "pos": np.concatenate([np.arange(p // 2), np.arange(p // 2)]) * 300,
            "pval": rng.uniform(size=p).round(6),
            "snp": [f"rs{j}" for j in range(p)],
        }
    )
    window, thr = 700, 0.5

    corr = np.corrcoef(x, rowvar=False) ** 2
    want = set()
    for chrom in (1, 2):
        g = stats[stats.chrom == chrom].sort_values(["pval", "pos"], kind="mergesort")
        taken: list[int] = []
        for _, r in g.iterrows():
            j = int(r.snp[2:])
            if all(
                not (abs(r.pos - stats.pos[t]) <= window and corr[j, t] > thr) for t in taken
            ):
                taken.append(j)
                want.add(r.snp)

    matrix = spark.createDataFrame(
        pd.DataFrame({"features": [row.tolist() for row in x]}),
        schema="features array<double>",
    ).repartition(4)
    cols = [f"rs{j}" for j in range(p)]
    got = {
        r["snp"]
        for r in ld_clump_r2(
            spark.createDataFrame(stats), matrix, cols, r2_threshold=thr, window=window
        ).collect()
    }
    assert got == want


def test_ld_clump_r2_query_eliminates_and_matches_bruteforce(spark):
    """The registered query's selection == a numpy brute-force replay
    of window+r2 greedy on the same deterministic dosage matrix."""
    import numpy as np

    from daxos_spark.plans.mlpipe import (
        _CLR2_THR,
        _CLR2_WINDOW,
        ml_ld_clump_r2,
    )

    rows = {r.chrom: r for r in ml_ld_clump_r2(spark, "/root/testdata/sf0.001").collect()}

    import pandas as pd

    emb = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    ids = emb["vec_id"].to_numpy()
    X = np.stack([(ids + 7 * p) % 3 for p in range(64)], axis=1).astype(float)
    for chrom in range(4):
        slots = [p for p in range(64) if p % 4 == chrom]
        bp = {p: (p * 9973) % 500000 for p in slots}
        pv = {p: (p * 37) % 64 for p in slots}
        order = sorted(slots, key=lambda p: (pv[p], bp[p], p))
        sub = X[:, order]
        r2 = np.corrcoef(sub.T) ** 2
        alive = np.ones(len(order), bool)
        picked = []
        for i in range(len(order)):
            if not alive[i]:
                continue
            picked.append(order[i])
            for j in range(len(order)):
                if alive[j] and abs(bp[order[j]] - bp[order[i]]) <= _CLR2_WINDOW and r2[i, j] > _CLR2_THR:
                    alive[j] = False
            alive[i] = False
        r = rows[chrom]
        assert r.n_index_snps == len(picked)
        assert r.min_slot == min(picked)
        assert r.bp_sum == sum(bp[p] for p in picked)
        # r2 elimination is non-vacuous: some SNPs were clumped away
        assert len(picked) < len(slots)
