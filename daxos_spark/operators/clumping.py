"""Distance-based greedy clumping — the reference's LD clumping shape
(Q2, reference workflows/preprocessing/Snakefile:106-155: plink
``--clump`` drops SNPs within ``clump_kb`` of a better-p index SNP).

The reference shells out to plink with an LD (r²) panel; no genotype
panel ships here, so this implements the distance-window variant of
the same greedy algorithm (p-value-ordered index selection, window
exclusion) — the r² predicate would slot into ``_greedy`` as an extra
mask term against a broadcast LD matrix.

Distributed shape: ``groupBy(chrom).applyInPandas`` — chromosomes are
independent, each group's sumstats (≲ few million rows for real GWAS)
fits comfortably in one Arrow batch, and the greedy scan inside is
O(n log n) numpy. This is the honest at-scale layout: the sequential
dependency is intrinsic to greedy selection, so parallelism across
chromosomes is exactly the parallelism the problem admits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def ld_clump(
    sumstats: DataFrame,
    chrom_col: str = "chrom",
    pos_col: str = "pos",
    p_col: str = "pval",
    window: int = 250_000,
) -> DataFrame:
    """Greedy p-value-ordered clumping per chromosome.

    Returns the index SNPs: rows such that no previously-selected
    (better-p, tie-broken by position) row on the same chromosome lies
    within ``window`` of them. Output schema = input schema.
    """
    import numpy as np
    import pandas as pd

    schema: StructType = sumstats.schema

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([p_col, pos_col], kind="mergesort").reset_index(drop=True)
        pos = pdf[pos_col].to_numpy()
        alive = np.ones(len(pdf), dtype=bool)
        picked = np.zeros(len(pdf), dtype=bool)
        for i in range(len(pdf)):
            if not alive[i]:
                continue
            picked[i] = True
            alive &= np.abs(pos - pos[i]) > window
            alive[i] = False
        return pdf[picked]

    return sumstats.groupBy(chrom_col).applyInPandas(_greedy, schema)


def snp_correlation_matrix(
    matrix: DataFrame, col_indices: list[int], features_col: str = "features"
):
    """Pearson correlation matrix between the given feature-array
    positions, computed in ONE distributed pass.

    Per Arrow batch we accumulate the partial Gram matrix VᵀV plus the
    column sums and row count; the driver reduces the per-partition
    partials (p_c×p_c doubles — for clumping p_c is the SNP count of one
    chromosome's candidate set, ≲ tens of thousands for real GWAS, so
    the driver-side object stays small while the n-dimension, the 100 TB
    axis, never leaves the executors). Same layout as the closed-form
    deconfound betas (ml/deconfound.py compute_beta_matrix).
    """
    import numpy as np
    import pandas as pd

    idx = list(col_indices)
    p = len(idx)

    def _partial(batches):
        gram = np.zeros((p, p))
        sums = np.zeros(p)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[features_col].to_numpy())[:, idx].astype("float64")
            gram += v.T @ v
            sums += v.sum(axis=0)
            n += len(v)
        yield pd.DataFrame({"gram": [gram.ravel().tolist()], "sums": [sums.tolist()], "n": [n]})

    parts = matrix.select(features_col).mapInPandas(
        _partial, schema="gram array<double>, sums array<double>, n long"
    ).collect()
    gram = np.zeros((p, p))
    sums = np.zeros(p)
    n = 0
    for r in parts:
        gram += np.asarray(r["gram"]).reshape(p, p)
        sums += np.asarray(r["sums"])
        n += r["n"]
    cov = gram / n - np.outer(sums / n, sums / n)
    sd = np.sqrt(np.clip(np.diag(cov), 1e-300, None))
    return cov / np.outer(sd, sd)


def ld_clump_r2(
    sumstats: DataFrame,
    matrix: DataFrame,
    cols: list[str],
    r2_threshold: float = 0.75,
    window: int = 250_000,
    chrom_col: str = "chrom",
    pos_col: str = "pos",
    p_col: str = "pval",
    snp_col: str = "snp",
    features_col: str = "features",
) -> DataFrame:
    """Q2 full semantics — plink ``--clump`` (reference
    workflows/preprocessing/Snakefile:106-155, r²=0.75 / 1000 kb per
    workflows/preprocessing/config.yaml:12-21): greedy p-value-ordered
    index-SNP selection where a candidate is dropped only if it lies
    within ``window`` of a selected index SNP AND its genotype r²
    with that index SNP exceeds ``r2_threshold``.

    ``matrix`` is the engine's fact layout (``features array<float>``),
    ``cols`` the SNP names of its array slots (``MatrixDataset.cols``:
    ``cols[i]`` names ``features[i]``). r² comes from
    ``snp_correlation_matrix`` — one distributed Gram pass per
    chromosome; the greedy scan itself is the intrinsically-sequential
    part and runs on the driver over p_c-length vectors (same split as
    the reference, which hands the whole problem to single-node plink).
    """
    import numpy as np
    import pandas as pd

    stats = sumstats.toPandas()
    slot_of = {snp: p for p, snp in enumerate(cols)}
    keep_frames = []
    for chrom, g in stats.groupby(chrom_col):
        g = g.sort_values([p_col, pos_col], kind="mergesort").reset_index(drop=True)
        slots = [slot_of[s] for s in g[snp_col]]
        r2 = snp_correlation_matrix(matrix, slots, features_col) ** 2
        pos = g[pos_col].to_numpy()
        alive = np.ones(len(g), dtype=bool)
        picked = np.zeros(len(g), dtype=bool)
        for i in range(len(g)):
            if not alive[i]:
                continue
            picked[i] = True
            alive &= ~((np.abs(pos - pos[i]) <= window) & (r2[i] > r2_threshold))
            alive[i] = False
        keep_frames.append(g[picked])
    kept = pd.concat(keep_frames) if keep_frames else stats.iloc[:0]
    spark = sumstats.sparkSession
    return spark.createDataFrame(kept, schema=sumstats.schema)
