"""Shared fixtures: local SparkSession + seeded synthetic datasets
mirroring FIXTURES.md (PLINK .raw text, fact table, covariates).

Data generators are original (FIXTURES.md schemas, not reference code):
dosages {0,1,2} with a planted signal so model tests can assert signal
recovery, reference-style (SURVEY §5.3).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from daxos_spark.session import get_spark

    s = get_spark("daxos-tests", master="local[4]", shuffle_partitions=4)
    yield s


def mini_sf_dir(spark, tmp_path, docs_rows, base_dir):
    """A tmp sf_dir whose documents table is the given (doc_id, source,
    text) rows and whose other tables are symlinks into ``base_dir``
    (load_tables opens a table on its first lookup, but a query or its
    oracle may read any of them)."""
    import pandas as pd
    import pyspark.sql.functions as F

    from daxos_spark.catalog import TABLES

    d = tmp_path / "sf"
    d.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{base_dir}/{t}.parquet", d / f"{t}.parquet")
    spark.createDataFrame(
        pd.DataFrame(docs_rows, columns=["doc_id", "source", "text"])
    ).withColumn("n_chars", F.length("text")).withColumn(
        "lang", F.lit("en")
    ).write.parquet(str(d / "documents.parquet"))
    return str(d)


N_ROWS, N_SNPS = 240, 12
SIGNAL_SNPS = (10, 11)  # last two carry signal (FIXTURES.md §2 style)


def _gen_matrix(seed: int = 7):
    rng = np.random.RandomState(seed)
    X = rng.binomial(2, 0.3, size=(N_ROWS, N_SNPS)).astype(np.float32)
    logit = -0.8 + 1.6 * X[:, SIGNAL_SNPS[0]] + 2.2 * X[:, SIGNAL_SNPS[1]]
    y = (rng.uniform(size=N_ROWS) < 1 / (1 + np.exp(-logit))).astype(int)
    return X, y


@pytest.fixture(scope="session")
def plink_raw_path(tmp_path_factory):
    """Space-delimited PLINK .raw file (FIXTURES.md §1)."""
    X, y = _gen_matrix()
    snps = [f"rs{1000+j}_{a}" for j, a in zip(range(N_SNPS), "ACGT" * 3)]
    path = tmp_path_factory.mktemp("plink") / "dummy.raw"
    with open(path, "w") as f:
        f.write("FID IID PAT MAT SEX PHENOTYPE " + " ".join(snps) + "\n")
        for i in range(N_ROWS):
            fam = f"F{i} I{i} 0 0 {1 + i % 2} {y[i] + 1}"
            f.write(fam + " " + " ".join(str(int(v)) for v in X[i]) + "\n")
    return str(path), X, y, snps


@pytest.fixture(scope="session")
def matrix_ds(spark, plink_raw_path):
    """Ingested fact-table dataset (shuffled at rest, seed 42)."""
    from daxos_spark.sources.plink import read_plink_raw

    path, X, y, snps = plink_raw_path
    ds = read_plink_raw(spark, path, shuffle_seed=42)
    ds.fact = ds.fact.persist()
    ds.fact.count()
    return ds


@pytest.fixture(scope="session")
def covars_path(tmp_path_factory):
    """Tab-delimited covariate table (FIXTURES.md §3): 2 normal + 1
    Bernoulli covariate, keyed to the matrix IIDs."""
    rng = np.random.RandomState(11)
    path = tmp_path_factory.mktemp("cov") / "covars.tsv"
    with open(path, "w") as f:
        f.write("FID\tIID\tCOV1\tCOV2\tCOV3\n")
        for i in range(N_ROWS):
            f.write(
                f"F{i}\tI{i}\t{rng.normal(0, 0.1):.6f}\t{rng.normal(0, 0.1):.6f}\t{rng.binomial(1, 0.4)}\n"
            )
    return str(path)
