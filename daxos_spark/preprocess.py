"""End-to-end preprocessing pipeline — the reference's entire Snakemake
DAG (SURVEY §3.4: QC → recode → shuffle → container → split → covariate
adjustment, workflows/preprocessing/Snakefile:15-430) as ONE staged
Spark application with bronze/silver/gold parquet layers.

Where the reference runs 8 SLURM jobs writing intermediate files, this
is a single lazy plan per stage with explicit materialization at each
layer boundary:

  bronze: ingested fact table (S1-S4/S17, seeded global shuffle X4,
          row_idx assigned — the at-rest layout every downstream
          chunk-aligned split relies on, O2)
  silver: train/test split by seeded ID hash (X3) — two disjoint tables
  gold:   covariate-adjusted twins (M1-M5; scaler fitted on train and
          REUSED on test per the reference's contract)

Each stage reads the previous layer's parquet, so reruns are
incremental and any layer is queryable on its own — the lakehouse
shape of the reference's file-per-rule DAG.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .ml.deconfound import deconfound
from .operators.splits import seeded_id_split
from .sources.plink import read_matrix, read_plink_raw, write_matrix
from .sources.tables import read_covars


@dataclass
class PreprocessResult:
    bronze: str
    train_gold: str
    test_gold: str
    n_total: int
    n_train: int
    n_test: int
    n_features: int


def run_preprocessing(
    spark: SparkSession,
    raw_path: str,
    covars_path: str,
    out_dir: str,
    train_frac: float = 0.8,
    seed: int = 42,
) -> PreprocessResult:
    """PLINK text → adjusted train/test gold tables. See module doc."""
    # ---- bronze: ingest + seeded shuffle-at-rest
    ds = read_plink_raw(spark, raw_path, shuffle_seed=seed)
    bronze = f"{out_dir}/bronze"
    fact, n_total = _counted(ds.fact)
    write_matrix(replace(ds, fact=fact), bronze)
    ds = read_matrix(spark, bronze)  # re-read: downstream plans scan parquet

    # ---- silver: disjoint seeded ID split
    train, test = seeded_id_split(ds.fact, train_frac=train_frac, seed=seed)

    # ---- gold: covariate adjustment — scaler AND betas fitted on
    # train, reused on test (refitting on test would residualize into a
    # different feature space and leak test labels into y-adjustment)
    covars = read_covars(spark, covars_path)
    train_adj, stats, fb, yb = deconfound(train, covars)
    test_adj, _, _, _ = deconfound(test, covars, stats=stats, feature_betas=fb, y_betas=yb)

    train_gold = f"{out_dir}/gold_train"
    test_gold = f"{out_dir}/gold_test"
    train_adj, n_train = _counted(train_adj)
    test_adj, n_test = _counted(test_adj)
    write_matrix(replace(ds, fact=train_adj), train_gold)
    write_matrix(replace(ds, fact=test_adj), test_gold)

    return PreprocessResult(
        bronze=bronze,
        train_gold=train_gold,
        test_gold=test_gold,
        n_total=n_total.get["n"],
        n_train=n_train.get["n"],
        n_test=n_test.get["n"],
        n_features=ds.n_features,
    )


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its row count observed by the action that writes it,
    so a layer's size costs no job that recomputes the layer."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs
