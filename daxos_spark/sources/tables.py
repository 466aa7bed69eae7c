"""Sidecar table scans: covariates (S8), ID lists (S9), HP-search
results (S10).

Reference: daxos/deconfound.py:8-16 read_covars;
workflows/preprocessing/scripts/split_ids.py:7-28 check_covars
(unique FID/IID, no NAs); scripts/subset_hdf5.py:25-27 id lists;
daxos/crossvalidate.py:319-347 read_hp_search_results (glob + UNION ALL
+ sort + best row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_covars(spark: SparkSession, path: str, sep: str = "\t") -> DataFrame:
    """S8 covariate scan: header row, FID/IID + numeric covariates, read
    as strings (no inference pass: an ID ``001`` stays ``001``) and the
    covariates ``try_cast`` to double (an ``NA`` cell is a null).
    Validation mirrors check_covars (split_ids.py:18-28): unique FID,
    unique IID, no nulls anywhere."""
    raw = spark.read.option("sep", sep).option("header", True).csv(path)
    df = raw.select("FID", "IID", *[F.col(c).try_cast("double").alias(c) for c in covar_columns(raw)])
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("FID").alias("n_fid"),
        F.countDistinct("IID").alias("n_iid"),
        *[F.sum(F.col(c).isNull().cast("int")).alias(f"null_{c}") for c in df.columns],
    ).collect()[0]
    if stats["n_fid"] != stats["n"] or stats["n_iid"] != stats["n"]:
        raise ValueError("covariate FID/IID must be unique (check_covars)")
    bad = [c for c in df.columns if stats[f"null_{c}"] > 0]
    if bad:
        raise ValueError(f"covariate table contains nulls in {bad}")
    return df


def covar_columns(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in ("FID", "IID")]


def read_id_list(spark: SparkSession, path: str) -> DataFrame:
    """S9 ID-list scan: one ID per line → (IID:string)."""
    return spark.read.text(path).select(F.trim(F.col("value")).alias("IID")).filter(
        F.length("IID") > 0
    )


def read_hp_results(spark: SparkSession, path: str) -> DataFrame:
    """S10: file OR directory of CSVs → one DataFrame (UNION ALL is
    implicit in the multi-file scan)."""
    return spark.read.option("header", True).option("inferSchema", True).csv(path)


def best_hp_row(results: DataFrame, metric_col: str = "score", ascending: bool = False) -> dict:
    """A2 arg-best (crossvalidate.py:288-294, 332-341): group-mean over
    folds then order + limit 1."""
    group_cols = [
        c for c in ("eta", "subsample", "colsample_bytree", "max_depth", "metric") if c in results.columns
    ]
    agg = results.groupBy(*group_cols).agg(F.avg(metric_col).alias("__mean_score"))
    order = F.col("__mean_score").asc() if ascending else F.col("__mean_score").desc()
    row = agg.orderBy(order).limit(1).collect()[0]
    return {k: row[k] for k in group_cols} | {"mean_score": row["__mean_score"]}
