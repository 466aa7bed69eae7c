"""PLINK .raw text ingest → the Parquet-backed fact table.

Reference: S1-S4 (daxos/read.py:48-96,153-156 — whitespace text, 6 fixed
metadata columns then SNP dosage columns; PHENOTYPE 1/2 recoded to 0/1
when binary) and S17 dosage recode (Snakefile:194-226).

Spark-first shape (SURVEY §1.5): ONE DataFrame
    row_idx:long, fid, iid, pat, mat, sex:float, phenotype:float,
    label:float, features:array<float>
plus the SNP names as a Python list (``cols``, list index = array index),
stored on disk as a small (pos:int, snp:string) parquet dim. The body is
one ``spark.read.text`` scan split into whitespace tokens; the features are
one ``slice`` of that token array, so the plan has the same size at any
SNP count. The reference's chunked reader (S2) is unnecessary — the
text scan is already partitioned and streaming; its positional row
identity is replaced by row_idx (operators/indexing.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.indexing import shuffled_with_row_idx, with_row_idx
from ..session import local_frame

FAM_COLS = ("FID", "IID", "PAT", "MAT", "SEX", "PHENOTYPE")
COLS_SCHEMA = "pos int, snp string"


@dataclass
class MatrixDataset:
    """The {x, y, rows, cols} container (daxos read.py:99-110) as a
    fact DataFrame + the in-memory SNP name list (the reference's
    ``cols`` table): ``cols[i]`` names ``features[i]``."""

    fact: DataFrame
    cols: list[str]

    @property
    def n_features(self) -> int:
        return len(self.cols)


def read_plink_colnames(spark: SparkSession, path: str) -> list[str]:
    """S4 header scan (read.py:153-156): first line split on whitespace."""
    first = spark.read.text(path).limit(1).collect()[0][0]
    return first.strip().split()


def read_plink_raw(spark: SparkSession, path: str, shuffle_seed: int | None = None) -> MatrixDataset:
    """S1+S3: whitespace text → fact DataFrame with features array.

    Blank lines and the header are dropped. ``NA`` is a null element
    (``try_cast``, so ANSI mode does not fail the scan); a row that is
    not 6 + p fields wide raises ``ValueError``.

    shuffle_seed: if set, applies the at-rest global pre-shuffle (X4)
    while assigning row_idx; None keeps file order.
    """
    colnames = read_plink_colnames(spark, path)
    snp_names = colnames[len(FAM_COLS) :]
    t = F.col("__t")
    fact = (
        spark.read.text(path)
        .select(F.split(F.btrim("value", F.lit(" \t\r")), r"\s+").alias("__t"))
        .filter((t[0] != "") & (F.slice(t, 1, 6) != F.array(*map(F.lit, colnames[:6]))))
        .select(
            *[F.get(t, i).alias(c.lower()) for i, c in enumerate(FAM_COLS[:4])],
            *[F.get(t, i).try_cast("float").alias(c.lower()) for i, c in enumerate(FAM_COLS[4:], 4)],
            F.slice(t, 7, len(snp_names)).try_cast("array<float>").alias("features"),
            F.size(t).alias("__width"),
        )
    )
    # the row-index pass persists this parse and the guard below reads
    # it there, so each line is split once
    if shuffle_seed is not None:
        fact = shuffled_with_row_idx(fact, seed=shuffle_seed)
    else:
        fact = with_row_idx(fact)

    # A4 recode guard: 1/2 phenotype → 0/1 label. The reference tests
    # only max==2 (read.py:91-94); here the whole value set must be
    # ⊆ {1,2} so a quantitative phenotype that happens to top out at
    # 2.0 is never silently shifted (documented strictness delta). The
    # same aggregate counts the rows of the wrong width. One partition:
    # the aggregate reads three cached columns and needs no exchange job
    # (the offset broadcast is its other job).
    row = fact.coalesce(1).agg(
        F.max("phenotype").alias("mx"),
        F.sum((~F.col("phenotype").isin(1.0, 2.0)).cast("int")).alias("n_other"),
        F.sum((F.col("__width") != len(colnames)).cast("int")).alias("n_bad"),
    ).collect()[0]
    if row["n_bad"]:
        raise ValueError(
            f"{path}: {row['n_bad']} rows are not {len(colnames)} fields wide (6 FAM + {len(snp_names)} SNPs)"
        )
    label = F.col("phenotype")
    if row["mx"] == 2.0 and not row["n_other"]:
        label = label - F.lit(1.0)
    fact = fact.withColumn("label", label.cast("float"))
    return MatrixDataset(
        fact=fact.select("row_idx", *[c.lower() for c in FAM_COLS], "label", "features"),
        cols=snp_names,
    )


def write_matrix(ds: MatrixDataset, path: str, mode: str = "overwrite") -> None:
    """S12-S14 combined sink (read.py:165-181) → Parquet pair; the names
    go to disk as the (pos, snp) dim."""
    ds.fact.write.mode(mode).parquet(f"{path}/fact.parquet")
    dim = {"pos": list(range(ds.n_features)), "snp": ds.cols}
    local_frame(ds.fact.sparkSession, dim, COLS_SCHEMA).write.mode(mode).parquet(f"{path}/cols.parquet")


def read_matrix(spark: SparkSession, path: str) -> MatrixDataset:
    """S5-S7 combined scan + validation (read.py:99-124). The name dim is
    collected once here (p rows, the reference's in-memory ``cols``)."""
    fact = spark.read.parquet(f"{path}/fact.parquet")
    # the cols dim has one fixed schema; inferring it would cost a job
    dim = spark.read.schema(COLS_SCHEMA).parquet(f"{path}/cols.parquet").collect()
    pos = [r["pos"] for r in dim]
    if None in pos or sorted(pos) != list(range(len(dim))):
        raise ValueError(f"{path}/cols.parquet: pos is not 0..{len(dim) - 1}, one row each")
    cols = [r["snp"] for r in sorted(dim, key=lambda r: r["pos"])]
    # cardinality agreement asserts (read.py:103-105) — cheap: one row
    width = fact.select(F.size("features").alias("w")).limit(1).collect()
    if width and width[0]["w"] != len(cols):
        raise ValueError(f"features width {width[0]['w']} != cols table {len(cols)}")
    return MatrixDataset(fact=fact, cols=cols)
