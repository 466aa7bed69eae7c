"""Sources: PLINK ingest, covariates, ID lists, Parquet round-trip
(mirrors reference tests/test_read.py scope — SURVEY §5.1)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_header_scan(spark, plink_raw_path):
    from daxos_spark.sources.plink import read_plink_colnames

    path, X, y, snps = plink_raw_path
    names = read_plink_colnames(spark, path)
    assert names[:6] == ["FID", "IID", "PAT", "MAT", "SEX", "PHENOTYPE"]
    assert names[6:] == snps


def test_ingest_shapes_and_recode(matrix_ds, plink_raw_path):
    _, X, y, snps = plink_raw_path
    fact = matrix_ds.fact
    assert fact.count() == len(X)
    assert matrix_ds.n_features == X.shape[1]
    # phenotype 1/2 → label 0/1 (A4 guard, read.py:91-94)
    labels = {r["label"] for r in fact.select("label").distinct().collect()}
    assert labels == {0.0, 1.0}
    # values survive ingest: check one row end-to-end by IID
    row = fact.filter(F.col("iid") == "I5").collect()[0]
    assert row["features"] == [float(v) for v in X[5]]
    assert row["label"] == float(y[5])


def test_row_idx_contiguous_and_shuffled(matrix_ds, plink_raw_path):
    _, X, y, snps = plink_raw_path
    idx = sorted(r["row_idx"] for r in matrix_ds.fact.select("row_idx").collect())
    assert idx == list(range(len(X)))
    # pre-shuffle actually permuted file order (X4)
    order = [
        int(r["iid"][1:]) for r in matrix_ds.fact.orderBy("row_idx").select("iid").collect()
    ]
    assert order != sorted(order)


def test_parquet_roundtrip(spark, matrix_ds, tmp_path):
    from daxos_spark.sources.plink import read_matrix, write_matrix

    write_matrix(matrix_ds, str(tmp_path / "ds"))
    back = read_matrix(spark, str(tmp_path / "ds"))
    assert back.fact.count() == matrix_ds.fact.count()
    assert back.n_features == matrix_ds.n_features
    a = matrix_ds.fact.orderBy("row_idx").select("iid", "features").collect()
    b = back.fact.orderBy("row_idx").select("iid", "features").collect()
    assert a == b


def test_covars_read_and_validation(spark, covars_path, tmp_path):
    from daxos_spark.sources.tables import covar_columns, read_covars

    cov = read_covars(spark, covars_path)
    assert covar_columns(cov) == ["COV1", "COV2", "COV3"]
    assert cov.count() == 240

    # uniqueness violation raises (check_covars, split_ids.py:18-28)
    bad = tmp_path / "bad.tsv"
    with open(covars_path) as f:
        lines = f.readlines()
    bad.write_text("".join(lines + [lines[1]]))
    with pytest.raises(ValueError, match="unique"):
        read_covars(spark, str(bad))


def test_id_list_and_hp_results(spark, tmp_path):
    from daxos_spark.sources.tables import best_hp_row, read_hp_results, read_id_list

    ids = tmp_path / "ids.txt"
    ids.write_text("I1\nI2\nI3\n\n")
    got = read_id_list(spark, str(ids))
    assert [r["IID"] for r in got.orderBy("IID").collect()] == ["I1", "I2", "I3"]

    # S10: two CSV part-files unioned by the scan, arg-best by mean score
    d = tmp_path / "hp"
    d.mkdir()
    (d / "a.csv").write_text(
        "eta,subsample,colsample_bytree,max_depth,metric,score,train_score,fold,n_boost_round\n"
        "0.1,0.8,0.9,3,AUC,0.70,0.9,0,10\n0.1,0.8,0.9,3,AUC,0.80,0.9,1,10\n"
    )
    (d / "b.csv").write_text(
        "eta,subsample,colsample_bytree,max_depth,metric,score,train_score,fold,n_boost_round\n"
        "0.01,0.6,0.7,5,AUC,0.60,0.7,0,10\n0.01,0.6,0.7,5,AUC,0.62,0.7,1,10\n"
    )
    res = read_hp_results(spark, str(d))
    assert res.count() == 4
    best = best_hp_row(res)
    assert best["eta"] == 0.1 and abs(best["mean_score"] - 0.75) < 1e-9


def test_jsonl_roundtrip(spark, tmp_path):
    """JSONL source/sink coverage: documents-shaped records survive a
    write/read cycle with schema intact."""
    from daxos_spark.catalog import load_tables

    d = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    path = str(tmp_path / "docs.jsonl")
    d.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    assert back.count() == d.count()
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    want = {r["doc_id"]: r["text"] for r in d.collect()}
    assert got == want


def test_plink_python_datasource(spark, plink_raw_path):
    """Registered spark.read.format('plink_raw') source: same rows as
    the production CSV-scan ingest, correct text-split semantics across
    multiple byte-range partitions."""
    from daxos_spark.sources.plink_datasource import register_plink_source, snp_names

    path, X, y, snps = plink_raw_path
    register_plink_source(spark)
    # split_bytes tiny → many partitions; split ownership must not drop
    # or double-count boundary lines
    df = (
        spark.read.format("plink_raw")
        .option("path", path)
        .option("split_bytes", 512)
        .load()
    )
    assert df.rdd.getNumPartitions() > 1
    rows = df.collect()
    assert len(rows) == len(X)
    assert snp_names(path) == snps

    by_iid = {r["IID"]: r for r in rows}
    assert set(by_iid) == {f"I{i}" for i in range(len(X))}
    for i in (0, 7, len(X) - 1):
        r = by_iid[f"I{i}"]
        assert r["features"] == [float(v) for v in X[i]]
        assert r["PHENOTYPE"] == float(y[i])  # 1/2 recoded to 0/1


def test_load_tables_opens_on_lookup(spark, tmp_path):
    """load_tables opens a table at its first lookup, once: a directory
    holding only documents.parquet serves that table, lists all ten
    names, and fails only when a missing table is looked up."""
    import pytest

    from daxos_spark.catalog import TABLES, load_tables

    spark.createDataFrame([(1, "a b c")], "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    t = load_tables(spark, str(tmp_path))
    assert list(t) == list(TABLES) and "nation" in t and "nope" not in t
    assert t["documents"].count() == 1
    assert t["documents"] is t["documents"]
    assert load_tables(spark, str(tmp_path)) is t
    with pytest.raises(KeyError):
        t["nope"]
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        t["nation"]
