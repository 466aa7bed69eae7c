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


def _python_parse(path):
    """Oracle: the PLINK .raw body parsed in plain Python, keyed by IID."""
    with open(path) as f:
        body = [t for t in (line.split() for line in f.readlines()[1:]) if t]
    f32 = lambda v: None if v == "NA" else float(np.float32(v))  # noqa: E731
    return {t[1]: (t[0], t[2], t[3], f32(t[4]), f32(t[5]), [f32(v) for v in t[6:]]) for t in body}


def _assert_matches_oracle(ds, path):
    want = _python_parse(path)
    rows = ds.fact.collect()
    assert len(rows) == len(want)
    for r in rows:
        fid, pat, mat, sex, pheno, feats = want[r["iid"]]
        assert (r["fid"], r["pat"], r["mat"], r["sex"], r["phenotype"]) == (fid, pat, mat, sex, pheno)
        assert r["features"] == feats
        assert r["label"] == pheno - 1.0  # every fixture codes phenotype 1/2


def _write_raw(path, header, lines):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(header + "\n" + "".join(line + "\n" for line in lines))
    return str(path)


def test_ingest_matches_python_parse(matrix_ds, plink_raw_path):
    _assert_matches_oracle(matrix_ds, plink_raw_path[0])


def test_ingest_na_separators_and_blank_lines(spark, tmp_path):
    """``NA`` is a null element; tabs, runs of spaces and a trailing
    blank line parse like single spaces."""
    from daxos_spark.sources.plink import read_plink_raw

    path = _write_raw(
        tmp_path / "mixed.raw",
        "FID IID PAT MAT SEX PHENOTYPE rs1 rs2 rs3",
        [
            "F0 I0 0 0 1 2 0 NA 2",
            "F1\tI1\t0\t0\t2\t1\t1\t1\t0.5",
            "  F2   I2 0  0 1 1 NA  NA 2\t",
            "",
            "   ",
        ],
    )
    ds = read_plink_raw(spark, path)
    assert ds.n_features == 3
    _assert_matches_oracle(ds, path)
    got = {r["iid"]: r["features"] for r in ds.fact.collect()}
    assert got == {"I0": [0.0, None, 2.0], "I1": [1.0, 1.0, 0.5], "I2": [None, None, 2.0]}


def test_ingest_wrong_width_row_raises(spark, tmp_path):
    from daxos_spark.sources.plink import read_plink_raw

    path = _write_raw(
        tmp_path / "short.raw", "FID IID PAT MAT SEX PHENOTYPE rs1 rs2", ["F0 I0 0 0 1 2 0 1", "F1 I1 0 0 1 2 0"]
    )
    with pytest.raises(ValueError, match="1 rows are not 8 fields wide"):
        read_plink_raw(spark, path)


def test_ingest_header_only(spark, tmp_path):
    from daxos_spark.sources.plink import read_plink_raw

    path = _write_raw(tmp_path / "empty.raw", "FID IID PAT MAT SEX PHENOTYPE rs1 rs2 rs3 rs4", [])
    ds = read_plink_raw(spark, path)
    assert ds.fact.count() == 0
    assert ds.n_features == 4


def test_ingest_plan_does_not_grow_with_snp_count(spark, tmp_path):
    """The analyzed plan is the same at p = 10 and p = 5,000 (modulo
    expression ids and the literal p): no per-SNP field or column."""
    import re

    from daxos_spark.sources.plink import read_plink_raw

    plans = []
    for d, p in (("a", 10), ("b", 5000)):
        header = "FID IID PAT MAT SEX PHENOTYPE " + " ".join(f"rs{j}" for j in range(p))
        lines = [f"F{i} I{i} 0 0 1 {1 + i % 2} " + " ".join(str((i + j) % 3) for j in range(p)) for i in range(3)]
        path = _write_raw(tmp_path / d / "x.raw", header, lines)
        plan = read_plink_raw(spark, path).fact._jdf.queryExecution().analyzed().toString()
        plans.append(re.sub(r"\d+", "0", plan.replace(path, "PATH")))
    assert plans[0] == plans[1]
    assert len(plans[0]) < 5000


def test_genotype_path_small_frames_are_local(matrix_ds):
    """The row-offset map and the beta row are JVM-local relations: a
    Python-backed ``createDataFrame`` RDD would start Python tasks on
    every action that scans it."""
    from daxos_spark.ml.deconfound import residualize_features

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    fact = matrix_ds.fact.withColumn("C", F.lit(1.0))
    adj = plan(residualize_features(fact, ["C"], np.zeros((2, matrix_ds.n_features))))
    assert "LocalRelation" in adj and "LogicalRDD" not in adj


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
    assert back.cols == matrix_ds.cols
    a = matrix_ds.fact.orderBy("row_idx").select("iid", "features").collect()
    b = back.fact.orderBy("row_idx").select("iid", "features").collect()
    assert a == b


def test_read_matrix_job_count(spark, matrix_ds, tmp_path):
    from test_ml import _jobs

    from daxos_spark.sources.plink import read_matrix, write_matrix

    write_matrix(matrix_ds, str(tmp_path / "ds"))
    back, n_jobs = _jobs(spark, lambda: read_matrix(spark, str(tmp_path / "ds")))
    assert n_jobs <= 3
    assert back.cols == matrix_ds.cols


@pytest.mark.parametrize(
    "pos",
    [[0, 1, 1, 3], [0, 1, 2, 4], [1, 2, 3, 4], [0, 1, None, 3]],
    ids=["duplicate", "gap", "not-from-0", "null"],
)
def test_read_matrix_rejects_a_bad_name_dim(spark, matrix_ds, tmp_path, pos):
    """The (pos, snp) dim comes from disk: its positions must be exactly
    0..p-1. Each bad dim here has p rows and a p-wide fact, so only the
    position check can catch it."""
    from daxos_spark.sources.plink import COLS_SCHEMA, read_matrix

    path = str(tmp_path / "ds")
    matrix_ds.fact.withColumn("features", F.slice("features", 1, 4)).write.parquet(f"{path}/fact.parquet")
    spark.createDataFrame(list(zip(pos, "abcd")), COLS_SCHEMA).write.parquet(f"{path}/cols.parquet")
    with pytest.raises(ValueError, match=r"cols.parquet: pos is not 0\.\.3"):
        read_matrix(spark, path)


def test_read_matrix_orders_the_name_dim_by_pos(spark, matrix_ds, tmp_path):
    from daxos_spark.sources.plink import COLS_SCHEMA, read_matrix

    path = str(tmp_path / "ds")
    matrix_ds.fact.withColumn("features", F.slice("features", 1, 4)).write.parquet(f"{path}/fact.parquet")
    spark.createDataFrame([(3, "d"), (1, "b"), (0, "a"), (2, "c")], COLS_SCHEMA).write.parquet(f"{path}/cols.parquet")
    assert read_matrix(spark, path).cols == ["a", "b", "c", "d"]


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


def test_covars_keep_ids_as_written(spark, tmp_path):
    """IDs are strings as written: ``001`` must still match a PLINK iid
    of ``001`` (schema inference would read it as the integer 1)."""
    from daxos_spark.sources.tables import read_covars

    path = tmp_path / "cov.tsv"
    path.write_text("FID\tIID\tCOV1\tCOV2\n001\t001\t0.5\t2\n002\t0020\t-1.25\t3\n")
    cov = read_covars(spark, str(path))
    assert [(f.name, f.dataType.simpleString()) for f in cov.schema.fields] == [
        ("FID", "string"), ("IID", "string"), ("COV1", "double"), ("COV2", "double")
    ]
    assert sorted(map(tuple, cov.collect())) == [("001", "001", 0.5, 2.0), ("002", "0020", -1.25, 3.0)]


@pytest.mark.parametrize("cell", ["NA", "abc", ""])
def test_covars_non_numeric_cell_is_a_named_null_error(spark, tmp_path, cell):
    from daxos_spark.sources.tables import read_covars

    path = tmp_path / "cov.tsv"
    path.write_text(f"FID\tIID\tCOV1\tCOV2\nf1\ti1\t0.5\t1\nf2\ti2\t{cell}\t2\n")
    with pytest.raises(ValueError, match=r"contains nulls in \['COV1'\]"):
        read_covars(spark, str(path))


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
