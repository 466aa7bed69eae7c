"""End-to-end CLI workflow test: the reference's script sequence
(convert → subset → adjust → cv → refit → predict → boruta,
scripts/submit_daxg.sh dispatch order) run through daxos_spark.cli
on the tiny PLINK fixture, checking every artifact shape."""

from __future__ import annotations

import os

import pandas as pd
import pytest


def _run(spark, argv):
    from daxos_spark.cli import main

    main(argv, spark=spark)


@pytest.fixture(scope="module")
def cli_dirs(spark, plink_raw_path, covars_path, tmp_path_factory):
    """convert + adjust once; downstream subcommand tests share them."""
    raw, X, y, snps = plink_raw_path
    base = tmp_path_factory.mktemp("cli")
    store = str(base / "matrix")
    adjusted = str(base / "adjusted")
    _run(spark, ["convert", "--raw", raw, "--out", store, "--shuffle-seed", "7"])
    _run(
        spark,
        ["adjust", "--input", store, "--covars", covars_path, "--out", adjusted,
         "--fit-out", str(base / "fit")],
    )
    return {"base": base, "store": store, "adjusted": adjusted,
            "raw": raw, "snps": snps, "n_rows": len(X)}


def test_cli_convert_and_subset(spark, cli_dirs):
    from daxos_spark.sources.plink import read_matrix

    ds = read_matrix(spark, cli_dirs["store"])
    assert ds.fact.count() == cli_dirs["n_rows"]
    assert ds.n_features == len(cli_dirs["snps"])

    base = cli_dirs["base"]
    ids_file = base / "keep_ids.txt"
    iids = [r["IID"] for r in ds.fact.select("IID").limit(50).collect()]
    ids_file.write_text("\n".join(iids) + "\n")
    cols_file = base / "keep_cols.txt"
    cols_file.write_text("\n".join(cli_dirs["snps"][:5]) + "\n")

    out = str(base / "subset")
    _run(spark, ["subset", "--input", cli_dirs["store"], "--out", out,
                 "--row-ids", str(ids_file), "--col-ids", str(cols_file)])
    sub = read_matrix(spark, out)
    assert sub.fact.count() == 50
    assert sub.n_features == 5
    assert sub.cols == cli_dirs["snps"][:5]


def test_cli_adjust_artifacts(spark, cli_dirs):
    import numpy as np

    from daxos_spark.sources.plink import read_matrix

    adj = read_matrix(spark, cli_dirs["adjusted"])
    assert {"features_adj", "label_adj"} <= set(adj.fact.columns)
    fit = np.load(str(cli_dirs["base"] / "fit.npz"))
    assert fit["feature_betas"].shape[1] == len(cli_dirs["snps"])


def test_cli_cv_refit_predict(spark, cli_dirs):
    base = cli_dirs["base"]
    prefix = str(base / "run")
    _run(spark, ["cv", "--input", cli_dirs["store"], "--out-prefix", prefix,
                 "--n-folds", "2", "--n-iter", "2", "--n-boost-round", "3",
                 "--row-chunks", "60"])
    scores = pd.read_csv(f"{prefix}_cv_scores.csv")
    # reference cv_results schema (crossvalidate.py:274-287)
    assert {"eta", "subsample", "colsample_bytree", "max_depth",
            "metric", "score", "train_score", "fold"} <= set(scores.columns)
    assert len(scores) == 4  # 2 params x 2 folds
    oof = pd.read_csv(f"{prefix}_best_cv_ypred.csv")
    assert list(oof.columns) == ["IID", "y_true", "y_pred"]
    assert len(oof) == cli_dirs["n_rows"]

    _run(spark, ["refit", "--input", cli_dirs["store"], "--out-prefix", prefix,
                 "--hp-results", f"{prefix}_cv_scores.csv", "--n-boost-round", "3"])
    used = pd.read_csv(f"{prefix}_used_cols.csv")
    assert 0 < len(used) <= len(cli_dirs["snps"])
    imp = pd.read_csv(f"{prefix}_importances.csv")
    assert list(imp.columns) == ["predictors", "gain"]
    assert os.path.isdir(f"{prefix}_model")

    _run(spark, ["predict", "--input", cli_dirs["store"], "--model", f"{prefix}_model",
                 "--used-cols", f"{prefix}_used_cols.csv", "--out-prefix", prefix])
    pred_df = spark.read.option("header", True).csv(f"{prefix}_ypred.csv")
    assert pred_df.count() == cli_dirs["n_rows"]
    assert set(pred_df.columns) == {"IID", "y_true", "y_pred"}


def test_cli_boruta(spark, cli_dirs):
    out = str(cli_dirs["base"] / "boruta.csv")
    _run(spark, ["boruta", "--input", cli_dirs["store"], "--out", out,
                 "--max-iter", "3", "--n-boost-round", "3"])
    dec = pd.read_csv(out)
    assert list(dec.columns) == ["predictors", "hits", "decision"]
    assert len(dec) == len(cli_dirs["snps"])
    assert set(dec["decision"]) <= {"accepted", "rejected", "tentative"}


def test_cli_train(spark, plink_raw_path, covars_path, tmp_path):
    """One-shot train subcommand over the preprocessing gold layer."""
    from daxos_spark.preprocess import run_preprocessing

    raw, *_ = plink_raw_path
    pre = run_preprocessing(spark, raw, covars_path, str(tmp_path / "lake"), seed=42)
    prefix = str(tmp_path / "t")
    _run(spark, ["train", "--train", pre.train_gold, "--test", pre.test_gold,
                 "--out-prefix", prefix, "--n-folds", "2", "--n-iter", "1",
                 "--cv-subsample", "0", "--n-boost-round", "3", "--row-chunks", "60"])
    assert len(pd.read_csv(f"{prefix}_cv_scores.csv")) == 2  # 1 param x 2 folds
    preds = spark.read.option("header", True).csv(f"{prefix}_ypred.csv")
    assert preds.count() == pre.n_test
    assert set(preds.columns) == {"IID", "y_true", "y_pred", "y_pred_platt_scaled"}

    # predict runs on train's own artifacts: the refit model + its used columns
    used = pd.read_csv(f"{prefix}_used_cols.csv")
    assert 0 < len(used)
    _run(spark, ["predict", "--input", pre.test_gold, "--model", f"{prefix}/model",
                 "--used-cols", f"{prefix}_used_cols.csv", "--out-prefix", f"{prefix}_p"])
    assert spark.read.option("header", True).csv(f"{prefix}_p_ypred.csv").count() == pre.n_test
