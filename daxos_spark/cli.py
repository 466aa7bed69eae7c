"""Command-line surface mirroring the reference's ``scripts/`` entry
points, so a user of the reference can switch by swapping the command
name — same verbs, same artifact shapes, Parquet instead of HDF5:

| subcommand | reference script                          |
|------------|-------------------------------------------|
| convert    | scripts/convert_to_hdf5.py                |
| subset     | scripts/subset_hdf5.py                    |
| adjust     | scripts/adjust_hdf5_for_covariates.py     |
| cv         | scripts/cv.py                             |
| refit      | scripts/refit.py                          |
| predict    | scripts/predict.py                        |
| boruta     | scripts/boruta_shap.py                    |

Usage: ``python -m daxos_spark <subcommand> [args]``.

Cluster spin-up flags (the reference's --scheduler/--n-workers,
daxos/distribute.py:8-87) are replaced by the standard spark-submit
deployment surface; small result tables (CV scores, used columns,
boruta decisions) land as single CSV files like the reference's sinks,
while row-scale outputs (predictions) are written as partitioned CSV
directories — a single-file collect of a 100 TB prediction set is
exactly the driver-side bottleneck this engine exists to avoid.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


# ----------------------------------------------------------------- helpers


def _infer_mode(label_col: str, objective: str | None) -> str:
    """cv.py:90-99 plan rewrite: an adjusted (residualized) label flips
    the whole run to regression mode."""
    if objective:
        return objective
    return "reg:squarederror" if label_col.endswith("_adj") else "binary:logistic"


def _write_small_csv(df, path: str) -> None:
    """Driver-side single-file sink for result tables that are small by
    construction (CV grids, column lists) — reference CSV shape."""
    df.toPandas().to_csv(path, index=False)


def _params_from(args, overrides: dict | None = None):
    from .ml.train import GBTParams

    base = GBTParams(
        eta=args.eta,
        max_depth=args.max_depth,
        subsample=args.subsample,
        colsample_bytree=args.colsample_bytree,
        n_boost_round=args.n_boost_round,
        objective=_infer_mode(args.label_col, args.objective),
        seed=args.seed,
        device=getattr(args, "device", "cpu"),
    )
    if overrides:
        from dataclasses import replace

        keep = {k: v for k, v in overrides.items() if k in GBTParams.__dataclass_fields__}
        if "n_boost_round" in keep:
            keep["n_boost_round"] = int(keep["n_boost_round"])
        if "max_depth" in keep:
            keep["max_depth"] = int(keep["max_depth"])
        base = replace(base, **keep)
    return base


# ------------------------------------------------------------- subcommands


def cmd_convert(spark: SparkSession, args) -> None:
    """convert_to_hdf5.py: PLINK .raw text → matrix store (+ at-rest
    shuffle, Snakefile:228-244, when --shuffle-seed is given)."""
    from .sources.plink import read_plink_raw, write_matrix

    ds = read_plink_raw(spark, args.raw, shuffle_seed=args.shuffle_seed)
    write_matrix(ds, args.out)
    print(f"wrote {args.out}: {ds.fact.count()} rows x {ds.n_features} features")


def cmd_subset(spark: SparkSession, args) -> None:
    """subset_hdf5.py: row semi/anti-join by ID list + column projection
    by SNP name, then rechunk (read.py:184-215)."""
    from dataclasses import replace

    from .operators.subset import subset_columns, subset_rows_by_ids
    from .sources.plink import read_matrix, write_matrix
    from .sources.tables import read_id_list

    ds = read_matrix(spark, args.input)
    if args.row_ids:
        ids = read_id_list(spark, args.row_ids)
        ds = replace(ds, fact=subset_rows_by_ids(ds.fact, ids, keep=not args.remove))
    if args.col_ids:
        with open(args.col_ids) as f:
            names = [ln.strip() for ln in f if ln.strip()]
        ds = subset_columns(ds, names, match_prefix=args.match_prefix)
    if args.repartition:
        ds = replace(ds, fact=ds.fact.repartition(args.repartition))
    write_matrix(ds, args.out)
    print(f"wrote {args.out}: {ds.fact.count()} rows x {ds.n_features} features")


def cmd_adjust(spark: SparkSession, args) -> None:
    """adjust_hdf5_for_covariates.py: standardize covariates, closed-form
    per-column betas, residualize X and y into features_adj/label_adj.

    --fit-out saves the train-fitted scaler stats + betas; --fit-in
    applies them to a test split (the train-scaler-reuse contract,
    scripts/adjust_hdf5_for_covariates.py:25-31)."""
    from dataclasses import replace

    from .ml.deconfound import deconfound
    from .sources.plink import read_matrix, write_matrix
    from .sources.tables import read_covars

    ds = read_matrix(spark, args.input)
    covars = read_covars(spark, args.covars, sep=args.sep)

    stats = feature_betas = y_betas = None
    if args.fit_in:
        blob = np.load(args.fit_in + ".npz")
        feature_betas, y_betas = blob["feature_betas"], blob["y_betas"]
        with open(args.fit_in + ".json") as f:
            stats = {k: tuple(v) for k, v in json.load(f).items()}

    adjusted, stats, fb, yb = deconfound(
        ds.fact, covars, stats=stats,
        feature_betas=feature_betas, y_betas=y_betas,
    )
    write_matrix(replace(ds, fact=adjusted), args.out)
    if args.fit_out:
        np.savez(args.fit_out + ".npz", feature_betas=fb, y_betas=yb)
        with open(args.fit_out + ".json", "w") as f:
            json.dump({k: list(v) for k, v in stats.items()}, f)
    print(f"wrote {args.out} (+features_adj/label_adj)")


def cmd_cv(spark: SparkSession, args) -> None:
    """cv.py: head-N subsample → random param search × k-fold CV →
    {prefix}_cv_scores.csv + {prefix}_best_cv_ypred.csv (IID join-back,
    cv.py:131-135)."""
    from .ml.crossvalidate import cv_gbt, sample_param_grid
    from .operators.subset import head_subsample
    from .sources.plink import read_matrix

    ds = read_matrix(spark, args.input)
    fact = ds.fact
    if args.cv_subsample:
        fact = head_subsample(fact, args.cv_subsample)
    grid = sample_param_grid(args.n_iter, seed=args.seed)
    results, best, oof = cv_gbt(
        fact,
        _params_from(args),
        grid,
        n_folds=args.n_folds,
        row_chunks=args.row_chunks,
        features_col=args.features_col,
        label_col=args.label_col,
    )
    _write_small_csv(results, f"{args.out_prefix}_cv_scores.csv")
    # J5 join-back of IID onto row_idx-keyed OOF predictions
    preds = oof.join(fact.select("row_idx", "IID"), "row_idx").select(
        "IID", F.col(args.label_col).alias("y_true"), "y_pred"
    )
    _write_small_csv(preds, f"{args.out_prefix}_best_cv_ypred.csv")
    print(f"best params: {best}")


def cmd_refit(spark: SparkSession, args) -> None:
    """refit.py: best-HP full fit → model-driven column pruning →
    refit on the pruned matrix (the fit→prune→refit strategy,
    refit.py:62-90) → model + used_cols.csv + importances.csv."""
    import pandas as pd

    from .ml.explain import feature_importances, used_features
    from .ml.scoring import score_model
    from .ml.train import fit_gbt, predict_gbt, save_model
    from .operators.subset import subset_columns
    from .sources.plink import read_matrix
    from .sources.tables import best_hp_row, read_hp_results

    ds = read_matrix(spark, args.input)
    overrides = None
    if args.hp_results:
        metric_asc = _infer_mode(args.label_col, args.objective).startswith("reg")
        overrides = best_hp_row(read_hp_results(spark, args.hp_results), ascending=metric_asc)
    params = _params_from(args, overrides)
    if args.n_booster_override:
        from dataclasses import replace

        params = replace(params, n_boost_round=args.n_booster_override)

    model1 = fit_gbt(ds.fact, params, args.features_col, args.label_col)
    used = used_features(model1, ds.cols)
    pruned = subset_columns(ds, used, match_prefix=False, features_col=args.features_col)
    model2 = fit_gbt(pruned.fact, params, args.features_col, args.label_col)

    save_model(model2, f"{args.out_prefix}_model")
    pd.DataFrame({"snp": pruned.cols}).to_csv(f"{args.out_prefix}_used_cols.csv", index=False)
    _write_small_csv(
        feature_importances(model2, pruned.cols).orderBy(F.col("gain").desc()),
        f"{args.out_prefix}_importances.csv",
    )
    metric = "RMSE" if params.objective.startswith("reg") else "AUC"
    train_pred = predict_gbt(model2, pruned.fact, args.features_col, args.label_col)
    print(
        f"refit on {len(used)}/{ds.n_features} used features; "
        f"train {metric}: {score_model(train_pred, metric, args.label_col):.4f}"
    )


def cmd_predict(spark: SparkSession, args) -> None:
    """predict.py: align columns by saved name list (schema resolution
    at run time, predict.py:124-134), score, optional Platt scaling,
    predictions keyed by IID."""
    import pandas as pd

    from .ml.scale import apply_platt
    from .ml.scoring import score_model
    from .ml.train import load_model, predict_gbt
    from .operators.subset import subset_columns
    from .sources.plink import read_matrix

    ds = read_matrix(spark, args.input)
    used = list(pd.read_csv(args.used_cols)["snp"])
    if ds.cols != used:
        ds = subset_columns(ds, used, match_prefix=False, features_col=args.features_col)

    classification = not _infer_mode(args.label_col, args.objective).startswith("reg")
    model = load_model(f"{args.model}", classification=classification)
    preds = predict_gbt(model, ds.fact, args.features_col, args.label_col)
    if args.platt:
        from pyspark.ml.classification import LogisticRegressionModel

        platt = LogisticRegressionModel.load(args.platt)
        preds = apply_platt(platt, preds)
    out_cols = ["IID", F.col(args.label_col).alias("y_true"), "y_pred"] + (
        ["y_pred_platt_scaled"] if args.platt else []
    )
    preds.select(*out_cols).write.mode("overwrite").option("header", True).csv(
        f"{args.out_prefix}_ypred.csv"
    )
    metric = "RMSE" if not classification else "AUC"
    print(f"test {metric}: {score_model(preds, metric, args.label_col):.4f}")


def cmd_train(spark: SparkSession, args) -> None:
    """One-shot training workflow (workflows/training/Snakefile:17-29
    refit → predict DAG): CV search → prune-refit → test predictions →
    Platt calibration, writing every reference artifact under one
    prefix (the refit model at ``{prefix}/model`` and its
    ``{prefix}_used_cols.csv`` are what ``predict`` reads)."""
    import pandas as pd

    from .training import run_training

    res = run_training(
        spark,
        args.train,
        args.test,
        args.out_prefix,
        label_col=args.label_col,
        features_col=args.features_col,
        n_folds=args.n_folds,
        n_iter=args.n_iter,
        cv_subsample=args.cv_subsample,
        row_chunks=args.row_chunks,
        n_boost_round=args.n_boost_round,
        seed=args.seed,
    )
    _write_small_csv(res.cv_results, f"{args.out_prefix}_cv_scores.csv")
    pd.DataFrame({"snp": res.used_cols}).to_csv(f"{args.out_prefix}_used_cols.csv", index=False)
    _write_small_csv(
        res.importances.orderBy(F.col("gain").desc()), f"{args.out_prefix}_importances.csv"
    )
    res.predictions.write.mode("overwrite").option("header", True).csv(
        f"{args.out_prefix}_ypred.csv"
    )
    print(
        f"best {res.best_params}; {len(res.used_cols)} used features; "
        f"train {res.metric}: {res.train_score:.4f}; test {res.metric}: {res.test_score:.4f}"
    )


def cmd_boruta(spark: SparkSession, args) -> None:
    """boruta_shap.py: shadow-feature iterations + binomial/FDR feature
    decisions → decisions CSV (predictor, hits, decision)."""
    import pandas as pd

    from .ml.boruta import boruta
    from .sources.plink import read_matrix

    ds = read_matrix(spark, args.input)
    res = boruta(
        ds.fact,
        ds.cols,
        _params_from(args),
        max_iter=args.max_iter,
        percentile=args.percentile,
        alpha=args.alpha,
        sample_fraction=args.sample_fraction,
        seed=args.seed,
        features_col=args.features_col,
        label_col=args.label_col,
    )
    decision = {
        **{f: "accepted" for f in res.accepted},
        **{f: "rejected" for f in res.rejected},
        **{f: "tentative" for f in res.tentative},
    }
    pd.DataFrame(
        {"predictors": ds.cols, "hits": res.hits, "decision": [decision[f] for f in ds.cols]}
    ).to_csv(args.out, index=False)
    print(f"accepted {len(res.accepted)}, rejected {len(res.rejected)}, "
          f"tentative {len(res.tentative)} -> {args.out}")


# ------------------------------------------------------------------ parser


def _add_common_ml(p: argparse.ArgumentParser) -> None:
    p.add_argument("--features-col", default="features")
    p.add_argument("--label-col", default="label")
    p.add_argument("--objective", default=None,
                   help="binary:logistic | reg:squarederror (default inferred from label col)")
    p.add_argument("--eta", type=float, default=0.1)
    p.add_argument("--max-depth", type=int, default=4)
    p.add_argument("--subsample", type=float, default=1.0)
    p.add_argument("--colsample-bytree", type=float, default=1.0)
    p.add_argument("--n-boost-round", type=int, default=20)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--device", default="cpu",
                   help="'cpu' (default), 'cuda', or 'cuda:<n>' — honored by the "
                   "xgboost backend (reference config_gpu.yaml workflow); the "
                   "MLlib path raises on non-cpu devices (no GPU impl)")


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="daxos_spark", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("convert", help="PLINK .raw -> matrix parquet")
    p.add_argument("--raw", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--shuffle-seed", type=int, default=None)
    p.set_defaults(fn=cmd_convert)

    p = sub.add_parser("subset", help="row/column subsetting")
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--row-ids", default=None, help="one IID per line")
    p.add_argument("--remove", action="store_true", help="anti-join instead of semi-join")
    p.add_argument("--col-ids", default=None, help="one SNP name per line")
    p.add_argument("--match-prefix", action="store_true",
                   help="match SNP names by rs-prefix (subset by name before '_')")
    p.add_argument("--repartition", type=int, default=None)
    p.set_defaults(fn=cmd_subset)

    p = sub.add_parser("adjust", help="covariate residualization")
    p.add_argument("--input", required=True)
    p.add_argument("--covars", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--sep", default="\t")
    p.add_argument("--fit-out", default=None, help="save fitted stats/betas under this prefix")
    p.add_argument("--fit-in", default=None, help="apply previously fitted stats/betas")
    p.set_defaults(fn=cmd_adjust)

    p = sub.add_parser("cv", help="k-fold CV x random HP search")
    p.add_argument("--input", required=True)
    p.add_argument("--out-prefix", required=True)
    p.add_argument("--n-folds", type=int, default=3)
    p.add_argument("--n-iter", type=int, default=10)
    p.add_argument("--cv-subsample", type=int, default=None)
    p.add_argument("--row-chunks", type=int, default=100)
    _add_common_ml(p)
    p.set_defaults(fn=cmd_cv)

    p = sub.add_parser("refit", help="best-HP fit -> prune -> refit")
    p.add_argument("--input", required=True)
    p.add_argument("--out-prefix", required=True)
    p.add_argument("--hp-results", default=None, help="CSV file or directory of CV results")
    p.add_argument("--n-booster-override", type=int, default=None)
    _add_common_ml(p)
    p.set_defaults(fn=cmd_refit)

    p = sub.add_parser("predict", help="score new data with a saved model")
    p.add_argument("--input", required=True)
    p.add_argument("--model", required=True)
    p.add_argument("--used-cols", required=True)
    p.add_argument("--out-prefix", required=True)
    p.add_argument("--platt", default=None, help="saved Platt LogisticRegressionModel")
    _add_common_ml(p)
    p.set_defaults(fn=cmd_predict)

    p = sub.add_parser("train", help="one-shot cv -> refit -> predict -> calibrate")
    p.add_argument("--train", required=True, help="train gold matrix store")
    p.add_argument("--test", required=True, help="test gold matrix store")
    p.add_argument("--out-prefix", required=True)
    p.add_argument("--n-folds", type=int, default=3)
    p.add_argument("--n-iter", type=int, default=10)
    p.add_argument("--cv-subsample", type=int, default=5000)
    p.add_argument("--row-chunks", type=int, default=100)
    _add_common_ml(p)
    p.set_defaults(fn=cmd_train)

    p = sub.add_parser("boruta", help="Boruta shadow-feature selection")
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--max-iter", type=int, default=10)
    p.add_argument("--percentile", type=float, default=100.0)
    p.add_argument("--alpha", type=float, default=0.05)
    p.add_argument("--sample-fraction", type=float, default=1.0)
    _add_common_ml(p)
    p.set_defaults(fn=cmd_boruta)

    return ap


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> None:
    args = build_parser().parse_args(argv)
    if spark is None:
        from .session import get_spark

        spark = get_spark("daxos-cli", master=os.environ.get("SPARK_MASTER"))
    args.fn(spark, args)


if __name__ == "__main__":
    main()
