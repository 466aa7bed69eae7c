"""Capacity demonstration — the reference's production-matrix shape,
end-to-end, on one box.

The reference's envelope (BASELINE.md): 28k-40k samples × 215k SNPs,
~640 GB cluster RAM, with hours-long budgets per stage (>3h PLINK→raw,
>3h raw→HDF5, 10h/300 GB for the 215k per-column covariate
regressions). This script runs the same pipeline stages — synthesize →
parquet at rest → closed-form deconfounding (ALL per-column regressions
in one gramian pass) → GBT train — at a configurable n×p and prints one
JSON line of stage timings.

Usage: python tools/capacity.py [n_rows] [n_cols] [stages]
Defaults 20000×2000 (40M dosage cells) to stay laptop-friendly; the
plan shapes are row-count/width agnostic (nothing driver-side exceeds
the (k+1)×p beta matrix). ``stages`` = "all" (default), "deconfound"
(synthesize + the residualization stage only — the reference's
10 h / 300 GB budget line — skipping the GBT train, whose cost is a
property of MLlib tree building, not of this engine's dataflow), or
"train" (train+score only, reusing the _adj parquet a prior
stages=deconfound run left behind — the reference's full-data refit
row, budgeted at ≈640 GB cluster RAM at 28k×215k), or "ingest" (write
an n×p PLINK ``.raw`` text file, then time ``read_plink_raw``'s plan
build and a noop write of its fact table — the reference's >3 h
raw→HDF5 row).
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    p = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    stages = sys.argv[3] if len(sys.argv) > 3 else "all"
    out = f"/tmp/capacity_{n}x{p}"

    import pyspark.sql.functions as F

    from daxos_spark.session import get_spark

    # Wide-array reads need the vectorized reader's row-batch scaled to
    # the row width: the default 4096-row batch × p floats × one batch
    # per task is ~0.8 GB/task at p=50k (observed Java-heap OOM). Target
    # ~8M cells per column batch — the same rule a 100 TB deployment
    # applies per-executor.
    batch_rows = max(64, min(4096, 8_000_000 // max(p, 1)))
    spark = get_spark(
        "capacity",
        extra_conf={
            "spark.sql.parquet.columnarReaderBatchSize": str(batch_rows),
            # Arrow batches crossing into pandas UDFs (xgboost scoring;
            # the deconfound stage stays in the JVM) get the same
            # width-scaling: the default 10k rows × p floats is ~2 GB
            # per in-flight batch per worker at p=50k (32 workers →
            # memory exhaustion).
            "spark.sql.execution.arrow.maxRecordsPerBatch": str(batch_rows),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t: dict[str, float] = {}

    if stages == "ingest":
        _run_ingest(spark, out, n, p, t)
        return
    # ---- synthesize: JVM-side dosage matrix {0,1,2}, planted signal on
    # the last two columns, three covariates — no driver-side data.
    if stages == "train":
        import os

        assert os.path.isdir(
            out + "_adj"
        ), f"stages=train needs {out}_adj from a prior run"
        _run_train(spark, out, n, p, t)
        return
    t0 = time.time()
    base = spark.range(n).withColumnRenamed("id", "row_idx")
    feats = F.transform(
        F.sequence(F.lit(0), F.lit(p - 1)),
        lambda j: F.pmod(F.xxhash64(F.col("row_idx"), j, F.lit(1)), F.lit(3)).cast("float"),
    )
    df = base.select(
        "row_idx",
        feats.alias("features"),
        *[
            (F.pmod(F.xxhash64(F.col("row_idx"), F.lit(100 + i)), F.lit(1000)) / 500.0 - 1.0).alias(f"COV{i}")
            for i in range(3)
        ],
    )
    logit = (
        -0.5
        + 1.2 * F.element_at("features", p).cast("double")
        + 0.8 * F.element_at("features", p - 1).cast("double")
        + 0.5 * F.col("COV0")
    )
    u = F.pmod(F.xxhash64("row_idx", F.lit(7)), F.lit(1_000_000)) / 1_000_000.0
    df = df.withColumn("label", (u < F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).cast("float"))
    df.write.mode("overwrite").parquet(out)
    t["synthesize_write_s"] = round(time.time() - t0, 1)

    fact = spark.read.parquet(out)

    # ---- deconfound: every per-column regression in ONE moment pass
    # (the reference budgeted 10h/300GB for this stage at p=215k)
    if stages != "train":
        from daxos_spark.ml.deconfound import fit_betas, residualize_features

        t0 = time.time()
        betas, _ = fit_betas(fact, ["COV0", "COV1", "COV2"])
        adj = residualize_features(fact, ["COV0", "COV1", "COV2"], betas)
        adj.write.mode("overwrite").parquet(out + "_adj")
        t["deconfound_write_s"] = round(time.time() - t0, 1)

    # ---- train/score (T1/T3/A5). ``stages="train"`` reuses an existing
    # {out}_adj directory from a prior stages=deconfound run so the
    # full-width refit (the reference's 640 GB cluster-RAM envelope row)
    # can be timed on its own. maxMemoryInMB is raised from MLlib's
    # 256 MB default: at p=215k a single node's bin-stats block is
    # ~165 MB, so the default trains ONE node per pass over the data —
    # a 1 GB group buffer packs ~6 nodes per pass; see the per-task
    # budget note at the fit call before raising it further.
    if stages == "all":
        _run_train(spark, out, n, p, t)
    else:
        _emit(n, p, float("nan"), t)


def _run_train(spark, out: str, n: int, p: int, t: dict) -> None:
    import time

    import pyspark.sql.functions as F

    from daxos_spark.ml.scoring import score_auc
    from daxos_spark.ml.train import GBTParams, fit_gbt, predict_gbt

    t0 = time.time()
    adj_fact = spark.read.parquet(out + "_adj").withColumn(
        "is_test", F.pmod(F.col("row_idx"), F.lit(5)) == 0
    )
    model = fit_gbt(
        adj_fact.filter(~F.col("is_test")),
        GBTParams(
            eta=0.2,
            max_depth=4,
            n_boost_round=10,
            seed=42,
            # the node-group stats buffer is allocated PER TASK during
            # treeAggregate: budget ~heap/(3 x cores), not one giant
            # group — 4 GB x 16 concurrent tasks OOMed a 48 GB heap.
            extra={"maxMemoryInMB": 1024} if p >= 50_000 else {},
        ),
        features_col="features_adj",
    )
    auc = score_auc(
        predict_gbt(
            model, adj_fact.filter(F.col("is_test")), features_col="features_adj"
        )
    )
    t["train_score_s"] = round(time.time() - t0, 1)
    _emit(n, p, auc, t)


def _run_ingest(spark, out: str, n: int, p: int, t: dict) -> None:
    """PLINK text at n×p (dosages 0/1/2, every 97th cell ``NA``) →
    ``read_plink_raw`` plan build, then a noop write of the fact. A
    first round on a 2×10 file warms the JVM, so the timed round
    measures what grows with the width, not class loading."""
    import random

    from daxos_spark.sources.plink import read_plink_raw

    rng = random.Random(0)
    for rows, cols, raw in ((2, 10, out + "_warm.raw"), (n, p, out + ".raw")):
        with open(raw, "w") as f:
            f.write("FID IID PAT MAT SEX PHENOTYPE " + " ".join(f"rs{j}" for j in range(cols)) + "\n")
            for i in range(rows):
                cells = ("NA" if (i * cols + j) % 97 == 0 else str(rng.randint(0, 2)) for j in range(cols))
                f.write(f"F{i} I{i} 0 0 {1 + i % 2} {1 + i % 2} " + " ".join(cells) + "\n")
        t0 = time.time()
        ds = read_plink_raw(spark, raw)
        t["ingest_build_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        ds.fact.write.format("noop").mode("overwrite").save()
        t["ingest_write_s"] = round(time.time() - t0, 2)
    _emit(n, p, float("nan"), t)


def _emit(n: int, p: int, auc: float, t: dict) -> None:
    print(
        json.dumps(
            {
                "n_rows": n,
                "n_cols": p,
                "cells": n * p,
                "auc_test": None if auc != auc else round(auc, 3),
                "stages": t,
                "total_s": round(sum(t.values()), 1),
            }
        )
    )


if __name__ == "__main__":
    main()
