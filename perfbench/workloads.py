"""The benchmark's workloads. Each one generates its inputs from the seed,
runs the program's own public pipeline functions as a list of operations,
and checks the outputs against what the generator planted.

An operation is one pipeline or query call, ``op(spark, out)``; a pass
runs every operation of its workload once, in order, and ``out`` holds the
results of the operations before it. ``items`` is the work one pass
completes, the numerator of ``items_per_s``.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

import gen


class Geno:
    """The genotype dataflow a user runs end to end: PLINK ``.raw`` +
    covariates → ``preprocess.run_preprocessing`` (wide CSV parse,
    shuffle-at-rest, seeded split, covariate betas, pandas-UDF
    residualisation, bronze/gold parquet writes), then
    ``training.run_training`` on the gold tables it wrote (2-fold CV × one
    random-search combination, fit → prune → refit, predict, Platt scaling).

    The pipeline seed is fixed so every input seed trains the same
    hyperparameters (one depth-2 combination)."""

    n, p = 3000, 200
    n_folds, n_iter, n_boost_round, pipeline_seed = 2, 1, 4, 4
    auc_floor = 0.6
    item = "genotype cells (n x p)"

    def __init__(self, seed: int, work: str) -> None:
        self.g = gen.genotypes(seed, self.n, self.p)
        self.raw, self.cov = gen.write_plink(self.g, f"{work}/in")
        self.lake = f"{work}/lake"
        self.out_dir = f"{work}/train_out"
        self.items = self.n * self.p

    def trace(self, tracer) -> None:
        from daxos_spark import preprocess, training
        from daxos_spark.ml import crossvalidate

        for attr in ("read_plink_raw", "write_matrix", "read_matrix"):
            tracer.wrap(preprocess, attr, "sources.plink")
        tracer.wrap(preprocess, "read_covars", "sources.tables")
        tracer.wrap(preprocess, "seeded_id_split", "operators.splits")
        tracer.wrap(preprocess, "deconfound", "ml.deconfound")
        for module in (training, crossvalidate):
            for attr in ("fit_gbt", "predict_gbt"):
                tracer.wrap(module, attr, "ml.train")
            tracer.wrap(module, "score_model", "ml.scoring")
        tracer.wrap(crossvalidate, "with_fold_column", "operators.splits")
        tracer.wrap(training, "read_matrix", "sources.plink")
        tracer.wrap(training, "save_model", "ml.train")
        for attr in ("head_subsample", "subset_columns"):
            tracer.wrap(training, attr, "operators.subset")
        for attr in ("sample_param_grid", "cv_gbt"):
            tracer.wrap(training, attr, "ml.crossvalidate")
        for attr in ("used_features", "feature_importances"):
            tracer.wrap(training, attr, "ml.explain")
        for attr in ("fit_platt", "apply_platt"):
            tracer.wrap(training, attr, "ml.scale")

    def ops(self):
        from daxos_spark import preprocess, training

        def prep(spark, out):
            return preprocess.run_preprocessing(spark, self.raw, self.cov, self.lake)

        def train(spark, out):
            gold = out["run_preprocessing"]
            res = training.run_training(
                spark, gold.train_gold, gold.test_gold, self.out_dir,
                features_col="features_adj", n_folds=self.n_folds, n_iter=self.n_iter,
                cv_subsample=None, n_boost_round=self.n_boost_round, row_chunks=50,
                seed=self.pipeline_seed,
            )
            return res, res.predictions.collect()

        return [("run_preprocessing", "pipeline", prep), ("run_training", "pipeline", train)]

    def check(self, out: dict) -> tuple[float, list[str], dict]:
        """Quality: share of sampled residual cells within 1e-3 of a numpy
        least-squares oracle fitted on the train split the program chose.
        Every Platt-scaled prediction must be in [0, 1] and the test AUC at
        least ``auc_floor``; the AUC depends on the seed's draw, so it is a
        check and a recorded value, not the score."""
        res = out["run_preprocessing"]
        problems = []
        if res.n_total != self.n or res.n_train + res.n_test != self.n:
            problems.append(f"split sizes {res.n_train}+{res.n_test} (total {res.n_total}) != {self.n}")
        if res.n_features != self.p:
            problems.append(f"n_features {res.n_features} != {self.p}")
        rows, cells = [], []
        for path in (res.train_gold, res.test_gold):
            t = pq.read_table(f"{path}/fact.parquet", columns=["iid", "features_adj"])
            rows.append(np.array([int(s[1:]) for s in t.column("iid").to_pylist()]))
            cells.append(t.column("features_adj").combine_chunks().flatten().to_numpy().reshape(-1, self.p))
        train, test = rows
        quality = 0.0
        if len(np.union1d(train, test)) != self.n or len(np.intersect1d(train, test)):
            problems.append("train/test gold rows are not a partition of the input")
        else:
            fit = np.zeros(self.n, bool)
            fit[train] = True
            # the covariates the program reads are the 6-decimal TSV values
            oracle = gen.residualize(self.g.x, np.round(self.g.covars, 6), fit)
            got = np.concatenate(cells)
            ids = np.concatenate(rows)
            rng = np.random.default_rng(0)
            r = rng.integers(0, len(ids), size=512)
            c = rng.integers(0, self.p, size=512)
            quality = float(np.mean(np.abs(got[r, c] - oracle[ids[r], c]) < 1e-3))
            if quality < 1.0:
                problems.append(f"{quality:.1%} of sampled residual cells within 1e-3 of the least-squares oracle")

        fit_res, preds = out["run_training"]
        if len(preds) != res.n_test:
            problems.append(f"{len(preds)} predictions for {res.n_test} test rows")
        if not all(0.0 <= r["y_pred_platt_scaled"] <= 1.0 for r in preds):
            problems.append("Platt-scaled prediction outside [0, 1]")
        auc = float(fit_res.test_score)
        if auc < self.auc_floor:
            problems.append(f"test AUC {auc:.4f} below {self.auc_floor}: the planted causal SNPs were not learned")
        return quality, problems, {"test_auc": auc}


def _shingles(text: str) -> set[str]:
    """``functions.hashing.word_shingles(lower(trim(text)), 3)`` in Python."""
    toks = text.strip().lower().split()
    k = max(len(toks) - 2, 1)
    return {" ".join(toks[i : i + 3]) for i in range(k)}


class NearDup:
    """A ``documents`` table with planted near-duplicate families →
    the registered ``t_dedup_best_keep`` (shingle edges, hot-shingle cap,
    ``connected_components``, keep-longest) and ``d_lsh_candidates``
    (MinHash banding, no connected components), each a query call plus a
    noop write."""

    n_unique = 10000
    family_sizes = [80, 40, 20, 12, 8, 6, 5, 4, 3, 3, 2, 2, 2, 2]
    queries = ("t_dedup_best_keep", "d_lsh_candidates")
    item = "input documents"

    def __init__(self, seed: int, work: str) -> None:
        self.c = gen.corpus(seed, self.n_unique, self.family_sizes)
        self.catalog = gen.write_catalog(self.c, f"{work}/catalog")
        self.items = len(self.c.texts)

    def trace(self, tracer) -> None:
        from daxos_spark.operators import components
        from daxos_spark.plans import docpipe, textpipe

        for module in (docpipe, textpipe):
            tracer.wrap(module, "load_tables", "catalog")
        # callers import it at call time, so the module attribute is the binding
        tracer.wrap(components, "connected_components", "operators.components")

    def ops(self):
        from daxos_spark.plans.registry import get_specs

        specs = get_specs()

        def query(name):
            def run(spark, out):
                df = specs[name].spark(spark, self.catalog)
                df.write.format("noop").mode("overwrite").save()
                return df

            return run

        return [(q, f"plans.{q}", query(q)) for q in self.queries]

    def check(self, out: dict) -> tuple[float, list[str], dict]:
        """Quality: share of planted families collapsed to exactly one
        keeper — the family's longest document, lowest id on ties — with
        every other member removed."""
        problems = []
        texts = self.c.texts
        keep = out["t_dedup_best_keep"].collect()
        if len(keep) != len(self.c.families):
            problems.append(f"{len(keep)} multi-member clusters for {len(self.c.families)} planted families")
        fam_of = np.full(len(texts), -1)
        good = 0
        for f, members in enumerate(self.c.families):
            fam_of[members] = f
            ids = set(members.tolist())
            hits = [r for r in keep if r["kept_doc"] in ids]
            best = max(ids, key=lambda d: (len(texts[d]), -d))
            if len(hits) == 1 and hits[0]["kept_doc"] == best and hits[0]["n_removed"] == len(members) - 1:
                good += 1
        pairs = out["d_lsh_candidates"].collect()
        if len(pairs) != 20:
            problems.append(f"d_lsh_candidates returned {len(pairs)} rows, expected 20")
        for r in pairs:
            a, b = r["da"], r["db"]
            sa, sb = _shingles(texts[a]), _shingles(texts[b])
            inter = len(sa & sb)
            exact = np.floor(inter / (len(sa) + len(sb) - inter) * 1e6) / 1e6
            if not (a < b and fam_of[a] == fam_of[b] != -1 and abs(r["jaccard"] - exact) < 1e-9):
                problems.append(f"d_lsh_candidates pair ({a}, {b}, {r['jaccard']}) is not a planted pair with that Jaccard")
        return good / len(self.c.families), problems, {}


WORKLOADS = {"geno": Geno, "neardup": NearDup}
