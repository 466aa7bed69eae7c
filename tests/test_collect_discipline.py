"""Static guard for the bounded-collect rule (round 9): ``.collect()`` /
``.toPandas()`` moves rows onto the DRIVER, so it is only legal on
relations whose size does NOT scale with the fact tables / corpus /
vocabulary — 1-row aggregates, p-length column vectors (p = SNP/feature
count, the reference's own driver-side unit, e.g. reference
daxos/deconfound.py's betas), K-bounded codebooks/centroids, fixed
panels, and per-round argmax picks. A collect of anything corpus-scaled
is the definition of a non-distributed operator.

Same construction as tests/test_broadcast_discipline.py (exact-count
allowlist, AST-attributed sites, staleness mirror): rounds 6-8 proved
manual sweeps of this failure class don't converge, so the fence is
static. Every matched call site in daxos_spark/ must appear here with
an exact count and a boundedness justification; adding a collect
anywhere fails this test until the site is reviewed and listed, and a
removed/moved site fails the staleness mirror until the entry is
updated.
"""

from __future__ import annotations

import pathlib
import re

from test_broadcast_discipline import _spans

PKG = pathlib.Path(__file__).resolve().parent.parent / "daxos_spark"

# matches driver-materialization calls only — NOT collect_list/collect_set
# (aggregate functions, executor-side), which lack the leading dot-call
# shape matched here.
PAT = re.compile(
    r"\.collect\(\)|\.toPandas\(\)|\.collectAsMap\(|\.toLocalIterator\("
)

# "relative/path.py:function" -> (exact matched-call count, why bounded)
ALLOWED: dict[str, tuple[int, str]] = {
    # -- CLI / sinks --------------------------------------------------------
    "cli.py:_write_small_csv": (
        1,
        "CSV sink for summary-sized outputs only (CV scores, importances, "
        "clump picks - reference S16 writes the same driver-side tables)",
    ),
    # -- sources: 1-row probes / validation ---------------------------------
    "sources/plink.py:read_plink_colnames": (1, "single header line (limit 1)"),
    "sources/plink.py:read_plink_raw": (
        1, "1-row recode-guard aggregate (max, non-1/2 and wrong-width counts)"
    ),
    "sources/plink.py:read_matrix": (
        2, "p-length name dim, the reference's in-memory `cols`; 1-row feature-width probe (limit 1)"
    ),
    "sources/tables.py:read_covars": (1, "1-row uniqueness-validation aggregate"),
    "sources/tables.py:best_hp_row": (1, "1-row arg-best (order+limit 1)"),
    # -- ml: gramian / coefficient collects (reference M-family design) -----
    "ml/deconfound.py:fit_betas": (
        1,
        "(p+1)-row per-position moment aggregate (label + p feature "
        "columns, (k+1)^2 sums each) - reference deconfound.py broadcasts "
        "the same beta matrix",
    ),
    "ml/deconfound.py:standardize_covars": (1, "1-row mean/std aggregate"),
    "ml/scoring.py:score_groups": (
        1,
        "grouped (score, rows, positives) table that score_auc, fit_platt "
        "and ml_auc_exact_audit read: one row per distinct score, so at "
        "most the rows scored - the reference scores y_true/y_pred on its "
        "driver (daxos/crossvalidate.py:130-145)",
    ),
    "ml/scoring.py:_regression_sums": (1, "1-row count / SSE / var_pop aggregate"),
    "ml/train.py:_xgb_continue": (
        1,
        "documented <8GiB fast-path training-matrix collect, byte-guarded "
        "upstream (raises past the bound; tools/continue_probe.py measures "
        "it) - the distributed path below is the scale lane",
    ),
    "ml/train.py:_xgb_continue_distributed": (
        1,
        "num_workers-bounded serialized boosters from the barrier stage",
    ),
    # -- operators -----------------------------------------------------------
    "operators/clumping.py:snp_correlation_matrix": (
        1,
        "p x p correlation aggregate (clumping operates on the p-sized "
        "sumstats panel, reference Q2 design)",
    ),
    "operators/clumping.py:ld_clump_r2": (
        1,
        "p-length sumstats panel (greedy clump order is inherently "
        "sequential over p SNPs, never over samples)",
    ),
    "operators/indexing.py:with_row_idx": (
        1,
        "#partitions-bounded per-partition row counts (zipWithIndex shape)",
    ),
    "operators/components.py:connected_components": (
        1,
        "1-row Σlabel convergence aggregate (replaces the per-round "
        "join+count changed-label job; labels are monotone so the sum "
        "is a complete convergence witness)",
    ),
    # -- plans: 1-row aggregates / per-round iterate picks -------------------
    "plans/analytics.py:q_bradley_terry": (
        1,
        "team-count-bounded win table for the driver-side MM solve "
        "(A10 altitude precedent, round-6 verdict-approved)",
    ),
    "plans/diagnostics.py:q_erasure_audit": (
        1,
        "fixed _ERASE_N subject panel (collect+relit to avoid re-scan)",
    ),
    "plans/docpipe.py:d_balanced_sample": (
        1,
        "1-row minority-class-size aggregate, relit as a literal so the "
        "per-class rank filter gets the WindowGroupLimit pushdown",
    ),
    "plans/mlpipe.py:ml_platt_calibration": (1, "1-row (a,b) coefficients"),
    "plans/mlpipe.py:ml_refit_pruned": (1, "p-length importance rows"),
    "plans/relational.py:q_ols_residualize": (1, "1-row gramian aggregate"),
    "plans/relational2.py:q_cusum_drift": (1, "1-row mean/std aggregate"),
    "plans/relational2.py:q_ewma_forecast": (1, "1-row hour-bounds aggregate"),
    "plans/relational2.py:q_seasonal_decompose": (1, "1-row hour-bounds aggregate"),
    "plans/relational2.py:q_label_propagation": (
        1,
        "1-row convergence-count aggregate per iteration (fixed rounds)",
    ),
    "plans/relational2.py:q_kcore_decomposition": (
        1,
        "1-row (node-count, degree-sum) aggregate per peel round over the "
        "checkpointed |V|-row degree relation (replaces two full edge-"
        "relation count jobs; fixed rounds)",
    ),
    "plans/textpipe.py:_bpe_learn": (
        1,
        "1-row best-pair argmax per merge round (fixed merge count)",
    ),
    "plans/textpipe.py:_kn_doc_nll": (1, "1-row discount/total aggregate"),
    "plans/textpipe.py:_lr_fit": (
        1,
        "1-row IRLS coefficient update per iteration (fixed iters, d+1 coefs)",
    ),
    # -- plans: ANN codebooks / panels ---------------------------------------
    "plans/vecpipe.py:e_pq_knn": (1, "M x K PQ anchor codebook"),
    "plans/vecpipe2.py:v_ivfpq_knn": (
        2,
        "K-bounded coarse centroids + M x K residual-PQ anchors",
    ),
    "plans/vecpipe2.py:v_kcenter_init": (
        3,
        "1-row seed pick + per-round 1-row farthest-point argmax + <=K "
        "chosen centers (K fixed)",
    ),
    "plans/vecpipe2.py:v_knn_blocked": (1, "K-bounded centroid codebook"),
    # -- streaming ------------------------------------------------------------
    "streaming/pipelines.py:ivf_assign_stream": (
        1,
        "K-bounded centroid codebook shipped into the stream closure",
    ),
}


def _inventory() -> dict[str, int]:
    seen: dict[str, int] = {}
    for p in sorted(PKG.rglob("*.py")):
        src = p.read_text()
        if not PAT.search(src):
            continue
        spans = _spans(src)
        for lineno, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            n = len(PAT.findall(code))
            if not n:
                continue
            name = "<module>"
            for s, e, nm in spans:
                if s <= lineno <= e:
                    name = nm
                    break
            key = f"{p.relative_to(PKG)}:{name}"
            seen[key] = seen.get(key, 0) + n
    return seen


def test_every_collect_is_allowlisted_and_bounded():
    seen = _inventory()
    unlisted = {
        k: n for k, n in seen.items() if k not in ALLOWED or n > ALLOWED[k][0]
    }
    assert not unlisted, (
        "driver-side collect/toPandas on a site not in the bounded allowlist "
        "(or above its reviewed count) - review boundedness (does the "
        "collected relation scale with facts/corpus/vocabulary?) and either "
        "restructure the operator to stay distributed or add the site with "
        f"a justification: {unlisted}"
    )


def test_allowlist_is_not_stale():
    """Exact mirror: an entry whose site shrank or disappeared must be
    updated, so every listed reason always describes live code."""
    seen = _inventory()
    stale = {
        k: (seen.get(k, 0), n) for k, (n, _) in ALLOWED.items() if seen.get(k, 0) != n
    }
    assert not stale, f"allowlist out of date (seen, listed): {stale}"


def test_every_entry_has_a_reason():
    for k, (n, reason) in ALLOWED.items():
        assert isinstance(reason, str) and len(reason) >= 10, k
        assert n >= 1, k


def test_guard_sees_an_unlisted_collect(tmp_path, monkeypatch):
    """Self-test of the fence: a synthetic module with a .collect() NOT in
    the allowlist must be caught (guards that can't fail don't guard)."""
    import test_collect_discipline as mod

    fake_pkg = tmp_path / "daxos_spark"
    fake_pkg.mkdir()
    (fake_pkg / "rogue.py").write_text(
        "def sneaky(df):\n    return df.collect()\n"
    )
    monkeypatch.setattr(mod, "PKG", fake_pkg)
    seen = mod._inventory()
    assert seen == {"rogue.py:sneaky": 1}
    assert "rogue.py:sneaky" not in mod.ALLOWED
