"""Round-10 additions: SimHash band-join hot-bucket cap (the MinHash
hot-shingle cap's twin), HTML main-content extraction, deterministic-
core companions. The duckdb hash gate proves cross-engine agreement at
the driver SFs; these prove the SEMANTICS on planted corpora."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from conftest import mini_sf_dir

SF_DIR = "/root/testdata/sf0.001"


def test_simhash_bucket_cap_drops_hot_family(spark, tmp_path):
    """A duplicate family larger than the cap packs one (band, value)
    bucket per band; the cap drops those buckets from candidate
    generation in BOTH engines — identical results, bounded join."""
    import duckdb

    from daxos_spark.plans.docpipe2 import _simhash_neardup_oracle, d_simhash_neardup

    fam = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    pair = "one two three four five six seven eight nine ten"
    rows = (
        [(i, "web", fam) for i in range(5)]  # family of 5 > cap 3
        + [(10, "web", pair), (11, "web", pair)]  # pair of 2 <= cap
        + [(20, "web", "lorem ipsum dolor sit amet consectetur adipiscing")]
    )
    sf = mini_sf_dir(spark, tmp_path, rows, SF_DIR)

    capped = {
        (r["da"], r["db"], r["hamming"])
        for r in d_simhash_neardup(spark, sf, bucket_cap=3).collect()
    }
    assert capped == {(10, 11, 0)}  # family dropped, pair survives

    # duckdb replays the same cap (QUALIFY twin of the anti-join)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    oracle = {
        tuple(r) for r in con.execute(_simhash_neardup_oracle(bucket_cap=3)).fetchall()
    }
    assert oracle == capped

    # uncapped: the family's C(5,2)=10 zero-Hamming pairs come back
    uncapped = {
        (r["da"], r["db"], r["hamming"])
        for r in d_simhash_neardup(spark, sf, bucket_cap=None).collect()
    }
    assert len(uncapped) == 11 and capped < uncapped


def test_simhash_production_cap_exceeds_gate_corpora():
    """No bucket can outgrow the corpus, so cap >= 50k guarantees the
    committed sf0.001/0.01/0.1 AND 10x-probe hashes are cap-invariant
    (measured max bucket: 36 / 36 / 382 at the driver SFs)."""
    from daxos_spark.operators.neardup import BUCKET_CAP

    assert BUCKET_CAP >= 50_000


def test_simhash_corpus_index_bucket_cap(spark):
    """The streaming corpus index honors the same cap: over-cap
    (band, value) buckets are absent, everything else is intact."""
    from daxos_spark.catalog import load_tables
    from daxos_spark.streaming.pipelines import simhash_corpus_index

    docs = load_tables(spark, SF_DIR)["documents"].select("doc_id", "text")
    full = simhash_corpus_index(docs)
    top = (
        full.groupBy("b", "bv")
        .count()
        .orderBy(F.col("count").desc())
        .first()
    )
    cap = int(top["count"]) - 1
    capped = simhash_corpus_index(docs, bucket_cap=cap)
    sizes = {
        (r["b"], r["bv"]): r["n"]
        for r in capped.groupBy("b", "bv").agg(F.count("*").alias("n")).collect()
    }
    assert (top["b"], top["bv"]) not in sizes
    assert sizes and max(sizes.values()) <= cap


def test_auc_exact_matches_mllib_evaluator(spark):
    """The exact AUC behind ml_auc_exact_audit and score_auc (integer
    Mann-Whitney, tie-averaged ranks) == MLlib's
    BinaryClassificationEvaluator trapezoid AUC in its no-binning regime
    (< 1000 distinct scores). Exercises ties (md5 % 64 over 500 rows)."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from daxos_spark.catalog import load_tables
    from daxos_spark.functions.hashing import md5_long
    from daxos_spark.ml.scoring import auc_of, score_groups

    e = load_tables(spark, SF_DIR)["embeddings"].filter(F.col("vec_id") < 500)
    scored = e.select(
        (F.col("label") >= 5).cast("double").alias("label"),
        F.pmod(
            md5_long(F.concat(F.lit("t#"), F.col("vec_id").cast("string"))),
            F.lit(64),
        ).cast("double").alias("y_pred"),
    ).cache()
    g = score_groups(scored)
    assert sum(g.n) == 500
    oracle = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="y_pred", metricName="areaUnderROC"
    ).evaluate(scored)
    assert abs(auc_of(g) - oracle) < 1e-9
    scored.unpersist()


def test_prune_replay_matches_engine_ranking(spark):
    """The hash-checked prune decision == the production path's
    (mean_abs_contributions over tree_contributions_from_flat) ranking:
    used features exactly {0,1}, survivor = the engine argmax."""
    from daxos_spark.ml.contrib import (
        mean_abs_contributions,
        tree_contributions_from_flat,
    )
    from daxos_spark.plans.mlpipe import (
        _fixed_pts,
        _fixed_tree,
        ml_prune_replay_fixed,
    )
    from daxos_spark.catalog import load_tables

    got = {r["pos"]: r for r in ml_prune_replay_fixed(spark, SF_DIR).collect()}
    assert {p for p, r in got.items() if r["used"]} == {0, 1}
    assert {p for p, r in got.items() if r["kept"]} < {0, 1}
    assert sum(r["kept"] for r in got.values()) == 1

    p1 = (10.0 * (1.0 / 3.0) + 30.0 * (5.0 / 7.0)) / 40.0
    p4 = (20.0 * (-1.0 / 3.0) + 40.0 * (3.0 / 7.0)) / 60.0
    p0 = (40.0 * p1 + 60.0 * p4) / 100.0
    e = load_tables(spark, SF_DIR)["embeddings"].filter(F.col("vec_id") < 500)
    pts = _fixed_pts(e)
    eng = {
        r["pos"]: r["mean_abs_contrib"]
        for r in mean_abs_contributions(
            tree_contributions_from_flat(
                pts, [_fixed_tree(internal_preds=(p0, p1, p4))], [1.0]
            )
        ).collect()
    }
    engine_argmax = max(eng, key=eng.get)
    assert got[engine_argmax]["kept"] == 1
    for p, v in eng.items():
        assert abs(v - got[p]["mean_abs_contrib"]) < 2e-6  # dsum ladder vs avg


def test_continuation_ladder_runs_real_models(spark):
    """Every ladder rung is a REAL fitted model: n_trees read back from
    MLlib equals the param, ensemble size accumulates."""
    from daxos_spark.plans.mlpipe import ml_continuation_ladder

    rows = sorted(
        (r["round_idx"], r["n_trees"], r["ensemble_trees"])
        for r in ml_continuation_ladder(spark, SF_DIR).collect()
    )
    assert rows == [(1, 2, 2), (2, 2, 4), (3, 2, 6)]


def test_html_extraction_is_content_lossless(spark):
    """On the synthesized fixture, every Gopher-eligible document's
    extracted text reconstructs its normalized token stream exactly, so
    the HTML funnel's gopher stage == the raw-text gopher gate's
    pass_all mass — extraction drops chrome, never content."""
    from daxos_spark.plans.htmlpipe import t_html_refinery
    from daxos_spark.plans.textpipe import t_gopher_rules

    stages = {
        r["stage_name"]: (r["n_docs"], r["n_tokens"])
        for r in t_html_refinery(spark, SF_DIR).collect()
    }
    raw_pass = sum(
        r["pass_all"] for r in t_gopher_rules(spark, SF_DIR).collect()
    )
    assert stages["gopher_rules"][0] == raw_pass
    # boilerplate really was removed: extracted mass < raw-page mass
    assert stages["extracted"][1] < stages["raw_html"][1]
    assert stages["extracted"][0] == stages["raw_html"][0]


def test_html_block_scoring_edges(spark):
    """Unit edges of the jusText-lite scorer: chrome dropped on link
    density, stubs dropped on length, content kept, <pre> not treated
    as a block boundary (tag-prefix guard), nested-anchor overcount is
    conservative."""
    from daxos_spark.functions.html import block_stats, extract_main

    html = (
        "<div><a href='/a'>one two three</a> <a href='/b'>four five six</a> ok</div>"
        "<p>this paragraph has plenty of ordinary words to keep around</p>"
        "<h1>short title</h1>"
        "<p>a <pre>pre is inline here</pre> block with enough words to survive</p>"
    )
    df = spark.createDataFrame([(html,)], "html string").withColumn(
        "stats", block_stats("html")
    )
    out = df.select(extract_main("stats").alias("t")).first()["t"]
    assert "plenty of ordinary words" in out
    assert "pre is inline here" in out  # <pre>/<b>-style inline tags stripped, text kept
    assert "one two three" not in out  # link-dense chrome dropped
    assert "short title" not in out  # sub-MIN_WORDS stub dropped


def test_html_link_graph_extracts_only_article_links(spark):
    """Each synthesized page carries exactly 2 internal /doc/ links
    (chrome hrefs excluded by the host-anchored pattern); the census
    totals must account for every one of them."""
    from daxos_spark.catalog import load_tables
    from daxos_spark.plans.htmlpipe import _LINK_MOD, t_html_link_graph

    n_docs = load_tables(spark, SF_DIR)["documents"].count()
    top = t_html_link_graph(spark, SF_DIR).collect()
    assert len(top) == 20
    assert all(0 <= r["dst"] < _LINK_MOD for r in top)
    # replay the planted modular link targets in python
    from collections import Counter

    c = Counter()
    for d in range(n_docs):
        c[(d * 7 + 3) % _LINK_MOD] += 1
        c[(d * 13 + 5) % _LINK_MOD] += 1
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r["dst"], r["in_degree"]) for r in top]
    assert got == want


def test_lsh_bucket_cap_drops_hot_family(spark, tmp_path):
    """The MinHash LSH band join honors the same hot-bucket cap as the
    SimHash lane: a duplicate family larger than the cap shares all
    band signatures and is dropped from candidate generation; the
    production cap is structurally gate-invariant (>= corpus size)."""
    from daxos_spark.operators.neardup import BUCKET_CAP
    from daxos_spark.plans.docpipe import d_lsh_candidates

    assert BUCKET_CAP >= 50_000
    fam = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    pair = (
        "one two three four five six seven eight nine ten eleven twelve"
    )
    rows = (
        [(i, "web", fam) for i in range(5)]
        + [(10, "web", pair), (11, "web", pair)]
        + [(20, "web", "lorem ipsum dolor sit amet consectetur adipiscing elit")]
    )
    sf = mini_sf_dir(spark, tmp_path, rows, SF_DIR)
    capped = {
        (r["da"], r["db"]) for r in d_lsh_candidates(spark, sf, bucket_cap=3).collect()
    }
    assert capped == {(10, 11)}
    uncapped = {
        (r["da"], r["db"])
        for r in d_lsh_candidates(spark, sf, bucket_cap=None).collect()
    }
    assert (10, 11) in uncapped and len(uncapped) == 11  # C(5,2) + the pair


def _shingles(text: str) -> set[str]:
    tk = text.lower().split()
    return {" ".join(tk[i : i + 3]) for i in range(max(len(tk) - 2, 1))}


def test_jaccard_pairs_same_source_exact(spark, tmp_path):
    """d_jaccard_pairs through the shared shingle-overlap operator
    (operators.neardup.shingle_overlap): pairs stay within a source, and
    every reported Jaccard is the exact truncated set ratio."""
    from daxos_spark.plans.docpipe import d_jaccard_pairs

    twin = "the quick brown fox jumps over the lazy dog today"
    rows = [
        # identical text in two sources: never a pair
        (1, "web", twin),
        (2, "news", twin),
        # same-source near-dup: one word changed at the end
        (10, "web", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (11, "web", "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        # same-source pair sharing exactly one shingle ("red green blue")
        (20, "books", "red green blue one two three four"),
        (21, "books", "five six seven red green blue"),
        (30, "books", "nothing shared with anyone here at all"),
    ]
    sf = mini_sf_dir(spark, tmp_path, rows, SF_DIR)
    got = {(r["da"], r["db"]): r["jaccard"] for r in d_jaccard_pairs(spark, sf).collect()}
    spark.catalog.clearCache()

    assert (1, 2) not in got
    assert set(got) == {(10, 11), (20, 21)}
    text = {d: t for d, _, t in rows}
    for (a, b), j in got.items():
        sa, sb = _shingles(text[a]), _shingles(text[b])
        inter = len(sa & sb)
        assert j == math.floor(inter / len(sa | sb) * 1e6) / 1e6, (a, b)
    assert len(_shingles(text[20]) & _shingles(text[21])) == 1


def test_html_entity_decode(spark):
    """Named entities + the numeric apostrophe decode after tag strip in
    extracted content; &amp;lt; single-decodes to the literal '&lt;'."""
    from daxos_spark.functions.html import block_stats, extract_main

    html = (
        "<p>tom &amp; jerry say &quot;hi&quot; it&#39;s a&nbsp;fine day"
        " and 1 &lt; 2 here</p>"
        "<p>escaped &amp;lt; stays literal in this second paragraph</p>"
    )
    df = spark.createDataFrame([(html,)], "html string").withColumn(
        "stats", block_stats("html")
    )
    out = df.select(extract_main("stats").alias("t")).first()["t"]
    assert 'tom & jerry say "hi" it\'s a fine day and 1 < 2 here' in out
    assert "escaped &lt; stays literal" in out


def test_html_dedup_recovery_ground_truth(spark):
    """Two-site rendering ground truth: raw-page fingerprints find ZERO
    cross-site duplicates (the title id alone makes every raw page
    unique — chrome always differs in the wild), extracted fingerprints
    pair every doc's two renderings."""
    from daxos_spark.plans.htmlpipe import t_html_dedup_recovery

    r = t_html_dedup_recovery(spark, SF_DIR).first()
    assert r["n_pages"] == 2 * r["extracted_unique"]
    assert r["dups_found_raw"] == 0
    assert r["dups_found_extracted"] == r["extracted_unique"]
    assert r["recovered"] == r["dups_found_extracted"]
