"""Round-11 additions: cap-fire census (no-silent-caps monitor),
ANCHOR_RE DOTALL cross-engine alignment, URL canonicalization + dedup,
opt-out gate, HTML end-to-end refinery composition."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from conftest import mini_sf_dir

SF_DIR = "/root/testdata/sf0.001"


def test_cap_census_fires_on_planted_family(spark, tmp_path):
    """The no-silent-caps monitor: on a corpus with a planted duplicate
    family, the census (a) matches duckdb exactly, (b) raises the alarm
    (rows_dropped > 0) at the small ladder steps where a cap WOULD drop
    the family, (c) stays quiet at every lane's real production cap on
    a healthy-sized corpus, and (d) names exactly the mass a capped
    dedup run silently skips."""
    import duckdb

    from daxos_spark.plans.docpipe2 import (
        _cap_census_oracle,
        d_simhash_neardup,
        t_cap_census,
    )

    fam = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    pair = "one two three four five six seven eight nine ten"
    rows = (
        [(i, "web", fam) for i in range(5)]  # family of 5 > ladder step 2
        + [(10, "web", pair), (11, "web", pair)]
        + [(20, "web", "lorem ipsum dolor sit amet consectetur adipiscing")]
    )
    sf = mini_sf_dir(spark, tmp_path, rows, SF_DIR)

    got = {
        (r["lane"], r["cap"]): (
            r["n_buckets"],
            r["max_bucket"],
            r["n_over"],
            r["rows_dropped"],
        )
        for r in t_cap_census(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    oracle = {
        (r[0], r[1]): tuple(r[2:])
        for r in con.execute(_cap_census_oracle()).fetchall()
    }
    assert got == oracle
    assert len(got) == 12  # 3 lanes x (3 ladder steps + real cap)

    # (b) the alarm fires at cap=2 in every lane (the family of 5
    # shares every band bucket and every shingle)
    for lane in ("lsh_shingle", "lsh_band", "simhash_band"):
        n_b, mx, n_over, dropped = got[(lane, 2)]
        assert n_over > 0 and dropped > 0, lane
        assert mx >= 5, lane  # the family is the max bucket

    # (c) quiet at the real caps — no bucket outgrows this corpus
    from daxos_spark.operators.neardup import BUCKET_CAP

    for lane in ("lsh_shingle", "lsh_band", "simhash_band"):
        assert got[(lane, BUCKET_CAP)][2:] == (0, 0), lane

    # (d) the pairing that makes the cap non-silent: a dedup run capped
    # at 2 flags ZERO family pairs — and the census at that threshold
    # is exactly the signal that says so
    capped_pairs = {
        (r["da"], r["db"]) for r in d_simhash_neardup(spark, sf, bucket_cap=2).collect()
    }
    assert capped_pairs == {(10, 11)}  # family silently absent...
    assert got[("simhash_band", 2)][3] >= 5 * 4  # ...but census names its mass


def test_refinery_html_composed_equals_staged(spark, tmp_path):
    """t_refinery_html_e2e (one plan) must equal the staged deployment
    (extract -> materialize -> t_refinery_linear) on a corpus where
    extraction is NON-TRIVIAL: doc 3's text is too short to survive
    block scoring (empty extraction), so the composed funnel must drop
    it at stage 2 AND exclude it from the semantic keep-list doc set."""
    from daxos_spark.plans.htmlpipe import _refinery_html_parts, t_refinery_html_e2e
    from daxos_spark.plans.textpipe import _refinery_gates_from, _refinery_verdicts
    from daxos_spark.plans.textpipe import _refinery_stage_agg  # noqa: F401

    rows = [
        (
            i,
            "web",
            " ".join(f"w{j} the of and to in" for j in range(6)).replace("w", f"t{i}w"),
        )
        for i in range(3)
    ] + [(3, "web", "tiny")]  # 1 token -> every block under MIN_WORDS
    sf = mini_sf_dir(spark, tmp_path, rows, SF_DIR)

    funnel = {r["stage"]: (r["stage_name"], r["n_docs"]) for r in t_refinery_html_e2e(spark, sf).collect()}
    assert funnel[1] == ("raw_html", 4)
    assert funnel[2] == ("extracted", 3)  # doc 3's extraction is empty

    # staged lane: gates fed the materialized extracted text directly
    ext, verdicts, caches = _refinery_html_parts(spark, sf)
    exd = ext.filter(F.length("text") > 0)
    import pandas as pd_  # noqa: F401

    mat = exd.select("doc_id", "source", "text").toPandas()
    assert set(mat["doc_id"]) == {0, 1, 2}
    staged = _refinery_verdicts(
        *_refinery_gates_from(spark.createDataFrame(mat))[:3],
        # semantic stage vacuous here (no embeddings rows for these ids)
        spark.createDataFrame([], "doc_id bigint, sem0 int"),
    )
    got = {
        int(r["doc_id"]): (r["p_gopher"], r["p_ppl"], r["p_sub"], r["p_sem"])
        for r in staged.collect()
    }
    composed = {
        int(r["doc_id"]): (r["p_gopher"], r["p_ppl"], r["p_sub"], r["p_sem"])
        for r in _refinery_html_parts(spark, sf)[1].collect()
    }
    assert got == composed and set(got) == {0, 1, 2}
    spark.catalog.clearCache()


def test_url_canonical_adversarial_pairs(spark):
    """Adversarial URL variant pairs must collapse to the documented
    canonical form IDENTICALLY in both engines (case, www, default
    port, tracking params, fragment, trailing slash), and the
    documented non-rules (non-default port, real params, scheme-less,
    double slashes) must pass through."""
    import duckdb

    from daxos_spark.functions.url import sql_url_canonical, url_canonical_sqlexpr

    cases = {
        "https://www.Example.COM:443/Articles/Doc-7/?utm_source=f&utm_medium=r#top":
            "https://example.com/Articles/Doc-7",
        "HTTP://NEWS.example.com:80/a/b?id=3&utm_campaign=x&ref=home":
            "http://news.example.com/a/b?id=3",
        "https://example.com/a/b/?ref=nav": "https://example.com/a/b",
        "https://example.com/?utm_source=x": "https://example.com",
        "https://example.com/a?x=1&fbclid=abc": "https://example.com/a?x=1",
        "https://example.com/a?utm_a=1&utm_b=2": "https://example.com/a",
        "https://www.example.com": "https://example.com",
        # non-rules: unchanged
        "https://example.com:8443/keep-port": "https://example.com:8443/keep-port",
        "https://example.com//double//": "https://example.com//double//",
        "example.com/no-scheme/?utm_source=x#f": "example.com/no-scheme",
    }
    sdf = spark.createDataFrame([(u,) for u in cases], "u string")
    got_s = dict(
        zip(cases, (r[0] for r in sdf.select(F.expr(url_canonical_sqlexpr("u"))).collect()))
    )
    con = duckdb.connect()
    for u, want in cases.items():
        got_d = con.execute(
            f"SELECT {sql_url_canonical('u')} FROM (SELECT ? AS u)", [u]
        ).fetchone()[0]
        assert got_s[u] == got_d == want, (u, got_s[u], got_d, want)


def test_optout_gate_planted_semantics(spark, tmp_path):
    """The robots/opt-out verdicts on a planted corpus: doc_ids
    divisible by 13 carry noai, by 17 noindex (13 wins on both), and
    the per-source opt-out list drops its sources regardless of meta."""
    from daxos_spark.operators.refinery import _OPTOUT_SOURCES
    from daxos_spark.plans.htmlpipe import _optout_verdicts_spark

    rows = [
        (0, "src0", "zero is divisible by everything and takes noai"),
        (13, "src0", "thirteen carries the noai meta tag here"),
        (17, "src0", "seventeen carries the noindex meta tag here"),
        (21, "src0", "twentyone carries no robots meta at all"),
        (25, _OPTOUT_SOURCES[0], "source level opt out drops this"),
        (221, _OPTOUT_SOURCES[1], "both meta (13 wins) AND source opt-out"),
    ]
    sf = mini_sf_dir(spark, tmp_path, rows, SF_DIR)
    got = {
        r["doc_id"]: (r["meta_noai"], r["meta_noindex"], r["src_optout"], r["kept"])
        for r in _optout_verdicts_spark(spark, sf).collect()
    }
    assert got[0] == (1, 0, 0, 0)  # %13 == 0 -> noai (CASE order)
    assert got[13] == (1, 0, 0, 0)
    assert got[17] == (0, 1, 0, 0)
    assert got[21] == (0, 0, 0, 1)  # no meta, clean source -> kept
    assert got[25] == (0, 0, 1, 0)  # source opt-out alone drops
    assert got[221] == (1, 0, 1, 0)  # 221 = 13*17: noai arm + source


def test_optout_gate_handcrafted_pages(spark):
    """The opt-out gate columns on handcrafted page bytes the planted
    fixture never produces (case, multi-directive content, the exact
    'none' test, other bots' meta tags), row by row against a plain-
    Python restatement of the rule and against the hand-derived
    verdict (meta_noai, meta_noindex, src_optout, kept)."""
    import re

    from daxos_spark.operators.refinery import _META_ROBOTS_RE, _OPTOUT_SOURCES, optout_gate

    head = "<html><head><title>t</title>{}</head><body><p>some text</p></body></html>"
    cases = [
        ('<meta name="robots" content="NoAI">', "src0", (1, 0, 0, 0)),
        ('<META NAME="ROBOTS" CONTENT="NOINDEX">', "src0", (0, 1, 0, 0)),
        ('<meta name="robots" content="noindex, follow">', "src0", (0, 1, 0, 0)),
        ('<meta name="robots" content="none">', "src0", (0, 1, 0, 0)),
        ('<meta name="robots" content="nonesuch">', "src0", (0, 0, 0, 1)),
        ('<meta name="googlebot" content="noindex">', "src0", (0, 0, 0, 1)),
        ("", "src0", (0, 0, 0, 1)),
        ("", _OPTOUT_SOURCES[0], (0, 0, 1, 0)),
    ]
    df = spark.createDataFrame(
        [(i, src, head.format(meta)) for i, (meta, src, _) in enumerate(cases)],
        "doc_id long, source string, page string",
    )
    got = {
        r["doc_id"]: (r["meta_noai"], r["meta_noindex"], r["src_optout"], r["kept"])
        for r in optout_gate(df).collect()
    }

    def rule(page, source):
        m = re.search(_META_ROBOTS_RE, page)
        robots = (m.group(1) if m else "").lower()
        noai = int("noai" in robots)
        noindex = int("noindex" in robots or robots == "none")
        optout = int(source in _OPTOUT_SOURCES)
        return noai, noindex, optout, int(noai == noindex == optout == 0)

    for i, (meta, src, want) in enumerate(cases):
        assert got[i] == rule(head.format(meta), src) == want, (meta, src, got[i])


def test_url_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming URL dedup at ingest (canonicalize -> stream-static
    anti-join -> first-occurrence) == the batch admission set, across
    SCRAMBLED micro-batches (one parquet file per batch)."""
    import pandas as pd

    from daxos_spark.functions.url import url_canonical_sqlexpr
    from daxos_spark.streaming.pipelines import (
        run_to_memory,
        url_corpus_index,
        url_ingest_stream,
    )

    corpus = spark.createDataFrame(
        pd.DataFrame({"url": ["https://www.Example.com/a/1?utm_source=x",
                              "https://example.com/a/2"]})
    )
    idx = url_corpus_index(corpus)
    arriving = [
        # variants of corpus url 1 -> all dropped by the anti-join
        (100, "https://example.com/a/1"),
        (101, "HTTPS://EXAMPLE.COM/a/1#frag"),
        # a brand-new article fetched under THREE variant spellings ->
        # exactly one admitted (first occurrence by arrival order
        # within the drained stream)
        (102, "https://www.example.com/a/9/"),
        (103, "https://example.com:443/a/9?ref=x"),
        (104, "https://example.com/a/9"),
        # plain new page -> admitted
        (105, "http://other.net/p"),
    ]
    arr_dir = tmp_path / "arriving"
    arr_dir.mkdir()
    # scrambled micro-batches: one file per row, shuffled deterministically
    for i, (pid, url) in enumerate([arriving[3], arriving[0], arriving[5],
                                    arriving[2], arriving[4], arriving[1]]):
        spark.createDataFrame(
            pd.DataFrame({"page_id": [pid], "url": [url]})
        ).coalesce(1).write.parquet(str(arr_dir / f"b{i}"))
    stream = (
        spark.readStream.schema("page_id long, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(arr_dir / "b*"))
    )
    run_to_memory(
        url_ingest_stream(stream, idx, unbounded_ok=True),
        "urlingest",
        output_mode="append",
    )
    got = {r["page_id"] for r in spark.sql("SELECT page_id FROM urlingest").collect()}
    assert not got & {100, 101}  # corpus dups dropped
    assert len(got & {102, 103, 104}) == 1  # one admission per canonical key
    assert 105 in got
    # batch twin: same admission CARDINALITY per canonical key
    batch = spark.createDataFrame(
        pd.DataFrame({"page_id": [p for p, _ in arriving],
                      "url": [u for _, u in arriving]})
    ).withColumn("curl", F.expr(url_canonical_sqlexpr("url")))
    admitted_keys = (
        batch.join(idx, "curl", "left_anti").select("curl").distinct().count()
    )
    assert admitted_keys == len(got) == 2


def test_url_ingest_stream_refusal(spark, tmp_path):
    """url_ingest_stream enforces the watermark contract: unbounded
    unwatermarked streams are refused unless explicitly accepted."""
    import pandas as pd
    import pytest

    from daxos_spark.streaming.pipelines import url_corpus_index, url_ingest_stream

    idx = url_corpus_index(
        spark.createDataFrame(pd.DataFrame({"url": ["https://example.com/a"]}))
    )
    d = tmp_path / "arr"
    spark.createDataFrame(
        pd.DataFrame({"page_id": [1], "url": ["https://example.com/b"]})
    ).write.parquet(str(d))
    stream = spark.readStream.schema("page_id long, url string").parquet(str(d))
    with pytest.raises(ValueError, match="url_ingest_stream"):
        url_ingest_stream(stream, idx)


def test_ingest_e2e_funnel_ground_truth(spark, tmp_path):
    """The composed ingest funnel on a planted corpus with an exact
    URL-duplicate family: doc_ids 1/212/423 are snapshots of the SAME
    article (doc_id % 211), so URL dedup must collapse them to one
    (the latest), and the downstream stages see only survivors."""
    from daxos_spark.plans.urlpipe import _ingest_e2e_impl

    body = "the quick brown fox of the lazy dog and the river " * 3
    rows = [
        (1, "src0", body),
        (212, "src0", body + "extra words here"),
        (423, "src0", body + "more trailing content"),  # latest snapshot
        (2, "src0", body),
    ]
    sf = mini_sf_dir(spark, tmp_path, rows, SF_DIR)
    funnel = {
        r["stage"]: (r["stage_name"], r["n_docs"])
        for r in _ingest_e2e_impl(spark, sf).collect()
    }
    assert funnel[1] == ("raw_snapshots", 4)
    assert funnel[2] == ("url_dedup", 2)  # {1,212,423} -> one; {2} -> one
    assert funnel[3] == ("optout_gate", 2)  # no meta arms, clean source
    assert funnel[4] == ("extracted", 2)
    # monotone non-increasing doc counts through the whole funnel
    counts = [funnel[s][1] for s in sorted(funnel)]
    assert all(a >= b for a, b in zip(counts, counts[1:]))


def test_anchor_re_dotall_cross_engine(spark):
    """ADVICE r10: without (?s), `.`'s line-terminator exclusion set
    differs between Java regex (excludes \\r) and RE2 (excludes only
    \\n), so an anchor whose inner text contains a bare \\r counted as
    link mass in duckdb but NOT in Spark. With (?is) both engines must
    count the identical anchor chars."""
    import duckdb

    from daxos_spark.functions.html import block_stats, sql_block_stats

    inner = "line one\rline two"  # bare \r — the exact divergence case
    html = f'<p><a href="/x">{inner}</a> tail words</p>'
    row = (
        spark.range(1)
        .select(F.lit(html).alias("html"))
        .select(block_stats("html").alias("st"))
        # Spark's [] indexing is 0-based: st[1] is the <p> inner block
        .select(F.expr("st[1].lc").alias("lc"), F.expr("st[1].txt").alias("txt"))
        .first()
    )
    # duckdb literal built via chr(13) (no escape-string dialect games);
    # duckdb's [] indexing is 1-based: s[2] is the same block
    duck_html = (
        "'<p><a href=\"/x\">line one' || chr(13) || 'line two</a> tail words</p>'"
    )
    lc_d, txt_d = duckdb.sql(
        f"SELECT s[2].lc, s[2].txt FROM (SELECT {sql_block_stats(duck_html)} AS s)"
    ).fetchone()
    assert row["lc"] == lc_d == len(inner)  # both count through the \r
    assert row["txt"] == txt_d == "line one line two tail words"


def test_ingest_delta_planted_verdicts(spark, tmp_path):
    """Incremental ingest on a planted corpus exercising every verdict
    class exactly once (doc_id arithmetic: article = doc_id % 211,
    delta = doc_id % 4 == 0 or article % 13 == 0, ts = TS0 + doc_id):

      article 4: day0 {215, 426}, batch {4}   -> STALE  (4 < 426)
      article 6: day0 {6, 217},   batch {428} -> NEWER  (428 > 217)
      article 0: batch {0, 211, 422}          -> NEW    (13 | 0)

    and the in-query md5 digest must prove merged == full recompute."""
    from daxos_spark.plans.urlpipe import _ingest_delta_impl

    body = "planted snapshot body with enough words to exist"
    rows = [(i, "src0", body) for i in (4, 215, 426, 6, 217, 428, 0, 211, 422)]
    sf = mini_sf_dir(spark, tmp_path, rows, SF_DIR)
    vals = {r["metric"]: r["value"] for r in _ingest_delta_impl(spark, sf).collect()}
    assert vals["committed_urls"] == 2  # articles 4 and 6
    assert vals["batch_snapshots"] == 5  # {4}, {428}, {0, 211, 422}
    assert vals["batch_urls"] == 3
    assert vals["new_urls"] == 1
    assert vals["refetch_newer"] == 1
    assert vals["refetch_stale"] == 1
    assert vals["pages_to_extract"] == 2  # new + newer; the stale one is free
    assert vals["extract_saved_vs_recompute"] == 1  # full recompute = 3 urls
    assert vals["merged_urls"] == vals["full_urls"] == 3
    assert vals["digest_match"] == 1


def test_ingest_delta_classes_nontrivial_at_sf0001(spark):
    """At the smallest driver SF the fixture split must exercise all
    three verdict classes with real mass and the incremental==full
    digest invariant must hold (the hash gate then pins it at every
    larger SF)."""
    from daxos_spark.plans.urlpipe import _ingest_delta_impl

    vals = {
        r["metric"]: r["value"]
        for r in _ingest_delta_impl(spark, SF_DIR).collect()
    }
    assert vals["new_urls"] > 0
    assert vals["refetch_newer"] > 0
    assert vals["refetch_stale"] > 0
    assert vals["batch_urls"] == (
        vals["new_urls"] + vals["refetch_newer"] + vals["refetch_stale"]
    )
    assert vals["digest_match"] == 1
    assert vals["merged_urls"] == vals["full_urls"]
    # the economics the shape exists for: most of the corpus skips
    # extraction on an incremental day
    assert vals["extract_saved_vs_recompute"] > vals["pages_to_extract"]


def test_ingest_delta_stream_matches_batch(spark, tmp_path):
    """Refetch-aware streaming ingest classification == the batch
    verdicts of t_ingest_delta's classify stage, across SCRAMBLED
    micro-batches — exact equality (not just cardinality) because the
    stage is deliberately stateless (latest-per-key reconciliation
    belongs to the next index refresh, not the stream)."""
    import pandas as pd

    from daxos_spark.streaming.pipelines import (
        ingest_delta_stream,
        run_to_memory,
        url_index_latest,
    )

    committed = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [
                    "https://www.Example.com/a/1?utm_source=x",  # last_ts 50
                    "https://example.com/a/1",                   # same key, older
                    "https://example.com/a/2",                   # last_ts 70
                ],
                "ts": [50, 40, 70],
            }
        )
    )
    idx = url_index_latest(committed)
    assert {(r["curl"].split("/")[-1], r["last_ts"]) for r in idx.collect()} == {
        ("1", 50),
        ("2", 70),
    }
    arriving = [
        (200, "https://example.com/a/1#frag", 60),   # newer than 50 -> admitted
        (201, "HTTPS://EXAMPLE.COM/a/1", 45),        # stale vs 50 -> dropped
        (202, "https://example.com:443/a/2?ref=x", 70),  # ts == last_ts -> stale
        (203, "https://example.com/a/9/", 10),       # new key -> admitted
        (204, "https://example.com/a/9", 5),         # SAME new key, same epoch:
        # also admitted (stateless) — reconciled by the next index merge
    ]
    arr_dir = tmp_path / "arr"
    arr_dir.mkdir()
    for i, row in enumerate([arriving[2], arriving[4], arriving[0],
                             arriving[3], arriving[1]]):
        spark.createDataFrame(
            pd.DataFrame([row], columns=["page_id", "url", "ts"])
        ).coalesce(1).write.parquet(str(arr_dir / f"b{i}"))
    stream = (
        spark.readStream.schema("page_id long, url string, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(arr_dir / "b*"))
    )
    run_to_memory(
        ingest_delta_stream(stream, idx), "ingestdelta", output_mode="append"
    )
    got = {
        (r["page_id"], r["verdict"])
        for r in spark.sql("SELECT page_id, verdict FROM ingestdelta").collect()
    }
    assert got == {
        (200, "refetch_newer"),
        (203, "new_url"),
        (204, "new_url"),
    }
    # batch twin: identical verdict set from the same classify expression
    batch = spark.createDataFrame(
        pd.DataFrame(arriving, columns=["page_id", "url", "ts"])
    )
    batch_got = {
        (r["page_id"], r["verdict"])
        for r in ingest_delta_stream(batch, idx).collect()
    }
    assert batch_got == got


def test_ingest_epochs_fold_closure(spark):
    """The two-day fold: every verdict class must carry real mass in
    BOTH epochs, the fold must land on the full-recompute index
    (in-query digest), and — the composition cross-check — the folded
    index digest must equal t_ingest_delta's full-recompute digest on
    the same corpus (both are digests of the same ground-truth index)."""
    from daxos_spark.plans.urlpipe import _ingest_delta_impl, _ingest_epochs_impl

    vals = {
        r["metric"]: r["value"]
        for r in _ingest_epochs_impl(spark, SF_DIR).collect()
    }
    for e in (1, 2):
        assert vals[f"ep{e}_new_urls"] > 0
        assert vals[f"ep{e}_refetch_newer"] > 0
        assert vals[f"ep{e}_refetch_stale"] > 0
        assert vals[f"ep{e}_batch_urls"] == (
            vals[f"ep{e}_new_urls"]
            + vals[f"ep{e}_refetch_newer"]
            + vals[f"ep{e}_refetch_stale"]
        )
    # the index only grows across epochs, and the fold ends exact
    assert vals["ep1_merged_urls"] <= vals["ep2_merged_urls"] == vals["fold_urls"]
    assert vals["digest_match"] == 1
    delta = {
        r["metric"]: r["value"]
        for r in _ingest_delta_impl(spark, SF_DIR).collect()
    }
    assert vals["full_digest"] == delta["full_digest"]


def test_host_yield_conservation(spark):
    """The per-host crawl-economics census must be a CONSERVATIVE
    decomposition of the global ingest funnel: summed over hosts, the
    stage counts equal t_ingest_e2e's stage totals on the same corpus,
    and within each host the funnel is monotone non-increasing."""
    from daxos_spark.plans.urlpipe import _host_yield_impl, _ingest_e2e_impl

    rows = _host_yield_impl(spark, SF_DIR).collect()
    assert len(rows) == 7  # the fixture's host universe
    for r in rows:
        assert (
            r["n_snapshots"] >= r["n_canonical"] >= r["n_compliant"]
            >= r["n_extracted"] >= r["n_gopher"]
        )
        assert 0.0 <= r["yield_per_fetch"] <= 1.0
    funnel = {
        f["stage_name"]: f["n_docs"]
        for f in _ingest_e2e_impl(spark, SF_DIR).collect()
    }
    assert sum(r["n_snapshots"] for r in rows) == funnel["raw_snapshots"]
    assert sum(r["n_canonical"] for r in rows) == funnel["url_dedup"]
    assert sum(r["n_compliant"] for r in rows) == funnel["optout_gate"]
    assert sum(r["n_extracted"] for r in rows) == funnel["extracted"]
    assert sum(r["n_gopher"] for r in rows) == funnel["gopher_rules"]


def test_crawl_budget_apportionment(spark):
    """Hamilton apportionment properties on the live census: exact
    budget conservation, quota rule (every alloc within 1 of its exact
    proportional share), monotone weights -> allocations, and a full
    pure-python largest-remainder replay."""
    from daxos_spark.plans.urlpipe import _CRAWL_BUDGET, _crawl_budget_impl

    rows = sorted(
        _crawl_budget_impl(spark, SF_DIR).collect(), key=lambda r: r["host"]
    )
    assert len(rows) == 7
    B = _CRAWL_BUDGET
    W = sum(r["wt"] for r in rows)
    assert all(r["total_alloc"] == B for r in rows)
    assert sum(r["alloc"] for r in rows) == B
    for r in rows:
        exact = B * r["wt"] / W
        assert exact - 1 < r["alloc"] < exact + 1  # quota rule
        assert r["extra"] in (0, 1)
    # python replay: same base/remainder/leftover assignment
    base = {r["host"]: B * r["wt"] // W for r in rows}
    rem = {r["host"]: B * r["wt"] % W for r in rows}
    leftover = B - sum(base.values())
    ranked = sorted(rows, key=lambda r: (-rem[r["host"]], r["host"]))
    extras = {r["host"]: 1 if i < leftover else 0 for i, r in enumerate(ranked)}
    for r in rows:
        assert r["base_alloc"] == base[r["host"]]
        assert r["extra"] == extras[r["host"]]


def test_manifest_diff_conservation(spark):
    """The shard diff must tie exactly to the delta census: Σ added ==
    pages_to_extract, Σ removed == refetch_newer (each replaced URL
    retires exactly one old doc), version-B totals == merged index, and
    every shard with zero added+removed must be flagged unchanged (the
    only-rewrite-changed-shards economics)."""
    from daxos_spark.plans.urlpipe import _ingest_delta_impl, _manifest_diff_impl

    rows = _manifest_diff_impl(spark, SF_DIR).collect()
    delta = {
        r["metric"]: r["value"]
        for r in _ingest_delta_impl(spark, SF_DIR).collect()
    }
    assert sum(r["n_added"] for r in rows) == delta["pages_to_extract"]
    assert sum(r["n_removed"] for r in rows) == delta["refetch_newer"]
    assert sum(r["a_docs"] for r in rows) == delta["committed_urls"]
    assert sum(r["b_docs"] for r in rows) == delta["merged_urls"]
    for r in rows:
        if r["n_added"] == r["n_removed"] == 0:
            assert r["changed"] == 0
        else:
            assert r["changed"] == 1
    # the economics: an incremental day must not touch every shard...
    # unless the batch is large relative to 16 shards — assert only the
    # flag consistency above plus that BOTH states occur at this SF
    assert any(r["changed"] == 1 for r in rows)


def test_ingest_stream_e2e_matches_batch(spark, tmp_path):
    """The COMPOSED streaming ingest face (classify -> opt-out gate ->
    extract -> gopher) == the same chain applied in batch, across
    scrambled micro-batches — exact set equality because every stage is
    stateless. Fixture exercises each drop point: a stale refetch
    (classify), a noai page (gate), an empty-extraction page, and a
    full pass-through."""
    import pandas as pd

    from daxos_spark.streaming.pipelines import (
        ingest_stream_e2e,
        run_to_memory,
        url_index_latest,
    )

    body = " ".join(
        "the quick brown fox jumps over the lazy dog near a quiet river "
        "bank while many other animals watch with great interest".split()
    )
    page_ok = (
        "<html><head></head><body><p>" + body + " " + body + "</p>"
        "<a href='https://x.example/y'>m</a></body></html>"
    )
    page_noai = page_ok.replace(
        "</head>", '<meta name="robots" content="noai"></head>'
    )
    page_empty = "<html><head></head><body><a href='u'>l</a></body></html>"
    committed = spark.createDataFrame(
        pd.DataFrame({"url": ["https://example.com/a/1"], "ts": [50]})
    )
    idx = url_index_latest(committed)
    arriving = [
        (1, "src0", "https://example.com/a/1", 40, page_ok),     # stale
        (2, "src0", "https://example.com/a/1#f", 60, page_ok),   # newer, pass
        (3, "src0", "https://example.com/a/9", 10, page_noai),   # new, noai
        (4, "src0", "https://example.com/a/8", 10, page_empty),  # new, empty
        (5, "src0", "https://example.com/a/7", 10, page_ok),     # new, pass
    ]
    cols = ["doc_id", "source", "url", "ts", "page"]
    arr_dir = tmp_path / "arr"
    arr_dir.mkdir()
    for i, row in enumerate([arriving[3], arriving[1], arriving[4],
                             arriving[0], arriving[2]]):
        spark.createDataFrame(pd.DataFrame([row], columns=cols)).coalesce(
            1
        ).write.parquet(str(arr_dir / f"b{i}"))
    stream = (
        spark.readStream.schema(
            "doc_id long, source string, url string, ts long, page string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(arr_dir / "b*"))
    )
    run_to_memory(
        ingest_stream_e2e(stream, idx), "ingeste2e", output_mode="append"
    )
    got = {
        (r["doc_id"], r["verdict"], r["gopher_pass"])
        for r in spark.sql(
            "SELECT doc_id, verdict, gopher_pass FROM ingeste2e"
        ).collect()
    }
    assert {d for d, _, _ in got} == {2, 5}  # 1 stale, 3 noai, 4 empty
    assert got == {(2, "refetch_newer", 1), (5, "new_url", 1)}
    batch = spark.createDataFrame(pd.DataFrame(arriving, columns=cols))
    batch_got = {
        (r["doc_id"], r["verdict"], r["gopher_pass"])
        for r in ingest_stream_e2e(batch, idx).collect()
    }
    assert batch_got == got


def test_robots_txt_ground_truth(spark):
    """robots.txt gate vs an exact python replay: articles on host k are
    {a : a % 7 == k} (211 articles); archetype by k % 3 — 0: block paths
    starting /articles/1 or /articles/3, 1: block everything, 2: allow
    all. Census must match the arithmetic exactly."""
    from daxos_spark.plans.urlpipe import _N_ART, _N_HOST, t_robots_txt

    rows = {r["host"]: r for r in t_robots_txt(spark, SF_DIR).collect()}
    assert len(rows) == _N_HOST
    for k in range(_N_HOST):
        arts = [a for a in range(_N_ART) if a % _N_HOST == k]
        if k % 3 == 0:
            want = sum(str(a).startswith(("1", "3")) for a in arts)
        elif k % 3 == 1:
            want = len(arts)
        else:
            want = 0
        r = rows[f"example{k}.com"]
        assert r["n_urls"] == len(arts)
        assert r["n_blocked"] == want
        assert r["n_allowed"] == len(arts) - want
        assert r["n_rules"] == {0: 2, 1: 1, 2: 0}[k % 3]


def test_frontier_e2e_ground_truth(spark):
    """The frontier funnel's pre-fetch robots stage must match an exact
    python replay of the arithmetic fixture (article -> host -> policy
    archetype -> prefix match), the funnel must be monotone, and stage 1
    must equal t_ingest_e2e's raw census on the same corpus."""
    from daxos_spark.plans.urlpipe import (
        _N_ART,
        _N_HOST,
        _frontier_e2e_impl,
        _ingest_e2e_impl,
    )

    funnel = {
        r["stage"]: (r["stage_name"], r["n_docs"])
        for r in _frontier_e2e_impl(spark, SF_DIR).collect()
    }
    e2e = {
        r["stage_name"]: r["n_docs"]
        for r in _ingest_e2e_impl(spark, SF_DIR).collect()
    }
    assert funnel[1] == ("raw_snapshots", e2e["raw_snapshots"])
    # python replay of the pre-fetch robots verdict per snapshot
    n_allowed = 0
    for doc_id in range(funnel[1][1]):
        art = doc_id % _N_ART
        host = art % _N_HOST
        if host % 3 == 1:
            blocked = True
        elif host % 3 == 0:
            blocked = str(art).startswith(("1", "3"))
        else:
            blocked = False
        n_allowed += not blocked
    assert funnel[2] == ("robots_allowed", n_allowed)
    counts = [funnel[s][1] for s in sorted(funnel)]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    # the frontier gate must actually bite on this fixture
    assert funnel[2][1] < funnel[1][1]


def test_extracted_mass_all_optout_corpus(spark, tmp_path):
    """When no page passes the opt-out gate, the `extracted` stage of
    t_optout_refinery and of both ingest funnels reports a char mass of
    0 in Spark as in the oracle (a bare SUM over no rows is NULL). Every
    row of the three queries equals its registered oracle's."""
    import os

    import duckdb

    from daxos_spark.catalog import TABLES
    from daxos_spark.operators.refinery import _OPTOUT_SOURCES
    from daxos_spark.plans import get_specs

    words = "river stone field cloud forest meadow harbor lantern".split()
    rows = [
        (i, _OPTOUT_SOURCES[i % len(_OPTOUT_SOURCES)], " ".join(words[i % 5 :] + words) * 4)
        for i in range(1, 40)
    ]
    sf = mini_sf_dir(spark, tmp_path, rows, SF_DIR)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    specs = get_specs()
    for name in ("t_optout_refinery", "t_ingest_e2e", "t_frontier_e2e"):
        got = [tuple(r) for r in specs[name].spark(spark, sf).collect()]
        want = con.execute(specs[name].oracle).fetchall()
        assert got == want, name
        extracted = [r for r in got if "extracted" in r]
        assert len(extracted) == 1 and extracted[0][-2:] == (0, 0), (name, extracted)
