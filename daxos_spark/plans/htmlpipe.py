"""HTML-pipeline queries: main-content extraction + the HTML-fed
refinery head (round-10; VERDICT-r9 ask #4).

Beyond-parity (the reference processes no markup): the one
training-data pipeline stage the engine lacked — every text gate
assumed extracted text; these queries supply and audit the extraction
itself (functions/html.py, jusText-lite block scoring).

The harness registers no HTML table, so the fixture corpus is
SYNTHESIZED deterministically from ``documents.text`` inside the query
— in BOTH engines, from one shared template — and then extracted. The
template plants the canonical page chrome (nav / inline promo / footer,
all link-dense; a two-word title) around the document's text split
into two paragraphs, so the extractor must drop exactly the chrome and
reassemble the content. The duckdb oracle replays synthesis AND
extraction, so the hash gate covers the whole chain.

Scale shape: synthesis+extraction are per-row JVM string expressions
(zero shuffle); the only exchanges are the final per-source aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.hashing import md5_long_sql
from ..functions.html import page_text as _page_text
from ..functions.html import sql_page_text as _sql_page_text_fn
from ..functions.html import (
    MIN_WORDS,
    block_stats,
    keep_cond,
    sql_block_stats,
    sql_extract_main,
    sql_keep_cond,
)
from ..operators.refinery import (
    _META_ROBOTS_RE,
    _OPTOUT_SOURCES,
    extract_text,
    gopher_flags,
    gopher_pass,
    optout_gate,
    stage_census,
)
from .docpipe import _fanout
from .registry import QuerySpec, checkpoint_release, register, sql_trunc6, trunc6
from .textpipe import _TOKS, _gopher_cte


def _q(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        register(QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc, tags=("html",)))
        return fn

    return deco


# one template, two renderings — the pieces are (kind, value) with kind
# 'lit' (shared string literal), 'id' (doc_id), 'p1'/'p2' (paragraph
# halves of the tokenized text)
_TEMPLATE = (
    ("lit", '<html><head><title>doc '),
    ("id", None),
    ("lit", "</title></head><body>"),
    (
        "lit",
        '<div class="nav"><a href="/">home</a> <a href="/about">about us</a>'
        ' <a href="/contact">contact</a> <a href="/archive">archive</a></div>',
    ),
    ("lit", "<p>"),
    ("p1", None),
    ("lit", "</p>"),
    (
        "lit",
        '<div class="promo">subscribe to <a href="/newsletter">our weekly'
        ' newsletter</a> and <a href="/premium">go premium today</a> now</div>',
    ),
    ("lit", "<p>"),
    ("p2", None),
    ("lit", "</p>"),
    (
        "lit",
        '<div class="footer">copyright 2024 example corp &amp; co&nbsp;'
        '&#39;est 1999&#39; <a href="/terms">terms of service</a>'
        ' <a href="/privacy">privacy policy</a>'
        ' <a href="/cookies">cookie settings</a></div>',
    ),
    ("lit", "</body></html>"),
)

# paragraph split point: first ceil(n/2) tokens / the rest
_K_SQL = "((len(tk) + 1) // 2)"
_K_SPARK = "((size(tk) + 1) div 2)"


def _html_spark(template=_TEMPLATE) -> F.Column:
    parts = []
    for kind, val in template:
        if kind == "lit":
            parts.append(F.lit(val))
        elif kind == "id":
            parts.append(F.col("doc_id").cast("string"))
        elif kind == "p1":
            parts.append(F.expr(f"array_join(slice(tk, 1, {_K_SPARK}), ' ')"))
        else:
            parts.append(
                F.expr(f"array_join(slice(tk, {_K_SPARK} + 1, size(tk)), ' ')")
            )
    return F.concat(*parts)


def _html_sql(template=_TEMPLATE) -> str:
    parts = []
    for kind, val in template:
        if kind == "lit":
            parts.append("'" + val.replace("'", "''") + "'")
        elif kind == "id":
            parts.append("CAST(doc_id AS VARCHAR)")
        elif kind == "p1":
            parts.append(f"array_to_string(tk[1:{_K_SQL}], ' ')")
        else:
            parts.append(f"array_to_string(tk[{_K_SQL} + 1:len(tk)], ' ')")
    return " || ".join(parts)


def _html_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, lang, tk, html): every document rendered through
    _TEMPLATE (columns a caller does not read are pruned from its plan)."""
    from ..functions import text as T

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    return d.select("doc_id", "source", "lang", T.tokens(F.col("text")).alias("tk")).withColumn(
        "html", _html_spark()
    )


# whole-page word count: the raw-html stage's token mass
_RAW_WORDS = f"size(split({_page_text('html')}, ' '))"

_HTML_BASE_SQL = f"""base AS (
      SELECT doc_id, source, {_TOKS} AS tk FROM documents
    ), h AS (
      SELECT doc_id, source, {_html_sql()} AS html FROM base
    ), st AS (
      SELECT doc_id, source, html, {sql_block_stats('html')} AS stats FROM h
    )"""


@_q(
    "t_html_extract",
    f"""
    WITH {_HTML_BASE_SQL},
    b AS (
      SELECT doc_id, source, unnest(stats) AS s FROM st
    ), m AS (
      SELECT doc_id, source,
             len(s.txt) AS chars,
             CASE WHEN len(s.txt) = 0 THEN 0
                  ELSE len(string_split(s.txt, ' ')) END AS nw,
             s.lc AS lc,
             CASE WHEN {sql_keep_cond('s')} THEN 1 ELSE 0 END AS kept
      FROM b WHERE len(s.txt) > 0
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN nw < {MIN_WORDS} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_short,
           CAST(SUM(CASE WHEN nw >= {MIN_WORDS} AND kept = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_linky,
           CAST(SUM(kept * nw) AS BIGINT) AS kept_words,
           CAST(SUM(kept * chars) AS BIGINT) AS kept_chars,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           {sql_trunc6('1.0 - CAST(SUM(kept * chars) AS DOUBLE) / SUM(chars)')} AS boiler_ratio
    FROM m GROUP BY source ORDER BY source
    """,
    doc="HTML main-content extraction audit (jusText-lite, Pomikálek "
    "'11): deterministic page synthesis around each document's text, "
    "block split on block-level tags, integer text-length + "
    "link-density scoring, per-source kept/dropped block census and "
    "boilerplate char ratio — the extraction stage every downstream "
    "text gate assumes; zero pre-aggregate shuffles",
)
def t_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _html_pages(spark, sf_dir).withColumn("stats", block_stats("html"))
    b = st.select("doc_id", "source", F.explode("stats").alias("s")).filter(
        F.expr("length(s.txt) > 0")
    )
    m = b.select(
        "doc_id",
        "source",
        F.expr("length(s.txt)").alias("chars"),
        F.expr("size(split(s.txt, ' '))").alias("nw"),
        F.expr(f"CASE WHEN {keep_cond('s')} THEN 1 ELSE 0 END").alias("kept"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("kept").alias("n_kept"),
            F.sum((F.col("nw") < MIN_WORDS).cast("int")).alias("n_dropped_short"),
            F.sum(((F.col("nw") >= MIN_WORDS) & (F.col("kept") == 0)).cast("int")).alias(
                "n_dropped_linky"
            ),
            F.sum(F.col("kept") * F.col("nw")).alias("kept_words"),
            F.sum(F.col("kept") * F.col("chars")).alias("kept_chars"),
            F.sum("chars").alias("total_chars"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_blocks").cast("bigint").alias("n_blocks"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            F.col("n_dropped_short").cast("bigint").alias("n_dropped_short"),
            F.col("n_dropped_linky").cast("bigint").alias("n_dropped_linky"),
            F.col("kept_words").cast("bigint").alias("kept_words"),
            F.col("kept_chars").cast("bigint").alias("kept_chars"),
            F.col("total_chars").cast("bigint").alias("total_chars"),
            trunc6(
                F.lit(1.0)
                - F.col("kept_chars").cast("double") / F.col("total_chars")
            ).alias("boiler_ratio"),
        )
        .orderBy("source")
    )


_STRIP_SQL = _sql_page_text_fn("html")


@_q(
    "t_html_refinery",
    f"""
    WITH {_HTML_BASE_SQL},
    ext AS (
      SELECT doc_id, source,
             len(string_split({_STRIP_SQL}, ' ')) AS raw_words,
             {sql_extract_main('stats')} AS text
      FROM st
    ), ex2 AS (
      SELECT doc_id, source, text FROM ext WHERE len(text) > 0
    ), {_gopher_cte('ex2')},
    gp AS (
      SELECT SUM(p_wc * p_mwl * p_alpha * p_stop * p_rep) AS n3,
             SUM(p_wc * p_mwl * p_alpha * p_stop * p_rep * n_tok) AS t3
      FROM gflag
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS stage, 'raw_html' AS stage_name,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(raw_words) AS BIGINT) AS n_tokens
      FROM ext
      UNION ALL
      SELECT 2, 'extracted', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
      FROM ex2
      UNION ALL
      SELECT 3, 'gopher_rules', CAST(n3 AS BIGINT), CAST(t3 AS BIGINT) FROM gp
    ) ORDER BY stage
    """,
    doc="the refinery head STARTING FROM RAW HTML: synthesize -> "
    "extract main content (jusText-lite) -> Gopher quality gate on the "
    "EXTRACTED text (the shared _gopher_cte/gopher_flags verdicts, so "
    "this funnel and t_refinery_e2e can never drift) — per-stage "
    "surviving docs + token mass; the stage every text funnel in this "
    "engine previously assumed had already happened",
)
def t_html_refinery(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _html_pages(spark, sf_dir)
    # the gopher stage re-tokenizes `text` several times; checkpoint the
    # per-doc extraction ONCE so the synthesis+extraction regex chain is
    # not re-evaluated per downstream consumer (the r9
    # Arrow-node-materialization lesson, JVM-expression edition)
    ex2 = extract_text(pages, "html", "doc_id", "source").localCheckpoint(eager=True)
    p = gopher_pass()
    return stage_census(
        [
            ("raw_html", pages, F.count(F.lit(1)), F.sum(F.expr(_RAW_WORDS)).cast("bigint")),
            (
                "extracted",
                ex2,
                F.count(F.lit(1)),
                F.sum(F.expr("size(split(text, ' '))")).cast("bigint"),
            ),
            (
                "gopher_rules",
                gopher_flags(ex2),
                F.sum(p).cast("bigint"),
                F.sum(p * F.col("n_tok")).cast("bigint"),
            ),
        ],
        "n_tokens",
    )


# --------------------------------------------------------------------------
# The FULL production funnel from raw crawl HTML in ONE hash-checked
# plan (VERDICT-r10 ask #1): synthesize pages -> extract main content
# (jusText-lite) -> Gopher quality -> bigram-LM fluency -> ExactSubstr
# majority retention -> LSH-blocked linear semantic keep-list. Stages
# 3-6 are the EXACT shared machinery of t_refinery_linear
# (_refinery_gates_from / _refinery_stage_agg / _semantic_keep_lazy and
# their oracle CTEs, parameterized by source relation) run over the
# EXTRACTED text, so this funnel and the text funnel can never drift —
# they differ only in what feeds the gates. Scale shape: the extraction
# head is per-row JVM expressions checkpointed ONCE (multi-consumer
# rule); the gate stages inherit t_refinery_linear's audited layouts.
def _refinery_html_oracle() -> str:
    from .docpipe import _SEMANTIC_KEEP_CTE_BODY, _semantic_pairs_cte
    from .textpipe import _refinery_tail_oracle

    head = f"""WITH hbase AS (
      SELECT doc_id, source, lang, {_TOKS} AS tk FROM documents
    ), hh AS (
      SELECT doc_id, source, lang, {_html_sql()} AS html FROM hbase
    ), hst AS (
      SELECT doc_id, source, lang, html, {sql_block_stats('html')} AS stats FROM hh
    ), ext AS (
      SELECT doc_id, source, lang,
             len(string_split({_STRIP_SQL}, ' ')) AS raw_words,
             {sql_extract_main('stats')} AS text
      FROM hst
    ), exd AS (
      SELECT doc_id, source, lang, text FROM ext WHERE len(text) > 0
    ), """
    # production stage order: the semantic keep-list is computed over
    # the EXTRACTED corpus (src='exd'), not the raw document set — a
    # doc whose extraction came up empty cannot evict a real survivor
    pairs = _semantic_pairs_cte(src="exd").strip()
    assert pairs.startswith("WITH ")
    head_branch = """SELECT CAST(1 AS BIGINT) AS stage, 'raw_html' AS stage_name,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(raw_words), 0) AS BIGINT) AS n_tokens
      FROM ext
      UNION ALL
      """
    return (
        head
        + pairs[len("WITH ") :]
        + _refinery_tail_oracle(
            f"""
      SELECT doc_id AS vec_id, keep FROM ({_SEMANTIC_KEEP_CTE_BODY}
      )""",
            src="exd",
            head_branches=head_branch,
            offset=1,
            first_name="extracted",
        )
    )


def _refinery_html_parts(spark: SparkSession, sf_dir: str):
    """(ext, verdicts, caches) — the composed funnel's non-empty
    extraction frame (doc_id, source, lang, text) and per-doc verdict
    relation, exposed so the composed-vs-staged lane proof
    (tools/scale.py --digest) can digest the survivor SETS, not just
    the stage counts."""
    from .docpipe import _semantic_keep_lazy
    from .textpipe import _refinery_gates_from, _refinery_verdicts

    pages = _html_pages(spark, sf_dir)
    # the gate stages re-consume `text` many times (gopher, unigram
    # + bigram explodes, the K-gram position stream); checkpoint the
    # synthesis+extraction regex chain ONCE (t_html_refinery's rule)
    ext = extract_text(pages, "html", "doc_id", "source", "lang").localCheckpoint(eager=True)
    gf, nll, cov, caches = _refinery_gates_from(ext)
    # production stage order: semantic dedup judges the EXTRACTED
    # corpus — a doc whose extraction came up empty cannot evict a real
    # survivor from the keep-list
    keep, sem_caches = _semantic_keep_lazy(spark, sf_dir, docs=ext.select("doc_id", "lang"))
    caches.extend(sem_caches)
    keep = keep.select("doc_id", F.col("keep").alias("sem0"))
    return ext, _refinery_verdicts(gf, nll, cov, keep), caches


@_q(
    "t_refinery_html_e2e",
    _refinery_html_oracle(),
    doc="the COMPLETE production refinery from raw crawl HTML as one "
    "plan: extract main content (jusText-lite) -> Gopher rules -> "
    "bigram-LM fluency -> ExactSubstr majority retention -> LSH-blocked "
    "linear semantic keep-list; stages 3-6 are t_refinery_linear's "
    "audited gate machinery run on the EXTRACTED text (shared code + "
    "shared oracle CTEs, so the funnels cannot drift) — per-stage "
    "surviving docs + token mass",
)
def t_refinery_html_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textpipe import _refinery_stage_agg

    _, verdicts, caches = _refinery_html_parts(spark, sf_dir)
    head = _html_pages(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.expr(_RAW_WORDS)).cast("bigint").alias("t0"),
    )
    a = _refinery_stage_agg(verdicts)
    out = (
        head.crossJoin(a)
        .selectExpr(
            "stack(6,"
            " CAST(1 AS BIGINT), 'raw_html', CAST(n0 AS BIGINT), t0,"
            " CAST(2 AS BIGINT), 'extracted', n1, t1,"
            " CAST(3 AS BIGINT), 'gopher_rules', n2, t2,"
            " CAST(4 AS BIGINT), 'bigram_ppl', n3, t3,"
            " CAST(5 AS BIGINT), 'substring_dedup', n4, t4,"
            " CAST(6 AS BIGINT), 'semantic_dedup', n5, t5"
            ") AS (stage, stage_name, n_docs, n_tokens)"
        )
        .orderBy("stage")
    )
    return checkpoint_release(out, caches)


# --------------------------------------------------------------------------
# Crawl link graph — the other thing a page carries besides content:
# out-links. Link extraction feeds the crawl frontier, site-level
# quality (in-degree as a prior), and URL-level dedup; this query is
# the extraction + in-degree census primitive. The fixture template
# gains a deterministic "related articles" block (two /doc/<id> links
# derived from doc_id by fixed modular arithmetic, so the digraph is
# non-degenerate and both engines synthesize it identically); chrome
# links (nav/footer, non-/doc/ hrefs) are NOT counted — the href
# pattern anchors on the internal-article URL shape, exactly how a
# production extractor whitelists its own host. Dangling targets (ids
# past the corpus size at small SF) are kept: real crawl graphs dangle,
# and the census is over LINK TARGETS, not resolved pages.
# Scale shape: per-row regex extraction (map-side), one explode, one
# groupBy dst with map-side partial agg, TakeOrdered top-20.
_LINK_MOD = 1000
_DOC_HREF_RE = r'href="/doc/([0-9]+)"'


def _linked_html_sql() -> str:
    return (
        f"{_html_sql()} || '<div class=\"related\">see also '"
        " || '<a href=\"/doc/' || CAST((doc_id * 7 + 3) % "
        f"{_LINK_MOD} AS VARCHAR) || '\">article one</a> and '"
        " || '<a href=\"/doc/' || CAST((doc_id * 13 + 5) % "
        f"{_LINK_MOD} AS VARCHAR) || '\">article two</a></div>'"
    )


def _linked_html_spark() -> F.Column:
    return F.concat(
        _html_spark(),
        F.lit('<div class="related">see also <a href="/doc/'),
        F.pmod(F.col("doc_id") * 7 + 3, F.lit(_LINK_MOD)).cast("string"),
        F.lit('">article one</a> and <a href="/doc/'),
        F.pmod(F.col("doc_id") * 13 + 5, F.lit(_LINK_MOD)).cast("string"),
        F.lit('">article two</a></div>'),
    )


@_q(
    "t_html_link_graph",
    f"""
    WITH base AS (
      SELECT doc_id, source, {_TOKS} AS tk FROM documents
    ), h AS (
      SELECT doc_id, source, {_linked_html_sql()} AS html FROM base
    ), e AS (
      SELECT doc_id AS src, source,
             CAST(unnest(regexp_extract_all(html, '{_DOC_HREF_RE}', 1)) AS BIGINT) AS dst
      FROM h
    )
    SELECT dst,
           CAST(COUNT(*) AS BIGINT) AS in_degree,
           CAST(COUNT(DISTINCT src) AS BIGINT) AS n_src,
           CAST(MIN(src) AS BIGINT) AS first_src,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM e GROUP BY dst
    ORDER BY in_degree DESC, dst LIMIT 20
    """,
    doc="crawl link-graph extraction: internal-article out-links pulled "
    "from raw HTML (host-anchored href pattern — chrome links excluded "
    "by construction), exploded into (src, dst) edges, in-degree census "
    "of the top-20 link targets; the extraction feeds crawl frontier / "
    "link-prior quality / URL dedup — per-row regex + one partial-agg "
    "groupBy + TakeOrdered, nothing corpus-wide",
)
def t_html_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as T

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    h = d.select("doc_id", "source", T.tokens(F.col("text")).alias("tk")).select(
        "doc_id", "source", _linked_html_spark().alias("html")
    )
    e = h.select(
        F.col("doc_id").alias("src"),
        "source",
        F.explode(
            F.expr(f"regexp_extract_all(html, '{_DOC_HREF_RE}', 1)")
        ).alias("dst_s"),
    ).select("src", "source", F.col("dst_s").cast("bigint").alias("dst"))
    return (
        e.groupBy("dst")
        .agg(
            F.count(F.lit(1)).alias("in_degree"),
            F.countDistinct("src").alias("n_src"),
            F.min("src").alias("first_src"),
            F.countDistinct("source").alias("n_sources"),
        )
        .select(
            "dst",
            F.col("in_degree").cast("bigint").alias("in_degree"),
            F.col("n_src").cast("bigint").alias("n_src"),
            F.col("first_src").cast("bigint").alias("first_src"),
            F.col("n_sources").cast("bigint").alias("n_sources"),
        )
        .orderBy(F.col("in_degree").desc(), "dst")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Robots / opt-out gate — the governance stage real training pipelines
# run FIRST (VERDICT-r10 ask #5): pages whose <meta name="robots">
# carries noai / noindex / none, and pages from sources on the per-
# source opt-out list, are dropped BEFORE any extraction cost is spent
# (the gate is one cheap regex on the raw bytes; extraction is the
# expensive HOF chain — ordering them the other way wastes the cluster
# bill on pages that must be discarded anyway, and a compliance gate
# that runs late is a compliance bug). The fixture plants the meta tags
# deterministically (doc_id % 13 → noai, else % 17 → noindex; ids
# divisible by both take the noai arm — CASE order) so both engines
# synthesize the identical corpus. The Spark-side gate is
# operators/refinery.optout_gate.


def _meta_sql() -> str:
    return (
        "CASE WHEN doc_id % 13 = 0 THEN"
        " '<meta name=\"robots\" content=\"noai, noimageai\">'"
        " WHEN doc_id % 17 = 0 THEN '<meta name=\"robots\" content=\"noindex\">'"
        " ELSE '' END"
    )


_OPTOUT_IN = ", ".join(f"'{s}'" for s in _OPTOUT_SOURCES)


def _optout_base_sql() -> str:
    """CTE chain: pages with planted meta tags + per-page verdicts."""
    return f"""obase AS (
      SELECT doc_id, source, {_TOKS} AS tk FROM documents
    ), oh AS (
      SELECT doc_id, source, {_html_sql()} AS html FROM obase
    ), pages AS (
      SELECT doc_id, source,
             replace(html, '</head>', {_meta_sql()} || '</head>') AS page
      FROM oh
    ), verdicts AS (
      SELECT doc_id, source, page,
             lower(regexp_extract(page, '{_META_ROBOTS_RE}', 1)) AS robots,
             CASE WHEN source IN ({_OPTOUT_IN}) THEN 1 ELSE 0 END AS src_optout
      FROM pages
    ), flags AS (
      SELECT doc_id, source, page,
             CASE WHEN position('noai' IN robots) > 0 THEN 1 ELSE 0 END AS meta_noai,
             CASE WHEN position('noindex' IN robots) > 0 OR robots = 'none'
                  THEN 1 ELSE 0 END AS meta_noindex,
             src_optout
      FROM verdicts
    ), gate AS (
      SELECT *,
             CASE WHEN meta_noai = 0 AND meta_noindex = 0 AND src_optout = 0
                  THEN 1 ELSE 0 END AS kept
      FROM flags
    )"""


def _planted_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, page): every document rendered through _TEMPLATE
    with the planted robots meta in its head — the opt-out fixture of
    this module and of the ingest family (plans/urlpipe)."""
    return _html_pages(spark, sf_dir).select(
        "doc_id",
        "source",
        F.expr(f"replace(html, '</head>', {_meta_sql()} || '</head>')").alias("page"),
    )


def _optout_verdicts_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return optout_gate(_planted_pages(spark, sf_dir))


@_q(
    "t_optout_gate",
    f"""
    WITH {_optout_base_sql()}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(SUM(meta_noai) AS BIGINT) AS n_meta_noai,
           CAST(SUM(meta_noindex) AS BIGINT) AS n_meta_noindex,
           CAST(SUM(src_optout) AS BIGINT) AS n_src_optout,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           {sql_trunc6('CAST(SUM(kept) AS DOUBLE) / COUNT(*)')} AS kept_rate
    FROM gate GROUP BY source ORDER BY source
    """,
    doc="robots/opt-out governance gate: map-side parse of "
    "<meta name=robots> (noai / noindex / none) on the RAW page plus a "
    "per-source opt-out list — per-source drop reasons, kept counts, "
    "kept rate; the compliance stage a training pipeline runs before "
    "spending any extraction cost",
)
def t_optout_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _optout_verdicts_spark(spark, sf_dir)
    return (
        v.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pages"),
            F.sum("meta_noai").cast("bigint").alias("n_meta_noai"),
            F.sum("meta_noindex").cast("bigint").alias("n_meta_noindex"),
            F.sum("src_optout").cast("bigint").alias("n_src_optout"),
            F.sum("kept").cast("bigint").alias("n_kept"),
        )
        .withColumn("kept_rate", trunc6(F.col("n_kept").cast("double") / F.col("n_pages")))
        .orderBy("source")
    )


@_q(
    "t_optout_refinery",
    f"""
    WITH {_optout_base_sql()}, ka AS (
      SELECT doc_id, source, page FROM gate WHERE kept = 1
    ), kst AS (
      SELECT doc_id, source, {sql_block_stats('page')} AS stats FROM ka
    ), kext AS (
      SELECT doc_id, {sql_extract_main('stats')} AS text FROM kst
    ), kx AS (
      SELECT doc_id, text FROM kext WHERE len(text) > 0
    ), kg AS (
      SELECT doc_id, 'x' AS source, text FROM kx
    ), {_gopher_cte('kg')}, g4 AS (
      SELECT g.p_wc * g.p_mwl * g.p_alpha * g.p_stop * g.p_rep AS p,
             len(k.text) AS chars
      FROM gflag g JOIN kx k ON k.doc_id = g.doc_id
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS stage, 'raw_html' AS stage_name,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(length(page)) AS BIGINT) AS n_chars
      FROM gate
      UNION ALL
      SELECT 2, 'optout_gate', CAST(COUNT(*) AS BIGINT), CAST(SUM(length(page)) AS BIGINT)
      FROM gate WHERE kept = 1
      UNION ALL
      SELECT 3, 'extracted', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(length(text)), 0) AS BIGINT)
      FROM kx
      UNION ALL
      SELECT 4, 'gopher_rules',
             CAST(COALESCE(SUM(p), 0) AS BIGINT),
             CAST(COALESCE(SUM(p * chars), 0) AS BIGINT)
      FROM g4
    ) ORDER BY stage
    """,
    doc="the refinery head with the governance gate FIRST: raw pages -> "
    "robots/opt-out gate (cheap regex on raw bytes) -> extraction (the "
    "expensive HOF chain, now only on compliant pages) -> Gopher gate; "
    "per-stage doc + char mass — the ordering a production pipeline "
    "must use so no extraction cost is spent on opted-out content",
)
def t_optout_refinery(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _optout_verdicts_spark(spark, sf_dir)
    # the gate FILTER precedes extraction in the plan: extraction cost
    # is spent only on compliant pages (the whole point of the ordering)
    ka = v.filter(F.col("kept") == 1)
    # gopher re-consumes `text` several times; checkpoint the
    # extraction once (the shared multi-consumer rule)
    kx = extract_text(ka, "page", "doc_id").localCheckpoint(eager=True)
    g = gopher_flags(kx.select("doc_id", F.lit("x").alias("source"), "text")).join(
        kx.select("doc_id", F.length("text").alias("chars")), "doc_id"
    )
    n, page_chars, p = F.count(F.lit(1)), F.sum(F.length("page")).cast("bigint"), gopher_pass()
    zero = F.lit(0).cast("bigint")
    return stage_census(
        [
            ("raw_html", v, n, page_chars),
            ("optout_gate", ka, n, page_chars),
            ("extracted", kx, n, F.coalesce(F.sum(F.length("text")).cast("bigint"), zero)),
            (
                "gopher_rules",
                g,
                F.coalesce(F.sum(p).cast("bigint"), zero),
                F.coalesce(F.sum(p * F.col("chars")).cast("bigint"), zero),
            ),
        ],
        "n_chars",
    )


# --------------------------------------------------------------------------
# Extraction→dedup synergy, quantified — the canonical reason the
# extraction stage runs BEFORE dedup in every production refinery: the
# same article syndicated across two sites carries different chrome, so
# raw-page fingerprints never match and only extracted-content
# fingerprints recover the duplicate. The fixture renders every
# document through TWO templates (site A = the standard chrome above,
# site B = a different masthead/sidebar/footer below; the CONTENT slots
# are identical), so the ground truth is exact: every doc with
# non-empty extraction is a cross-site duplicate that raw fingerprints
# must miss and extracted fingerprints must find.
# Scale shape: per-row synthesis+extraction+fingerprint (no shuffle),
# two COUNT(DISTINCT) aggregates.
_TEMPLATE_B = (
    ("lit", '<html><head><title>mirror: article '),
    ("id", None),
    ("lit", "</title></head><body>"),
    (
        "lit",
        '<div class="masthead"><a href="/home">front page</a>'
        ' <a href="/world">world news</a> <a href="/local">local desk</a>'
        ' <a href="/sport">sport</a> <a href="/weather">weather</a></div>',
    ),
    ("lit", "<p>"),
    ("p1", None),
    ("lit", "</p>"),
    (
        "lit",
        '<div class="sidebar">trending now <a href="/story1">big story'
        ' today</a> plus <a href="/story2">another headline here</a> yes</div>',
    ),
    ("lit", "<p>"),
    ("p2", None),
    ("lit", "</p>"),
    (
        "lit",
        '<div class="footer">mirror media group &copy; all rights reserved'
        ' <a href="/about">about this site</a> <a href="/contact">contact the desk</a>'
        ' <a href="/rss">rss feeds</a></div>',
    ),
    ("lit", "</body></html>"),
)


def _dedup_recovery_oracle() -> str:
    raw_norm = (
        "regexp_replace(lower(trim(" + _sql_page_text_fn("html") + ")), '\\s+', ' ', 'g')"
    )
    ext_norm = "regexp_replace(lower(trim(ext)), '\\s+', ' ', 'g')"
    return f"""
    WITH base AS (
      SELECT doc_id, source, {_TOKS} AS tk FROM documents
    ), pages AS (
      SELECT doc_id, 'a' AS site, {_html_sql()} AS html FROM base
      UNION ALL
      SELECT doc_id, 'b' AS site, {_html_sql(_TEMPLATE_B)} AS html FROM base
    ), px AS (
      SELECT doc_id, site,
             {md5_long_sql(raw_norm)} AS raw_fp,
             {sql_extract_main(sql_block_stats('html'))} AS ext
      FROM pages
    ), pe AS (
      SELECT doc_id, site, raw_fp,
             {md5_long_sql(ext_norm)} AS ext_fp
      FROM px WHERE len(ext) > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT raw_fp) AS BIGINT) AS raw_unique,
           CAST(COUNT(DISTINCT ext_fp) AS BIGINT) AS extracted_unique,
           CAST(COUNT(*) - COUNT(DISTINCT raw_fp) AS BIGINT) AS dups_found_raw,
           CAST(COUNT(*) - COUNT(DISTINCT ext_fp) AS BIGINT) AS dups_found_extracted,
           CAST(COUNT(DISTINCT raw_fp) - COUNT(DISTINCT ext_fp) AS BIGINT) AS recovered,
           {sql_trunc6('CAST(COUNT(DISTINCT raw_fp) - COUNT(DISTINCT ext_fp) AS DOUBLE) / COUNT(*)')} AS recovery_rate
    FROM pe
    """


@_q(
    "t_html_dedup_recovery",
    _dedup_recovery_oracle(),
    doc="extraction->dedup synergy census: every document rendered "
    "through TWO site templates (same content, different chrome); "
    "raw-page fingerprints miss the cross-site duplicates, extracted-"
    "content fingerprints recover them — the measured justification "
    "for running main-content extraction before the dedup stages",
)
def t_html_dedup_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as T
    from ..functions.hashing import md5_long

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    tk = d.select("doc_id", T.tokens(F.col("text")).alias("tk"))
    pages = tk.select(
        "doc_id", F.lit("a").alias("site"), _html_spark().alias("html")
    ).unionByName(
        tk.select("doc_id", F.lit("b").alias("site"), _html_spark(_TEMPLATE_B).alias("html"))
    )
    norm = lambda c: F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")  # noqa: E731
    pe = extract_text(
        pages, "html", md5_long(norm(F.expr(_page_text("html")))).alias("raw_fp")
    ).select("raw_fp", md5_long(norm(F.col("text"))).alias("ext_fp"))
    ru, eu, n = F.countDistinct("raw_fp"), F.countDistinct("ext_fp"), F.count(F.lit(1))
    return pe.agg(
        n.cast("bigint").alias("n_pages"),
        ru.cast("bigint").alias("raw_unique"),
        eu.cast("bigint").alias("extracted_unique"),
        (n - ru).cast("bigint").alias("dups_found_raw"),
        (n - eu).cast("bigint").alias("dups_found_extracted"),
        (ru - eu).cast("bigint").alias("recovered"),
        trunc6((ru - eu).cast("double") / n).alias("recovery_rate"),
    )
