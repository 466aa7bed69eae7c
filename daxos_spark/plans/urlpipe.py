"""URL-pipeline queries: canonicalization + URL-level dedup — the
stage every crawl pipeline runs BEFORE content dedup (CCNet /
RefinedWeb order; VERDICT-r10 ask #2).

Beyond-parity (the reference processes no URLs). The harness registers
no URL table, so the snapshot corpus is SYNTHESIZED deterministically
from ``documents`` inside the query — in BOTH engines, from one shared
variant template — and then canonicalized (functions/url.py). Each
document becomes one fetch snapshot of article ``doc_id % 211`` on host
``article % 7``, rendered through one of FIVE URL variant classes
(www + mixed case, upper-cased authority, default port + utm params,
trailing slash, tracking param + fragment) chosen by ``doc_id % 5`` —
so the ground truth is exact arithmetic: every article with k
snapshots is a k-fold URL-level duplicate family that raw URL equality
must miss (five variant spellings) and canonical equality must find.

Scale shape: synthesis + canonicalization are per-row JVM regex
expressions (zero shuffle); dedup is ONE groupBy on the canonical key
(max_by latest-snapshot pick — the latest_by_key shape); the censuses
are single conditional aggregates. At 100 TB the canonical key is the
natural partition key of the crawl store, and this dedup is the
cheapest stage in the pipeline — which is WHY it runs first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.url import (
    sql_url_canonical,
    url_canonical_sqlexpr,
    url_rule_steps_spark,
    url_rule_steps_sql,
)
from ..operators.refinery import (
    _META_ROBOTS_RE,
    extract_text,
    gopher_flags,
    gopher_pass,
    latest_per_url,
    optout_gate,
    stage_census,
)
from .docpipe import _fanout
from .registry import QuerySpec, register, sql_trunc6, trunc6

ALL = {}


def _q(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        register(QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc, tags=("url",)))
        return fn

    return deco


_N_ART = 211  # articles (prime → uneven snapshot families at any SF)
_N_HOST = 7
_TS0 = 1_700_000_000

# (prefix, suffix) per variant class — the URL is
#   prefix || host_index || infix || article_id || suffix
_VARIANTS = (
    ("https://www.example", ".com/articles/", ""),
    ("HTTPS://EXAMPLE", ".COM/articles/", ""),
    ("https://example", ".com:443/articles/", "?utm_source=feed&utm_medium=rss"),
    ("https://example", ".com/articles/", "/"),
    ("https://example", ".com/articles/", "?ref=home#sec-2"),
)


def _snap_url(string_type: str = "VARCHAR") -> str:
    """The snapshot URL as a CASE over doc_id (duckdb VARCHAR, Spark
    STRING casts)."""
    arms = " ".join(
        f"WHEN {i} THEN '{p}' || CAST((doc_id % {_N_ART}) % {_N_HOST} AS {string_type})"
        f" || '{m}' || CAST(doc_id % {_N_ART} AS {string_type}) || '{s}'"
        for i, (p, m, s) in enumerate(_VARIANTS)
    )
    return f"CASE doc_id % {len(_VARIANTS)} {arms} END"


def _snap_sql() -> str:
    """duckdb CTE body: snaps(doc_id, ts, url)."""
    return f"""snaps AS (
      SELECT doc_id, {_TS0} + doc_id AS ts,
             {_snap_url()} AS url
      FROM documents
    )"""


def _isnap_sql() -> str:
    """duckdb CTE chain ibase → isnap(doc_id, source, ts, url, page):
    the ingest family's snapshot fixture (_ingest_snap_df's twin)."""
    from .htmlpipe import _html_sql, _meta_sql
    from .textpipe import _TOKS

    return f"""ibase AS (
      SELECT doc_id, source, {_TOKS} AS tk, {_TS0} + doc_id AS ts FROM documents
    ), isnap AS (
      SELECT doc_id, source, ts,
             {_snap_url()} AS url,
             replace({_html_sql()}, '</head>', {_meta_sql()} || '</head>') AS page
      FROM ibase
    )"""


def _snaps_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    return d.select(
        "doc_id",
        (F.lit(_TS0) + F.col("doc_id")).alias("ts"),
        F.expr(_snap_url("STRING")).alias("url"),
    )


# --------------------------------------------------------------------------
# Rule-fire census: which canonicalization rules actually change URLs,
# and how the distinct-URL count collapses after each rule — the audit
# that justifies each rule's existence on a corpus (a rule that never
# fires is dead weight in the scan). Cumulative per-rule application,
# one conditional-aggregate pass.
def _url_canonical_oracle() -> str:
    steps = url_rule_steps_sql("url")
    cols = ", ".join(f"{expr} AS r{i + 1}" for i, (_, expr) in enumerate(steps))
    branches = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS step, '{rule}' AS rule, "
        f"CAST(SUM(CASE WHEN r{i + 1} <> r{i} THEN 1 ELSE 0 END) AS BIGINT) AS n_changed, "
        f"CAST(COUNT(DISTINCT r{i + 1}) AS BIGINT) AS distinct_after FROM r"
        for i, (rule, _) in enumerate(steps)
    )
    return f"""
    WITH {_snap_sql()}, r AS (
      SELECT url AS r0, {cols} FROM snaps
    )
    SELECT * FROM ({branches}) ORDER BY step
    """


@_q(
    "t_url_canonical",
    _url_canonical_oracle(),
    doc="URL canonicalization rule-fire census: the four rule families "
    "(fragment strip, authority lowercase+www+default-port, tracking-"
    "param removal, trailing slash) applied cumulatively — per rule, "
    "how many snapshot URLs it changed and the distinct-URL count "
    "after it; the audit that shows each rule earning its place in "
    "the scan (and the collapse trajectory toward the canonical key)",
)
def t_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    snaps = _snaps_df(spark, sf_dir)
    steps = url_rule_steps_spark("url")
    r = snaps.select(
        F.col("url").alias("r0"),
        *[F.expr(expr).alias(f"r{i + 1}") for i, (_, expr) in enumerate(steps)],
    )
    aggs = []
    for i in range(len(steps)):
        aggs += [
            F.sum((F.col(f"r{i + 1}") != F.col(f"r{i}")).cast("int"))
            .cast("bigint")
            .alias(f"c{i + 1}"),
            F.countDistinct(f"r{i + 1}").cast("bigint").alias(f"d{i + 1}"),
        ]
    a = r.agg(*aggs)
    stack = ", ".join(
        f"CAST({i + 1} AS BIGINT), '{rule}', c{i + 1}, d{i + 1}"
        for i, (rule, _) in enumerate(steps)
    )
    return a.selectExpr(
        f"stack({len(steps)}, {stack}) AS (step, rule, n_changed, distinct_after)"
    ).orderBy("step")


# --------------------------------------------------------------------------
# URL-level dedup: keep the LATEST snapshot per canonical URL (max_by
# on fetch time — the latest_by_key shape every crawl store runs at
# ingest). Top-20 canonical families by snapshot count.
_CANON_SQL = sql_url_canonical("url")
_CANON_SPARK = url_canonical_sqlexpr("url")


@_q(
    "t_url_dedup",
    f"""
    WITH {_snap_sql()}, c AS (
      SELECT doc_id, ts, {_CANON_SQL} AS curl FROM snaps
    )
    SELECT curl,
           CAST(COUNT(*) AS BIGINT) AS n_snapshots,
           CAST(MIN(ts) AS BIGINT) AS first_ts,
           CAST(MAX(ts) AS BIGINT) AS last_ts,
           CAST(MAX_BY(doc_id, ts) AS BIGINT) AS kept_doc_id
    FROM c GROUP BY curl
    ORDER BY n_snapshots DESC, curl LIMIT 20
    """,
    doc="URL-level dedup (keep latest snapshot per canonical URL): "
    "snapshots canonicalized per-row, ONE groupBy on the canonical key, "
    "max_by(doc_id, ts) latest-snapshot pick (fetch times are unique by "
    "construction) — top-20 canonical families by snapshot count; the "
    "cheapest dedup stage in the pipeline, which is why crawl stores "
    "run it before any content fingerprinting",
)
def t_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _snaps_df(spark, sf_dir).select(
        "doc_id", "ts", F.expr(_CANON_SPARK).alias("curl")
    )
    return (
        c.groupBy("curl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_snapshots"),
            F.min("ts").cast("bigint").alias("first_ts"),
            F.max("ts").cast("bigint").alias("last_ts"),
            F.expr("max_by(doc_id, ts)").cast("bigint").alias("kept_doc_id"),
        )
        .orderBy(F.col("n_snapshots").desc(), "curl")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Canonicalization→dedup synergy, quantified (the t_html_dedup_recovery
# convention): raw URL equality finds only same-variant refetches;
# canonical equality recovers the full cross-variant families. The
# measured justification for canonicalizing before URL dedup.
@_q(
    "t_url_dedup_recovery",
    f"""
    WITH {_snap_sql()}, c AS (
      SELECT url, {_CANON_SQL} AS curl FROM snaps
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_snapshots,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS raw_unique,
           CAST(COUNT(DISTINCT curl) AS BIGINT) AS canonical_unique,
           CAST(COUNT(*) - COUNT(DISTINCT url) AS BIGINT) AS dups_found_raw,
           CAST(COUNT(*) - COUNT(DISTINCT curl) AS BIGINT) AS dups_found_canonical,
           CAST(COUNT(DISTINCT url) - COUNT(DISTINCT curl) AS BIGINT) AS recovered,
           {sql_trunc6('CAST(COUNT(DISTINCT url) - COUNT(DISTINCT curl) AS DOUBLE) / COUNT(*)')} AS recovery_rate
    FROM c
    """,
    doc="canonicalization->dedup synergy census: raw URL equality vs "
    "canonical equality on the synthesized snapshot corpus — distinct "
    "counts, duplicate families found by each, and the recovery the "
    "canonical key adds; the measured reason URL canonicalization runs "
    "before URL dedup",
)
def t_url_dedup_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _snaps_df(spark, sf_dir).select(
        "url", F.expr(_CANON_SPARK).alias("curl")
    )
    n = F.count(F.lit(1))
    ru, cu = F.countDistinct("url"), F.countDistinct("curl")
    return c.agg(
        n.cast("bigint").alias("n_snapshots"),
        ru.cast("bigint").alias("raw_unique"),
        cu.cast("bigint").alias("canonical_unique"),
        (n - ru).cast("bigint").alias("dups_found_raw"),
        (n - cu).cast("bigint").alias("dups_found_canonical"),
        (ru - cu).cast("bigint").alias("recovered"),
        trunc6((ru - cu).cast("double") / n).alias("recovery_rate"),
    )


# --------------------------------------------------------------------------
# The COMPLETE crawl-ingest pipeline as ONE hash-checked plan — the
# composition the stage order arguments have been building toward:
#   snapshots → URL-level dedup (keep latest per canonical — cheapest,
#   runs FIRST, before any content byte is touched) → robots/opt-out
#   gate (cheap regex on raw bytes, before extraction cost) → main-
#   content extraction (the expensive HOF chain, now only on deduped
#   compliant pages) → Gopher quality gate (on extracted text).
# Every stage is the EXACT machinery of its standalone query (urlpipe
# canonicalizer, htmlpipe meta/gate/extraction, textpipe gopher CTE),
# so this funnel and the per-stage audits cannot drift. Per-stage doc
# count + char mass. Fixture: each document is one fetch snapshot
# (five URL variant classes) whose page carries the planted robots
# meta — both engines synthesize identically.
def _ingest_oracle() -> str:
    from .htmlpipe import _OPTOUT_IN
    from ..functions.html import sql_block_stats, sql_extract_main
    from .textpipe import _gopher_cte

    return f"""
    WITH {_isnap_sql()}, icanon AS (
      SELECT *, {_CANON_SQL} AS curl FROM isnap
    ), ikept AS (
      SELECT MAX_BY(doc_id, ts) AS doc_id FROM icanon GROUP BY curl
    ), isurv AS (
      SELECT c.doc_id, c.source, c.page FROM icanon c JOIN ikept k USING (doc_id)
    ), irob AS (
      SELECT doc_id, source, page,
             lower(regexp_extract(page, '{_META_ROBOTS_RE}', 1)) AS robots
      FROM isurv
    ), igate AS (
      SELECT doc_id, source, page,
             CASE WHEN position('noai' IN robots) > 0
                    OR position('noindex' IN robots) > 0 OR robots = 'none'
                    OR source IN ({_OPTOUT_IN})
                  THEN 0 ELSE 1 END AS kept
      FROM irob
    ), icompliant AS (
      SELECT doc_id, source, page FROM igate WHERE kept = 1
    ), iext AS (
      SELECT doc_id, source,
             {sql_extract_main(sql_block_stats('page'))} AS text
      FROM icompliant
    ), iexd AS (
      SELECT doc_id, source, text FROM iext WHERE len(text) > 0
    ), {_gopher_cte('iexd')}, ig5 AS (
      SELECT g.p_wc * g.p_mwl * g.p_alpha * g.p_stop * g.p_rep AS p,
             len(k.text) AS chars
      FROM gflag g JOIN iexd k ON k.doc_id = g.doc_id
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS stage, 'raw_snapshots' AS stage_name,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(length(page)) AS BIGINT) AS n_chars
      FROM icanon
      UNION ALL
      SELECT 2, 'url_dedup', CAST(COUNT(*) AS BIGINT), CAST(SUM(length(page)) AS BIGINT)
      FROM isurv
      UNION ALL
      SELECT 3, 'optout_gate', CAST(COUNT(*) AS BIGINT), CAST(SUM(length(page)) AS BIGINT)
      FROM icompliant
      UNION ALL
      SELECT 4, 'extracted', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(length(text)), 0) AS BIGINT)
      FROM iexd
      UNION ALL
      SELECT 5, 'gopher_rules',
             CAST(COALESCE(SUM(p), 0) AS BIGINT),
             CAST(COALESCE(SUM(p * chars), 0) AS BIGINT)
      FROM ig5
    ) ORDER BY stage
    """


def _ingest_snap_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared snapshot fixture of the ingest family: each document
    becomes one fetch snapshot (doc_id-arithmetic URL variant, planted
    robots meta in the synthesized page) with its canonical key."""
    from .htmlpipe import _planted_pages

    return _planted_pages(spark, sf_dir).select(
        "doc_id",
        "source",
        (F.lit(_TS0) + F.col("doc_id")).alias("ts"),
        F.expr(_snap_url("STRING")).alias("url"),
        "page",
    ).withColumn("curl", F.expr(_CANON_SPARK))


def _ingest_funnel(heads: list) -> DataFrame:
    """The ingest chain behind its snapshot head stages ``heads`` —
    (stage name, checkpointed frame) in stage order, the last one feeding
    URL dedup: latest snapshot per URL → opt-out gate → extraction →
    Gopher, as the per-stage doc + char census."""
    surv = latest_per_url(heads[-1][1])
    compliant = optout_gate(surv).filter(F.col("kept") == 1)
    exd = extract_text(compliant, "page", "doc_id", "source")
    exd = exd.localCheckpoint(eager=True)  # gopher multi-consumes text
    g = gopher_flags(exd).join(exd.select("doc_id", F.length("text").alias("chars")), "doc_id")
    n, page_chars, p = F.count(F.lit(1)), F.sum(F.length("page")).cast("bigint"), gopher_pass()
    zero = F.lit(0).cast("bigint")
    return stage_census(
        [(name, df, n, page_chars) for name, df in heads]
        + [
            ("url_dedup", surv, n, page_chars),
            ("optout_gate", compliant, n, page_chars),
            ("extracted", exd, n, F.coalesce(F.sum(F.length("text")).cast("bigint"), zero)),
            (
                "gopher_rules",
                g,
                F.coalesce(F.sum(p).cast("bigint"), zero),
                F.coalesce(F.sum(p * F.col("chars")).cast("bigint"), zero),
            ),
        ],
        "n_chars",
    )


def _ingest_e2e_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    # snap feeds the stage-1 census AND the dedup/gate/extract chain;
    # the synthesis is concat-cheap but the canonicalizer is a regex
    # chain — one checkpoint bounds it to one pass
    snap = _ingest_snap_df(spark, sf_dir).localCheckpoint(eager=True)
    return _ingest_funnel([("raw_snapshots", snap)])


# --------------------------------------------------------------------------
# robots.txt path gate — the OTHER half of the robots story
# (t_optout_gate honors per-PAGE meta robots; this honors the per-HOST
# robots.txt that every crawler fetches first): synthesize each host's
# robots.txt deterministically (three policy archetypes by host
# arithmetic — targeted path prefixes / full disallow / allow-all with
# crawl-delay), PARSE the Disallow lines with a real multiline regex
# (shared RE2/Java-safe constant, backslash-doubled only on the Spark
# side per the _spark_lit rule), and prefix-match every canonical
# URL's path against its host's parsed prefixes. Per-host census of
# blocked/allowed URL mass. Scale shape: robots.txt is per-HOST data —
# a tiny broadcast-shaped relation joined to the URL store on its
# partition key; the parse + prefix match are stateless per-row JVM
# expressions (one regexp_extract_all + an exists() HOF).
_ROBOTS_DIS_RE = r"(?m)^Disallow: (\S+)"


def _robots_txt_sql(hidx: str) -> str:
    """CASE expression synthesizing host ``hidx``'s robots.txt (shared
    text both engines build with chr(10) newlines)."""
    return (
        f"CASE {hidx} % 3"
        " WHEN 0 THEN 'User-agent: *' || chr(10) ||"
        " 'Disallow: /articles/1' || chr(10) || 'Disallow: /articles/3'"
        " WHEN 1 THEN 'User-agent: *' || chr(10) || 'Disallow: /'"
        " ELSE 'User-agent: *' || chr(10) || 'Crawl-delay: 5' END"
    )


def _robots_gate_oracle() -> str:
    return f"""
    WITH {_snap_sql()}, cu AS (
      SELECT DISTINCT {_CANON_SQL} AS curl FROM snaps
    ), parts AS (
      SELECT curl,
             regexp_extract(curl, '://([^/]+)', 1) AS host,
             regexp_extract(curl, '://[^/]+(/.*)', 1) AS path
      FROM cu
    ), rules AS (
      SELECT *, {_robots_txt_sql(
          "CAST(regexp_extract(host, 'example([0-9]+)', 1) AS BIGINT)")} AS robots_txt
      FROM parts
    ), verdicts AS (
      SELECT host,
             len(regexp_extract_all(robots_txt, '{_ROBOTS_DIS_RE}', 1)) AS n_rules,
             CASE WHEN len(list_filter(
                    regexp_extract_all(robots_txt, '{_ROBOTS_DIS_RE}', 1),
                    x -> starts_with(path, x))) > 0
                  THEN 1 ELSE 0 END AS blocked
      FROM rules
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(MAX(n_rules) AS BIGINT) AS n_rules,
           CAST(SUM(blocked) AS BIGINT) AS n_blocked,
           CAST(COUNT(*) - SUM(blocked) AS BIGINT) AS n_allowed,
           {sql_trunc6('CAST(SUM(blocked) AS DOUBLE) / COUNT(*)')} AS blocked_rate
    FROM verdicts GROUP BY host ORDER BY host
    """


def t_robots_txt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.html import _spark_lit

    cu = (
        _snaps_df(spark, sf_dir)
        .select(F.expr(_CANON_SPARK).alias("curl"))
        .distinct()
    )
    parts = cu.select(
        "curl",
        F.regexp_extract("curl", "://([^/]+)", 1).alias("host"),
        F.regexp_extract("curl", "://[^/]+(/.*)", 1).alias("path"),
    )
    rules = parts.withColumn(
        "robots_txt",
        F.expr(
            _robots_txt_sql(
                "CAST(regexp_extract(host, 'example([0-9]+)', 1) AS BIGINT)"
            )
        ),
    )
    dis = f"regexp_extract_all(robots_txt, '{_spark_lit(_ROBOTS_DIS_RE)}', 1)"
    verdicts = rules.select(
        "host",
        F.expr(f"size({dis})").alias("n_rules"),
        F.expr(
            f"CASE WHEN exists({dis}, x -> startswith(path, x))"
            " THEN 1 ELSE 0 END"
        ).alias("blocked"),
    )
    n = F.count(F.lit(1))
    return (
        verdicts.groupBy("host")
        .agg(
            n.cast("bigint").alias("n_urls"),
            F.max("n_rules").cast("bigint").alias("n_rules"),
            F.sum("blocked").cast("bigint").alias("n_blocked"),
            (n - F.sum("blocked")).cast("bigint").alias("n_allowed"),
            trunc6(F.sum("blocked").cast("double") / n).alias("blocked_rate"),
        )
        .orderBy("host")
    )


# --------------------------------------------------------------------------
# Frontier-to-corpus pipeline — t_ingest_e2e extended one stage UPSTREAM
# with the robots.txt path gate in its true position: PRE-FETCH. A
# crawler checks robots.txt before spending a fetch, so the cost-correct
# composed order is
#   robots.txt gate (frontier, before the fetch is even made) →
#   URL-level dedup → per-page meta/opt-out gate → extraction → Gopher.
# Modeled here as the snapshot relation filtered by the per-host parsed
# Disallow prefixes (t_robots_txt's exact machinery) ahead of the
# t_ingest_e2e chain. Kept as a SEPARATE query so t_ingest_e2e's frozen
# hash stands; per-stage doc + char mass like every composed funnel.
def _frontier_oracle() -> str:
    from ..functions.html import sql_block_stats, sql_extract_main
    from .htmlpipe import _OPTOUT_IN
    from .textpipe import _gopher_cte

    robots = _robots_txt_sql(
        "CAST(regexp_extract(regexp_extract(curl, '://([^/]+)', 1),"
        " 'example([0-9]+)', 1) AS BIGINT)"
    )
    return f"""
    WITH {_isnap_sql()}, icanon AS (
      SELECT *, {_CANON_SQL} AS curl FROM isnap
    ), irtx AS (
      SELECT *, CASE WHEN len(list_filter(
               regexp_extract_all({robots}, '{_ROBOTS_DIS_RE}', 1),
               x -> starts_with(regexp_extract(curl, '://[^/]+(/.*)', 1), x))) > 0
             THEN 0 ELSE 1 END AS rallow
      FROM icanon
    ), irok AS (
      SELECT doc_id, source, ts, page, curl FROM irtx WHERE rallow = 1
    ), ikept AS (
      SELECT MAX_BY(doc_id, ts) AS doc_id FROM irok GROUP BY curl
    ), isurv AS (
      SELECT c.doc_id, c.source, c.page FROM irok c JOIN ikept k USING (doc_id)
    ), irob AS (
      SELECT doc_id, source, page,
             lower(regexp_extract(page, '{_META_ROBOTS_RE}', 1)) AS robots
      FROM isurv
    ), igate AS (
      SELECT doc_id, source, page,
             CASE WHEN position('noai' IN robots) > 0
                    OR position('noindex' IN robots) > 0 OR robots = 'none'
                    OR source IN ({_OPTOUT_IN})
                  THEN 0 ELSE 1 END AS kept
      FROM irob
    ), icompliant AS (
      SELECT doc_id, source, page FROM igate WHERE kept = 1
    ), iext AS (
      SELECT doc_id, source,
             {sql_extract_main(sql_block_stats('page'))} AS text
      FROM icompliant
    ), iexd AS (
      SELECT doc_id, source, text FROM iext WHERE len(text) > 0
    ), {_gopher_cte('iexd')}, ig6 AS (
      SELECT g.p_wc * g.p_mwl * g.p_alpha * g.p_stop * g.p_rep AS p,
             len(k.text) AS chars
      FROM gflag g JOIN iexd k ON k.doc_id = g.doc_id
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS stage, 'raw_snapshots' AS stage_name,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(length(page)) AS BIGINT) AS n_chars
      FROM icanon
      UNION ALL
      SELECT 2, 'robots_allowed', CAST(COUNT(*) AS BIGINT), CAST(SUM(length(page)) AS BIGINT)
      FROM irok
      UNION ALL
      SELECT 3, 'url_dedup', CAST(COUNT(*) AS BIGINT), CAST(SUM(length(page)) AS BIGINT)
      FROM isurv
      UNION ALL
      SELECT 4, 'optout_gate', CAST(COUNT(*) AS BIGINT), CAST(SUM(length(page)) AS BIGINT)
      FROM icompliant
      UNION ALL
      SELECT 5, 'extracted', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(length(text)), 0) AS BIGINT)
      FROM iexd
      UNION ALL
      SELECT 6, 'gopher_rules',
             CAST(COALESCE(SUM(p), 0) AS BIGINT),
             CAST(COALESCE(SUM(p * chars), 0) AS BIGINT)
      FROM ig6
    ) ORDER BY stage
    """


def _frontier_e2e_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.html import _spark_lit

    snap = _ingest_snap_df(spark, sf_dir).localCheckpoint(eager=True)
    robots = _robots_txt_sql(
        "CAST(regexp_extract(regexp_extract(curl, '://([^/]+)', 1),"
        " 'example([0-9]+)', 1) AS BIGINT)"
    )
    dis = f"regexp_extract_all({robots}, '{_spark_lit(_ROBOTS_DIS_RE)}', 1)"
    rok = snap.filter(
        F.expr(
            f"NOT exists({dis},"
            " x -> startswith(regexp_extract(curl, '://[^/]+(/.*)', 1), x))"
        )
    )
    rok = rok.localCheckpoint(eager=True)  # census + dedup chain
    return _ingest_funnel([("raw_snapshots", snap), ("robots_allowed", rok)])


# --------------------------------------------------------------------------
# Crawl-budget apportionment — the ACTION the per-host economics census
# exists for: divide a fixed next-epoch fetch budget across hosts in
# proportion to measured Gopher yield, by integer largest-remainder
# (Hamilton) apportionment. Weights are n_gopher + 1 (the +1 is the
# exploration floor: a zero-yield host keeps a crawl trickle so the
# census can ever revise its verdict). ENTIRELY integer arithmetic —
# base = B·w div W, remainder = B·w mod W, leftover seats go to the
# largest remainders (host-name tiebreak) — so both engines compute
# bit-identical allocations with zero float hazard, and
# Σ alloc == B exactly (asserted per-row in the output and by pytest).
# Scale shape: one tiny host-keyed aggregate (the yield census) + a
# single-row total broadcast + one window over |hosts| rows — the
# allocation itself is free next to the census that feeds it.
_CRAWL_BUDGET = 100003  # prime → nontrivial remainders at any yield mix


def _crawl_budget_oracle() -> str:
    return f"""
    WITH yields AS ({_host_yield_oracle()}
    ), w AS (
      SELECT host, n_gopher + 1 AS wt FROM yields
    ), tot AS (
      SELECT SUM(wt) AS tw, COUNT(*) AS nh FROM w
    ), q AS (
      SELECT host, wt,
             ({_CRAWL_BUDGET} * wt) // tw AS base_alloc,
             ({_CRAWL_BUDGET} * wt) % tw AS remainder
      FROM w, tot
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY remainder DESC, host) AS rk,
             (SELECT {_CRAWL_BUDGET} - SUM(base_alloc) FROM q) AS leftover
      FROM q
    )
    SELECT host, CAST(wt AS BIGINT) AS wt,
           CAST(base_alloc AS BIGINT) AS base_alloc,
           CAST(extra AS BIGINT) AS extra,
           CAST(base_alloc + extra AS BIGINT) AS alloc,
           CAST(SUM(base_alloc + extra) OVER () AS BIGINT) AS total_alloc
    FROM (
      SELECT host, wt, base_alloc,
             CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS extra
      FROM r
    ) ORDER BY host
    """


def _crawl_budget_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    y = _host_yield_impl(spark, sf_dir)
    w = y.select("host", (F.col("n_gopher") + F.lit(1)).cast("bigint").alias("wt"))
    w = w.localCheckpoint(eager=True)  # census reused by 2 aggregates
    tot = w.agg(F.sum("wt").alias("tw"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "host",
        "wt",
        F.expr(f"CAST({_CRAWL_BUDGET} * wt AS BIGINT) div tw").alias("base_alloc"),
        F.expr(f"CAST({_CRAWL_BUDGET} * wt AS BIGINT) % tw").alias("remainder"),
    )
    lo = q.agg((F.lit(_CRAWL_BUDGET) - F.sum("base_alloc")).alias("leftover"))
    r = (
        q.crossJoin(F.broadcast(lo))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("remainder").desc(), F.col("host"))
            ),
        )
        .withColumn(
            "extra",
            (F.col("rk") <= F.col("leftover")).cast("bigint"),
        )
    )
    return (
        r.withColumn(
            "total_alloc",
            F.sum(F.col("base_alloc") + F.col("extra")).over(Window.partitionBy()),
        )
        .select(
            "host",
            "wt",
            F.col("base_alloc").cast("bigint").alias("base_alloc"),
            "extra",
            (F.col("base_alloc") + F.col("extra")).cast("bigint").alias("alloc"),
            F.col("total_alloc").cast("bigint").alias("total_alloc"),
        )
        .orderBy("host")
    )


# --------------------------------------------------------------------------
# Incremental crawl ingest — the DELTA twin of the URL-dedup stage, and
# the operational reality at 100 TB: the corpus is never recomputed; a
# day's crawl batch merges into the COMMITTED canonical-URL index
# (curl → latest fetch ts + kept doc). Each batch URL is classified
#   new_url        — absent from the index            → pays extraction
#   refetch_newer  — newer than the committed snapshot → pays extraction
#   refetch_stale  — older than the committed snapshot → dropped free
# and the merged index is DIGEST-PROVED equal to a from-scratch
# recompute over the full snapshot history inside the query itself
# (md5-lane sum — the cross-engine hash gate therefore pins the
# incremental==full invariant at every scale factor it runs at).
#
# Scale shape: both sides are partial-aggregable groupBys on the
# canonical key; the classify join shuffles only the BATCH to the
# index's curl-partitioning (day-mass, not corpus-mass — at production
# the index is a bucketed stored table and the merge is a partition-
# wise upsert touching only partitions that contain batch keys);
# extraction cost downstream is ∝ new_urls + refetch_newer, never
# corpus size. The full-recompute lane exists HERE as the in-query
# oracle; production runs it only as an audit.
#
# Fixture: the urlpipe snapshot corpus split so all three classes are
# non-empty at every SF — the batch is doc_id % 4 == 0 (interleaved
# fetch times → both newer and stale refetches) plus every snapshot of
# articles ≡ 0 (mod 13) (families committed nowhere → new URLs).
_DELTA_MOD = 4
_NEWART_MOD = 13
_DIG_MOD = 1 << 40


def _classify_batch(committed: DataFrame, batch: DataFrame) -> DataFrame:
    """Per-URL verdict of a batch against the committed index:
    2 = new_url, 1 = refetch_newer, 0 = refetch_stale."""
    return batch.join(
        committed.select("curl", "last_ts", F.col("doc_id").alias("c_doc")),
        "curl",
        "left",
    ).withColumn(
        "verdict",
        F.expr(
            "CASE WHEN last_ts IS NULL THEN 2"
            " WHEN b_ts > last_ts THEN 1 ELSE 0 END"
        ),
    )


def _merge_index(cls: DataFrame, committed: DataFrame, batch: DataFrame) -> DataFrame:
    """The index merge: batch survivors override (new/newer) or defer
    (stale); committed keys untouched by the batch pass through — a
    partition-wise upsert on the canonical key at production."""
    survivors = cls.select(
        "curl",
        F.expr("CASE WHEN verdict = 0 THEN last_ts ELSE b_ts END").alias("last_ts"),
        F.expr("CASE WHEN verdict = 0 THEN c_doc ELSE b_doc END").alias("doc_id"),
    )
    untouched = committed.join(batch.select("curl"), "curl", "left_anti")
    return untouched.select("curl", "last_ts", "doc_id").unionByName(survivors)


def _delta_chain_sql() -> str:
    """The WITH-body shared by the delta-family oracles: snapshot
    synthesis → canonical key + delta split → committed index → batch
    aggregate → verdict classify → merged index (textually identical to
    what t_ingest_delta's oracle always contained, so its hash is
    unaffected by the extraction)."""
    return f"""{_snap_sql()}, c AS (
      SELECT doc_id, ts, {_CANON_SQL} AS curl,
             CASE WHEN doc_id % {_DELTA_MOD} = 0
                    OR (doc_id % {_N_ART}) % {_NEWART_MOD} = 0
                  THEN 1 ELSE 0 END AS in_delta
      FROM snaps
    ), committed AS (
      SELECT curl, MAX(ts) AS last_ts, MAX_BY(doc_id, ts) AS doc_id
      FROM c WHERE in_delta = 0 GROUP BY curl
    ), batch AS (
      SELECT curl, MAX(ts) AS b_ts, MAX_BY(doc_id, ts) AS b_doc,
             COUNT(*) AS b_snaps
      FROM c WHERE in_delta = 1 GROUP BY curl
    ), cls AS (
      SELECT b.curl, b.b_ts, b.b_doc, b.b_snaps, k.last_ts, k.doc_id AS c_doc,
             CASE WHEN k.curl IS NULL THEN 2
                  WHEN b.b_ts > k.last_ts THEN 1 ELSE 0 END AS verdict
      FROM batch b LEFT JOIN committed k ON b.curl = k.curl
    ), merged AS (
      SELECT curl,
             CASE WHEN verdict = 0 THEN last_ts ELSE b_ts END AS last_ts,
             CASE WHEN verdict = 0 THEN c_doc ELSE b_doc END AS doc_id
      FROM cls
      UNION ALL
      SELECT k.curl, k.last_ts, k.doc_id
      FROM committed k LEFT JOIN batch b ON k.curl = b.curl
      WHERE b.curl IS NULL
    )"""


def _delta_relations(spark: SparkSession, sf_dir: str):
    """Spark twin of `_delta_chain_sql`: (c, committed, batch, cls,
    merged) with the delta family's checkpoint discipline applied."""
    c = _snaps_df(spark, sf_dir).select(
        "doc_id",
        "ts",
        F.expr(_CANON_SPARK).alias("curl"),
        F.expr(
            f"CASE WHEN doc_id % {_DELTA_MOD} = 0"
            f" OR (doc_id % {_N_ART}) % {_NEWART_MOD} = 0"
            " THEN 1 ELSE 0 END"
        ).alias("in_delta"),
    )
    # the canonicalizer regex chain feeds three groupBys (committed,
    # batch, fullidx) — one checkpoint bounds it to one pass
    c = c.localCheckpoint(eager=True)
    committed = c.filter("in_delta = 0").groupBy("curl").agg(
        F.max("ts").alias("last_ts"),
        F.expr("max_by(doc_id, ts)").alias("doc_id"),
    )
    batch = c.filter("in_delta = 1").groupBy("curl").agg(
        F.max("ts").alias("b_ts"),
        F.expr("max_by(doc_id, ts)").alias("b_doc"),
        F.count(F.lit(1)).alias("b_snaps"),
    )
    # the index/batch relations each feed three consumers (classify
    # join, untouched anti-join, census aggregates); both are bounded
    # by canonical-URL cardinality here — at production `committed`
    # IS a stored bucketed table, so the checkpoint stands in for the
    # table scan, not for an extra corpus pass
    committed = committed.localCheckpoint(eager=True)
    batch = batch.localCheckpoint(eager=True)
    cls = _classify_batch(committed, batch)
    cls = cls.localCheckpoint(eager=True)  # survivors + verdict census
    merged = _merge_index(cls, committed, batch)
    return c, committed, batch, cls, merged


def _ingest_delta_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    key = "curl || '|' || CAST(doc_id AS VARCHAR) || '|' || CAST(last_ts AS VARCHAR)"
    dig = f"SUM({md5_long_sql(key)} % {_DIG_MOD})"
    metrics = """
      SELECT 1 AS step, 'committed_urls' AS metric, CAST(committed_urls AS BIGINT) AS value FROM stats
      UNION ALL SELECT 2, 'batch_snapshots', CAST(batch_snapshots AS BIGINT) FROM stats
      UNION ALL SELECT 3, 'batch_urls', CAST(batch_urls AS BIGINT) FROM stats
      UNION ALL SELECT 4, 'new_urls', CAST(new_urls AS BIGINT) FROM stats
      UNION ALL SELECT 5, 'refetch_newer', CAST(refetch_newer AS BIGINT) FROM stats
      UNION ALL SELECT 6, 'refetch_stale', CAST(refetch_stale AS BIGINT) FROM stats
      UNION ALL SELECT 7, 'pages_to_extract', CAST(new_urls + refetch_newer AS BIGINT) FROM stats
      UNION ALL SELECT 8, 'extract_saved_vs_recompute', CAST(full_urls - (new_urls + refetch_newer) AS BIGINT) FROM stats
      UNION ALL SELECT 9, 'merged_urls', CAST(merged_urls AS BIGINT) FROM stats
      UNION ALL SELECT 10, 'full_urls', CAST(full_urls AS BIGINT) FROM stats
      UNION ALL SELECT 11, 'merged_digest', CAST(merged_digest AS BIGINT) FROM stats
      UNION ALL SELECT 12, 'full_digest', CAST(full_digest AS BIGINT) FROM stats
      UNION ALL SELECT 13, 'digest_match',
        CAST(CASE WHEN merged_urls = full_urls AND merged_digest = full_digest
             THEN 1 ELSE 0 END AS BIGINT) FROM stats
    """
    return f"""
    WITH {_delta_chain_sql()}, fullidx AS (
      SELECT curl, MAX(ts) AS last_ts, MAX_BY(doc_id, ts) AS doc_id
      FROM c GROUP BY curl
    ), stats AS (
      SELECT
        (SELECT COUNT(*) FROM committed) AS committed_urls,
        (SELECT COALESCE(SUM(b_snaps), 0) FROM batch) AS batch_snapshots,
        (SELECT COUNT(*) FROM batch) AS batch_urls,
        (SELECT COALESCE(SUM(CASE WHEN verdict = 2 THEN 1 ELSE 0 END), 0) FROM cls) AS new_urls,
        (SELECT COALESCE(SUM(CASE WHEN verdict = 1 THEN 1 ELSE 0 END), 0) FROM cls) AS refetch_newer,
        (SELECT COALESCE(SUM(CASE WHEN verdict = 0 THEN 1 ELSE 0 END), 0) FROM cls) AS refetch_stale,
        (SELECT COUNT(*) FROM merged) AS merged_urls,
        (SELECT COUNT(*) FROM fullidx) AS full_urls,
        (SELECT COALESCE({dig}, 0) FROM merged) AS merged_digest,
        (SELECT COALESCE({dig}, 0) FROM fullidx) AS full_digest
    )
    SELECT CAST(step AS BIGINT) AS step, metric, value
    FROM ({metrics}) ORDER BY step
    """


# --------------------------------------------------------------------------
# Corpus-version manifest diff — the REPRODUCIBLE-SINK face of the
# incremental ingest: version A = the committed index's keep-set,
# version B = the post-delta merged keep-set, both sharded by the
# t_shard_manifest convention (md5(doc_id) mod 16 + a 1e9-residue
# checksum). Per shard: doc counts + checksums of both versions, docs
# added/removed by the delta, and a `changed` flag — the economics
# claim is that an incremental day REWRITES ONLY CHANGED SHARDS (a
# shard whose checksum is untouched needs no I/O). Conservation ties it
# to the delta census: Σ added == pages_to_extract, Σ removed ==
# refetch_newer (each replaced URL retires exactly one old doc).
# Scale shape: the keep-sets are index-cardinality relations; the
# added/removed anti-joins are batch-bounded on the doc_id key; the
# shard aggregates are 16-row partial aggregates.
_MANIFEST_SHARDS = 16  # == plans/textpipe._SHARDS (t_shard_manifest)
_MANIFEST_RES = 1_000_000_000


def _manifest_diff_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    h = md5_long_sql("CAST(doc_id AS VARCHAR)")
    keyed = (
        f"SELECT doc_id, {h} % {_MANIFEST_SHARDS} AS shard_id,"
        f" {h} % {_MANIFEST_RES} AS res"
    )
    return f"""
    WITH {_delta_chain_sql()}, av AS (
      {keyed} FROM committed
    ), bv AS (
      {keyed} FROM merged
    ), added AS (
      SELECT b.shard_id FROM bv b LEFT JOIN av a ON a.doc_id = b.doc_id
      WHERE a.doc_id IS NULL
    ), removed AS (
      SELECT a.shard_id FROM av a LEFT JOIN bv b ON b.doc_id = a.doc_id
      WHERE b.doc_id IS NULL
    ), aagg AS (
      SELECT shard_id, COUNT(*) AS a_docs, SUM(res) AS a_checksum
      FROM av GROUP BY shard_id
    ), bagg AS (
      SELECT shard_id, COUNT(*) AS b_docs, SUM(res) AS b_checksum
      FROM bv GROUP BY shard_id
    ), aadd AS (
      SELECT shard_id, COUNT(*) AS n_added FROM added GROUP BY shard_id
    ), arem AS (
      SELECT shard_id, COUNT(*) AS n_removed FROM removed GROUP BY shard_id
    ), spine AS (
      SELECT shard_id FROM aagg UNION SELECT shard_id FROM bagg
    )
    SELECT s.shard_id,
           CAST(COALESCE(a_docs, 0) AS BIGINT) AS a_docs,
           CAST(COALESCE(b_docs, 0) AS BIGINT) AS b_docs,
           CAST(COALESCE(n_added, 0) AS BIGINT) AS n_added,
           CAST(COALESCE(n_removed, 0) AS BIGINT) AS n_removed,
           CAST(COALESCE(a_checksum, 0) AS BIGINT) AS a_checksum,
           CAST(COALESCE(b_checksum, 0) AS BIGINT) AS b_checksum,
           CAST(CASE WHEN COALESCE(a_docs, 0) <> COALESCE(b_docs, 0)
                       OR COALESCE(a_checksum, 0) <> COALESCE(b_checksum, 0)
                THEN 1 ELSE 0 END AS BIGINT) AS changed
    FROM spine s
    LEFT JOIN aagg USING (shard_id)
    LEFT JOIN bagg USING (shard_id)
    LEFT JOIN aadd USING (shard_id)
    LEFT JOIN arem USING (shard_id)
    ORDER BY shard_id
    """


def _manifest_diff_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    _, committed, _, _, merged = _delta_relations(spark, sf_dir)

    def _keyed(df: DataFrame) -> DataFrame:
        h = md5_long(F.col("doc_id").cast("string"))
        return df.select(
            "doc_id",
            F.pmod(h, F.lit(_MANIFEST_SHARDS)).alias("shard_id"),
            F.pmod(h, F.lit(_MANIFEST_RES)).alias("res"),
        )

    av, bv = _keyed(committed), _keyed(merged)
    # each keyed keep-set feeds its shard aggregate AND one side of
    # both anti-joins; index-cardinality-bounded
    av = av.localCheckpoint(eager=True)
    bv = bv.localCheckpoint(eager=True)
    added = bv.join(av.select("doc_id"), "doc_id", "left_anti")
    removed = av.join(bv.select("doc_id"), "doc_id", "left_anti")
    aagg = av.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("a_docs"), F.sum("res").alias("a_checksum")
    )
    bagg = bv.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("b_docs"), F.sum("res").alias("b_checksum")
    )
    aadd = added.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n_added"))
    arem = removed.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n_removed"))
    spine = aagg.select("shard_id").union(bagg.select("shard_id")).distinct()
    out = (
        spine.join(aagg, "shard_id", "left")
        .join(bagg, "shard_id", "left")
        .join(aadd, "shard_id", "left")
        .join(arem, "shard_id", "left")
    )
    z = F.lit(0)
    a_docs = F.coalesce(F.col("a_docs"), z)
    b_docs = F.coalesce(F.col("b_docs"), z)
    a_ck = F.coalesce(F.col("a_checksum"), z)
    b_ck = F.coalesce(F.col("b_checksum"), z)
    return out.select(
        "shard_id",
        a_docs.cast("bigint").alias("a_docs"),
        b_docs.cast("bigint").alias("b_docs"),
        F.coalesce(F.col("n_added"), z).cast("bigint").alias("n_added"),
        F.coalesce(F.col("n_removed"), z).cast("bigint").alias("n_removed"),
        a_ck.cast("bigint").alias("a_checksum"),
        b_ck.cast("bigint").alias("b_checksum"),
        ((a_docs != b_docs) | (a_ck != b_ck)).cast("bigint").alias("changed"),
    ).orderBy("shard_id")


# --------------------------------------------------------------------------
# Multi-epoch fold — the claim that lets a deployment run t_ingest_delta
# FOREVER: the index merge is closed under composition,
#   merge(merge(idx0, day1), day2) == full recompute over all history,
# digest-proved in-query over TWO consecutive delta days (plus per-epoch
# verdict censuses showing both days exercise every class). The single-
# delta query proves one step; this proves the induction step composes —
# together they are the incremental-maintenance correctness argument.
# Epoch fixture: articles ≡ 0 (mod 11) appear only on day 1 and
# articles ≡ 1 (mod 11) only on day 2 (new-URL arms per day); every
# other family spreads its snapshots across the three epochs by
# doc_id % 3 (interleaved fetch times → newer AND stale refetches both
# days).
_EP_SQL = (
    f"CASE WHEN (doc_id % {_N_ART}) % 11 = 0 THEN 1"
    f" WHEN (doc_id % {_N_ART}) % 11 = 1 THEN 2"
    " ELSE doc_id % 3 END"
)


def _merge_cte_sql(n: str, committed: str, batch: str) -> str:
    """cls{n} + idx{n} CTE pair — the SQL twin of _classify_batch +
    _merge_index, parameterized so the fold chains epochs."""
    return f"""cls{n} AS (
      SELECT b.curl, b.b_ts, b.b_doc, b.b_snaps, k.last_ts, k.doc_id AS c_doc,
             CASE WHEN k.curl IS NULL THEN 2
                  WHEN b.b_ts > k.last_ts THEN 1 ELSE 0 END AS verdict
      FROM {batch} b LEFT JOIN {committed} k ON b.curl = k.curl
    ), idx{n} AS (
      SELECT curl,
             CASE WHEN verdict = 0 THEN last_ts ELSE b_ts END AS last_ts,
             CASE WHEN verdict = 0 THEN c_doc ELSE b_doc END AS doc_id
      FROM cls{n}
      UNION ALL
      SELECT k.curl, k.last_ts, k.doc_id
      FROM {committed} k LEFT JOIN {batch} b ON k.curl = b.curl
      WHERE b.curl IS NULL
    )"""


def _ingest_epochs_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    key = "curl || '|' || CAST(doc_id AS VARCHAR) || '|' || CAST(last_ts AS VARCHAR)"
    dig = f"SUM({md5_long_sql(key)} % {_DIG_MOD})"
    ep_stats = "".join(
        f"""
        (SELECT COALESCE(SUM(b_snaps), 0) FROM batch{e}) AS ep{e}_batch_snapshots,
        (SELECT COUNT(*) FROM batch{e}) AS ep{e}_batch_urls,
        (SELECT COALESCE(SUM(CASE WHEN verdict = 2 THEN 1 ELSE 0 END), 0) FROM cls{e}) AS ep{e}_new_urls,
        (SELECT COALESCE(SUM(CASE WHEN verdict = 1 THEN 1 ELSE 0 END), 0) FROM cls{e}) AS ep{e}_refetch_newer,
        (SELECT COALESCE(SUM(CASE WHEN verdict = 0 THEN 1 ELSE 0 END), 0) FROM cls{e}) AS ep{e}_refetch_stale,
        (SELECT COUNT(*) FROM idx{e}) AS ep{e}_merged_urls,"""
        for e in (1, 2)
    )
    metrics = " UNION ALL ".join(
        f"SELECT {i + 1} AS step, '{m}' AS metric, CAST({x} AS BIGINT) AS value FROM stats"
        for i, (m, x) in enumerate(
            [(f"ep{e}_{s}", f"ep{e}_{s}") for e in (1, 2) for s in (
                "batch_snapshots", "batch_urls", "new_urls",
                "refetch_newer", "refetch_stale", "merged_urls")]
            + [
                ("fold_urls", "fold_urls"),
                ("full_urls", "full_urls"),
                ("fold_digest", "fold_digest"),
                ("full_digest", "full_digest"),
                ("digest_match",
                 "CASE WHEN fold_urls = full_urls AND fold_digest = full_digest"
                 " THEN 1 ELSE 0 END"),
            ]
        )
    )
    return f"""
    WITH {_snap_sql()}, c AS (
      SELECT doc_id, ts, {_CANON_SQL} AS curl, {_EP_SQL} AS ep FROM snaps
    ), idx0 AS (
      SELECT curl, MAX(ts) AS last_ts, MAX_BY(doc_id, ts) AS doc_id
      FROM c WHERE ep = 0 GROUP BY curl
    ), batch1 AS (
      SELECT curl, MAX(ts) AS b_ts, MAX_BY(doc_id, ts) AS b_doc,
             COUNT(*) AS b_snaps
      FROM c WHERE ep = 1 GROUP BY curl
    ), {_merge_cte_sql("1", "idx0", "batch1")}, batch2 AS (
      SELECT curl, MAX(ts) AS b_ts, MAX_BY(doc_id, ts) AS b_doc,
             COUNT(*) AS b_snaps
      FROM c WHERE ep = 2 GROUP BY curl
    ), {_merge_cte_sql("2", "idx1", "batch2")}, fullidx AS (
      SELECT curl, MAX(ts) AS last_ts, MAX_BY(doc_id, ts) AS doc_id
      FROM c GROUP BY curl
    ), stats AS (
      SELECT {ep_stats}
        (SELECT COUNT(*) FROM idx2) AS fold_urls,
        (SELECT COUNT(*) FROM fullidx) AS full_urls,
        (SELECT COALESCE({dig}, 0) FROM idx2) AS fold_digest,
        (SELECT COALESCE({dig}, 0) FROM fullidx) AS full_digest
    )
    SELECT CAST(step AS BIGINT) AS step, metric, value
    FROM ({metrics}) ORDER BY step
    """


def _ingest_epochs_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    c = _snaps_df(spark, sf_dir).select(
        "doc_id",
        "ts",
        F.expr(_CANON_SPARK).alias("curl"),
        F.expr(_EP_SQL).alias("ep"),
    )
    c = c.localCheckpoint(eager=True)  # four groupBy consumers

    def _idx(df: DataFrame) -> DataFrame:
        return df.groupBy("curl").agg(
            F.max("ts").alias("last_ts"),
            F.expr("max_by(doc_id, ts)").alias("doc_id"),
        )

    def _batch(df: DataFrame) -> DataFrame:
        return df.groupBy("curl").agg(
            F.max("ts").alias("b_ts"),
            F.expr("max_by(doc_id, ts)").alias("b_doc"),
            F.count(F.lit(1)).alias("b_snaps"),
        )

    def _ck(df: DataFrame) -> DataFrame:
        # index/batch/classify relations each feed 2-3 consumers; all
        # are bounded by canonical-URL cardinality (at production the
        # folded index is a stored table between epochs anyway)
        return df.localCheckpoint(eager=True)

    idx0 = _ck(_idx(c.filter("ep = 0")))
    b1 = _ck(_batch(c.filter("ep = 1")))
    b2 = _ck(_batch(c.filter("ep = 2")))
    cls1 = _ck(_classify_batch(idx0, b1))
    idx1 = _ck(_merge_index(cls1, idx0, b1))
    cls2 = _ck(_classify_batch(idx1, b2))
    idx2 = _merge_index(cls2, idx1, b2)
    fullidx = _idx(c)

    def _dig(df: DataFrame, n_name: str, d_name: str) -> DataFrame:
        key = F.concat_ws(
            "|",
            F.col("curl"),
            F.col("doc_id").cast("string"),
            F.col("last_ts").cast("string"),
        )
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias(n_name),
            F.coalesce(
                F.sum(F.pmod(md5_long(key), F.lit(_DIG_MOD))), F.lit(0)
            )
            .cast("bigint")
            .alias(d_name),
        )

    def _census(b: DataFrame, cls: DataFrame, idx: DataFrame, e: int) -> DataFrame:
        sb = b.agg(
            F.coalesce(F.sum("b_snaps"), F.lit(0))
            .cast("bigint")
            .alias(f"ep{e}_batch_snapshots"),
            F.count(F.lit(1)).cast("bigint").alias(f"ep{e}_batch_urls"),
        )
        sc = cls.agg(
            *[
                F.coalesce(F.sum((F.col("verdict") == v).cast("int")), F.lit(0))
                .cast("bigint")
                .alias(f"ep{e}_{nm}")
                for v, nm in ((2, "new_urls"), (1, "refetch_newer"), (0, "refetch_stale"))
            ]
        )
        si = idx.agg(F.count(F.lit(1)).cast("bigint").alias(f"ep{e}_merged_urls"))
        return sb.crossJoin(sc).crossJoin(si)

    stats = (
        _census(b1, cls1, idx1, 1)
        .crossJoin(_census(b2, cls2, idx2, 2))
        .crossJoin(_dig(idx2, "fold_urls", "fold_digest"))
        .crossJoin(_dig(fullidx, "full_urls", "full_digest"))
    )
    arms = []
    step = 0
    for e in (1, 2):
        for s in ("batch_snapshots", "batch_urls", "new_urls",
                  "refetch_newer", "refetch_stale", "merged_urls"):
            step += 1
            arms.append(f" CAST({step} AS BIGINT), 'ep{e}_{s}', ep{e}_{s}")
    for m, x in (
        ("fold_urls", "fold_urls"),
        ("full_urls", "full_urls"),
        ("fold_digest", "fold_digest"),
        ("full_digest", "full_digest"),
        ("digest_match",
         "CAST(CASE WHEN fold_urls = full_urls AND fold_digest = full_digest"
         " THEN 1 ELSE 0 END AS BIGINT)"),
    ):
        step += 1
        arms.append(f" CAST({step} AS BIGINT), '{m}', {x}")
    return stats.selectExpr(
        f"stack({step}, {','.join(arms)}) AS (step, metric, value)"
    ).orderBy("step")


def _ingest_delta_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    c, committed, batch, cls, merged = _delta_relations(spark, sf_dir)
    fullidx = c.groupBy("curl").agg(
        F.max("ts").alias("last_ts"),
        F.expr("max_by(doc_id, ts)").alias("doc_id"),
    )

    def _dig(df: DataFrame, n_name: str, d_name: str) -> DataFrame:
        key = F.concat_ws(
            "|",
            F.col("curl"),
            F.col("doc_id").cast("string"),
            F.col("last_ts").cast("string"),
        )
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias(n_name),
            F.coalesce(
                F.sum(F.pmod(md5_long(key), F.lit(_DIG_MOD))), F.lit(0)
            )
            .cast("bigint")
            .alias(d_name),
        )

    s_committed = committed.agg(F.count(F.lit(1)).cast("bigint").alias("committed_urls"))
    s_batch = batch.agg(
        F.coalesce(F.sum("b_snaps"), F.lit(0)).cast("bigint").alias("batch_snapshots"),
        F.count(F.lit(1)).cast("bigint").alias("batch_urls"),
    )
    s_cls = cls.agg(
        F.coalesce(F.sum((F.col("verdict") == 2).cast("int")), F.lit(0))
        .cast("bigint")
        .alias("new_urls"),
        F.coalesce(F.sum((F.col("verdict") == 1).cast("int")), F.lit(0))
        .cast("bigint")
        .alias("refetch_newer"),
        F.coalesce(F.sum((F.col("verdict") == 0).cast("int")), F.lit(0))
        .cast("bigint")
        .alias("refetch_stale"),
    )
    s_merged = _dig(merged, "merged_urls", "merged_digest")
    s_full = _dig(fullidx, "full_urls", "full_digest")
    return (
        s_committed.crossJoin(s_batch)
        .crossJoin(s_cls)
        .crossJoin(s_merged)
        .crossJoin(s_full)
        .selectExpr(
            "stack(13,"
            " CAST(1 AS BIGINT), 'committed_urls', committed_urls,"
            " CAST(2 AS BIGINT), 'batch_snapshots', batch_snapshots,"
            " CAST(3 AS BIGINT), 'batch_urls', batch_urls,"
            " CAST(4 AS BIGINT), 'new_urls', new_urls,"
            " CAST(5 AS BIGINT), 'refetch_newer', refetch_newer,"
            " CAST(6 AS BIGINT), 'refetch_stale', refetch_stale,"
            " CAST(7 AS BIGINT), 'pages_to_extract', new_urls + refetch_newer,"
            " CAST(8 AS BIGINT), 'extract_saved_vs_recompute',"
            "   full_urls - (new_urls + refetch_newer),"
            " CAST(9 AS BIGINT), 'merged_urls', merged_urls,"
            " CAST(10 AS BIGINT), 'full_urls', full_urls,"
            " CAST(11 AS BIGINT), 'merged_digest', merged_digest,"
            " CAST(12 AS BIGINT), 'full_digest', full_digest,"
            " CAST(13 AS BIGINT), 'digest_match',"
            "   CAST(CASE WHEN merged_urls = full_urls"
            "        AND merged_digest = full_digest THEN 1 ELSE 0 END AS BIGINT)"
            ") AS (step, metric, value)"
        )
        .orderBy("step")
    )


# --------------------------------------------------------------------------
# Per-host crawl economics — the census that drives crawl-BUDGET
# allocation upstream of everything else (host-level filtering and
# fetch prioritization à la CCNet/RefinedWeb): for each canonical host,
# how much fetch mass went in and how much corpus came out —
# snapshots → canonical pages → opt-out-compliant → extraction
# survivors → Gopher survivors, plus extracted char mass and the
# survivors-per-fetch yield. A crawler reallocates budget toward hosts
# whose yield_per_fetch earns it. Every stage is the ingest family's
# exact machinery (shared snapshot fixture, htmlpipe gate/extraction,
# textpipe gopher CTE); the aggregation is two partial-aggregable
# groupBys on the host key joined host-to-host (7 rows here; at 100 TB
# the host key is low-cardinality relative to pages, and the census is
# a map-side-combine aggregate over the already-materialized funnel).
_HOST_RE = "://([^/]+)"


def _host_yield_oracle() -> str:
    from ..functions.html import sql_block_stats, sql_extract_main
    from .htmlpipe import _OPTOUT_IN
    from .textpipe import _gopher_cte

    return f"""
    WITH {_isnap_sql()}, icanon AS (
      SELECT *, {_CANON_SQL} AS curl,
             regexp_extract({_CANON_SQL}, '{_HOST_RE}', 1) AS host
      FROM isnap
    ), ikept AS (
      SELECT MAX_BY(doc_id, ts) AS doc_id FROM icanon GROUP BY curl
    ), isurv AS (
      SELECT c.doc_id, c.source, c.page, c.host
      FROM icanon c JOIN ikept k USING (doc_id)
    ), igate AS (
      SELECT doc_id, source, page, host,
             CASE WHEN position('noai' IN robots) > 0
                    OR position('noindex' IN robots) > 0 OR robots = 'none'
                    OR source IN ({_OPTOUT_IN})
                  THEN 0 ELSE 1 END AS kept
      FROM (
        SELECT *, lower(regexp_extract(page, '{_META_ROBOTS_RE}', 1)) AS robots
        FROM isurv
      )
    ), iexd AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source,
               {sql_extract_main(sql_block_stats('page'))} AS text
        FROM igate WHERE kept = 1
      ) WHERE len(text) > 0
    ), {_gopher_cte('iexd')}, sflags AS (
      SELECT g8.host, g8.kept,
             COALESCE(x.chars, 0) AS ext_chars,
             COALESCE(gf.p, 0) AS gp
      FROM igate g8
      LEFT JOIN (SELECT doc_id, len(text) AS chars FROM iexd) x
        ON x.doc_id = g8.doc_id
      LEFT JOIN (
        SELECT doc_id, p_wc * p_mwl * p_alpha * p_stop * p_rep AS p FROM gflag
      ) gf ON gf.doc_id = g8.doc_id
    ), snapagg AS (
      SELECT host, CAST(COUNT(*) AS BIGINT) AS n_snapshots
      FROM icanon GROUP BY host
    ), hostagg AS (
      SELECT host,
             CAST(COUNT(*) AS BIGINT) AS n_canonical,
             CAST(COALESCE(SUM(kept), 0) AS BIGINT) AS n_compliant,
             CAST(COALESCE(SUM(CASE WHEN ext_chars > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_extracted,
             CAST(COALESCE(SUM(ext_chars), 0) AS BIGINT) AS extracted_chars,
             CAST(COALESCE(SUM(gp), 0) AS BIGINT) AS n_gopher
      FROM sflags GROUP BY host
    )
    SELECT s.host, s.n_snapshots, h.n_canonical, h.n_compliant,
           h.n_extracted, h.extracted_chars, h.n_gopher,
           {sql_trunc6('CAST(h.n_gopher AS DOUBLE) / s.n_snapshots')} AS yield_per_fetch
    FROM snapagg s JOIN hostagg h USING (host)
    ORDER BY host
    """


def _host_yield_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    snap = _ingest_snap_df(spark, sf_dir).withColumn(
        "host", F.regexp_extract("curl", _HOST_RE, 1)
    )
    snap = snap.localCheckpoint(eager=True)  # synthesis feeds 3 consumers
    gate = optout_gate(latest_per_url(snap)).select("doc_id", "source", "page", "host", "kept")
    gate = gate.localCheckpoint(eager=True)  # extraction + host census
    exd = extract_text(gate.filter("kept = 1"), "page", "doc_id", "source")
    exd = exd.localCheckpoint(eager=True)  # gopher multi-consumes text
    gf = gopher_flags(exd).select("doc_id", gopher_pass().alias("p"))
    sflags = (
        gate.select("doc_id", "host", "kept")
        .join(exd.select("doc_id", F.length("text").alias("chars")), "doc_id", "left")
        .join(gf, "doc_id", "left")
        .select(
            "host",
            "kept",
            F.coalesce(F.col("chars"), F.lit(0)).alias("ext_chars"),
            F.coalesce(F.col("p"), F.lit(0)).alias("gp"),
        )
    )
    snapagg = snap.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_snapshots")
    )
    hostagg = sflags.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_canonical"),
        F.coalesce(F.sum("kept"), F.lit(0)).cast("bigint").alias("n_compliant"),
        F.coalesce(F.sum((F.col("ext_chars") > 0).cast("int")), F.lit(0))
        .cast("bigint")
        .alias("n_extracted"),
        F.coalesce(F.sum("ext_chars"), F.lit(0)).cast("bigint").alias("extracted_chars"),
        F.coalesce(F.sum("gp"), F.lit(0)).cast("bigint").alias("n_gopher"),
    )
    return (
        snapagg.join(hostagg, "host")
        .select(
            "host",
            "n_snapshots",
            "n_canonical",
            "n_compliant",
            "n_extracted",
            "extracted_chars",
            "n_gopher",
            trunc6(F.col("n_gopher").cast("double") / F.col("n_snapshots")).alias(
                "yield_per_fetch"
            ),
        )
        .orderBy("host")
    )


def _register_ingest():
    register(
        QuerySpec(
            name="t_ingest_e2e",
            spark=_ingest_e2e_impl,
            oracle=_ingest_oracle(),
            doc="the COMPLETE crawl-ingest pipeline as one plan, in the "
            "only cost-correct stage order: URL-level dedup (keep latest "
            "per canonical key — cheapest, before any content byte) -> "
            "robots/opt-out gate (regex on raw bytes) -> main-content "
            "extraction (the expensive HOF chain, only on deduped "
            "compliant pages) -> Gopher quality; every stage is the "
            "standalone query's exact machinery; per-stage doc + char mass",
            tags=("url",),
        )
    )
    register(
        QuerySpec(
            name="t_ingest_delta",
            spark=_ingest_delta_impl,
            oracle=_ingest_delta_oracle(),
            doc="incremental crawl ingest: a day's snapshot batch merges "
            "into the committed canonical-URL index — per-URL verdicts "
            "(new / newer refetch / stale refetch), pages that must pay "
            "extraction vs a full recompute, and an in-query md5-lane "
            "digest PROVING the merged index equals the from-scratch "
            "recompute (the hash gate pins incremental==full at every SF); "
            "classify join shuffles only batch mass to the index "
            "partitioning — day-bounded cost, never corpus-bounded",
            tags=("url",),
        )
    )
    register(
        QuerySpec(
            name="t_ingest_epochs",
            spark=_ingest_epochs_impl,
            oracle=_ingest_epochs_oracle(),
            doc="multi-epoch fold of the incremental ingest merge: TWO "
            "consecutive delta days folded into the committed index, "
            "per-epoch verdict censuses (every class exercised both "
            "days), and an in-query md5-lane digest proving "
            "merge(merge(idx0, day1), day2) == full recompute — the "
            "composition-closure half of the incremental-maintenance "
            "correctness argument (t_ingest_delta proves one step)",
            tags=("url",),
        )
    )
    register(
        QuerySpec(
            name="t_host_yield",
            spark=_host_yield_impl,
            oracle=_host_yield_oracle(),
            doc="per-host crawl economics census: snapshot mass -> "
            "canonical pages -> opt-out-compliant -> extraction "
            "survivors -> Gopher survivors per canonical host, with "
            "extracted char mass and survivors-per-fetch yield — the "
            "numbers a crawler reallocates fetch budget by; shared "
            "ingest machinery, two host-keyed partial aggregates",
            tags=("url",),
        )
    )
    register(
        QuerySpec(
            name="t_crawl_budget",
            spark=_crawl_budget_impl,
            oracle=_crawl_budget_oracle(),
            doc="crawl-budget apportionment: a fixed next-epoch fetch "
            "budget divided across hosts in proportion to Gopher yield "
            "(weight = n_gopher + 1, the exploration floor) by integer "
            "largest-remainder (Hamilton) apportionment — base = B*w "
            "div W, leftover seats to the largest remainders, host-name "
            "tiebreak; ENTIRELY integer arithmetic so both engines "
            "allocate bit-identically and sum(alloc) == B exactly "
            "(total_alloc column is the in-query self-check)",
            tags=("url",),
        )
    )
    register(
        QuerySpec(
            name="t_manifest_diff",
            spark=_manifest_diff_impl,
            oracle=_manifest_diff_oracle(),
            doc="corpus-version manifest diff: committed vs post-delta "
            "keep-sets sharded by the t_shard_manifest convention "
            "(md5 mod 16 + residue checksum) — per shard both versions' "
            "doc counts and checksums, docs added/removed by the delta, "
            "and a changed flag; the reproducible-sink economics (an "
            "incremental day rewrites ONLY changed shards); "
            "conservation: sum(added) == pages_to_extract, "
            "sum(removed) == refetch_newer",
            tags=("url",),
        )
    )
    register(
        QuerySpec(
            name="t_robots_txt",
            spark=t_robots_txt,
            oracle=_robots_gate_oracle(),
            doc="robots.txt path gate (the per-HOST half of the robots "
            "story, alongside t_optout_gate's per-page meta tags): "
            "deterministic per-host robots.txt synthesis (three policy "
            "archetypes), REAL multiline Disallow-line parse "
            "(regexp_extract_all, shared RE2/Java constant), canonical "
            "URL path prefix-matched against the host's parsed prefixes "
            "via an exists() HOF; per-host blocked/allowed census — "
            "robots.txt is per-host broadcast-shaped data joined on the "
            "URL store's partition key",
            tags=("url",),
        )
    )
    register(
        QuerySpec(
            name="t_frontier_e2e",
            spark=_frontier_e2e_impl,
            oracle=_frontier_oracle(),
            doc="t_ingest_e2e extended one stage UPSTREAM with the "
            "robots.txt path gate in its true PRE-FETCH position: "
            "robots.txt frontier gate -> URL-level dedup -> per-page "
            "meta/opt-out gate -> extraction -> Gopher, one plan, "
            "per-stage doc + char mass; the complete crawl governance "
            "order (a disallowed path never costs a fetch, a duplicate "
            "URL never costs a byte, a non-compliant page never costs "
            "extraction)",
            tags=("url",),
        )
    )


_register_ingest()
