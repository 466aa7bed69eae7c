"""Crawl-refinery head operators — the one Spark-side definition of the
decisions every crawl-head funnel shares: latest snapshot per canonical
URL → robots/opt-out gate → jusText-lite main-text extraction → Gopher
quality rules (Rae et al. '21) → per-stage census. Used by the HTML and
opt-out queries (plans/htmlpipe), the ingest family (plans/urlpipe), the
text refinery gates (plans/textpipe) and the streaming ingest face
(streaming/pipelines.ingest_stream_e2e).

The duckdb oracles spell each rule in their own SQL; the hash gate is
what checks the two spellings agree. Every helper here is lazy — batch
callers checkpoint where a frame has several consumers, the streaming
face runs the same expressions per micro-batch.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.html import _spark_lit, block_stats, extract_main

# --------------------------------------------------------------------------
# Robots / opt-out gate. A page is dropped when its <meta name="robots">
# carries noai, noindex or exactly none, or when its source is on the
# per-source opt-out list. The gate is one regex on the raw bytes, so
# every funnel runs it before extraction.
_META_ROBOTS_RE = r'(?is)<meta\s[^>]*name="robots"[^>]*content="([^"]*)"'
_OPTOUT_SOURCES = ("src3", "src17")


def optout_gate(df: DataFrame, page_col: str = "page") -> DataFrame:
    """``df`` plus the int verdicts (meta_noai, meta_noindex,
    src_optout) of its raw page ``page_col`` and its ``source``, and
    ``kept`` = 1 when all three are 0."""
    robots = f"lower(regexp_extract({page_col}, '{_spark_lit(_META_ROBOTS_RE)}', 1))"
    return df.select(
        "*",
        F.expr(f"CASE WHEN position('noai' IN {robots}) > 0 THEN 1 ELSE 0 END").alias(
            "meta_noai"
        ),
        F.expr(
            f"CASE WHEN position('noindex' IN {robots}) > 0 OR {robots} = 'none'"
            " THEN 1 ELSE 0 END"
        ).alias("meta_noindex"),
        F.col("source").isin(*_OPTOUT_SOURCES).cast("int").alias("src_optout"),
    ).withColumn(
        "kept",
        (
            (F.col("meta_noai") == 0)
            & (F.col("meta_noindex") == 0)
            & (F.col("src_optout") == 0)
        ).cast("int"),
    )


# --------------------------------------------------------------------------
# URL-level dedup and main-text extraction.
def latest_per_url(df: DataFrame) -> DataFrame:
    """The rows of ``df`` that are the latest snapshot (max ``ts``) of
    their canonical URL ``curl`` — one groupBy on the key, semi-joined
    back on ``doc_id`` so every column survives. Fetch times are unique
    per URL by construction, so the pick is deterministic."""
    kept = df.groupBy("curl").agg(F.expr("max_by(doc_id, ts)").alias("doc_id"))
    return df.join(kept.select("doc_id"), "doc_id", "left_semi")


def extract_text(df: DataFrame, page_col: str, *keep) -> DataFrame:
    """(*keep, text): the main content of each raw page ``page_col``
    (block_stats → extract_main, functions/html.py), rows whose
    extraction is empty dropped. ``keep`` names (or computes) the
    columns carried alongside."""
    # A Filter on `text` would be pushed below the projection and run
    # the extraction twice per row (once in the condition, once in the
    # output). Exploding the 0-or-1-element array drops the empty rows
    # with one evaluation.
    text = F.filter(F.array(extract_main("__stats")), lambda t: F.length(t) > 0)
    return df.withColumn("__stats", block_stats(page_col)).select(
        *keep, F.explode(text).alias("text")
    )


# --------------------------------------------------------------------------
# Gopher quality-rule gate (Rae et al. 2021, §A1.1). The synthetic
# corpus has no newlines or symbol runs, so the line-based rules are
# omitted and the five meaningful rules are kept, with bounds calibrated
# to be non-degenerate on this corpus (published bounds in comments):
#   R1 token count in [25, 80]           (paper: words in [50, 100k])
#   R2 mean word length in [3.0, 4.5]    (paper: [3, 10])
#   R3 ≥80% of words contain a letter    (paper: 80%)
#   R4 ≥2 distinct English stopwords     (paper: ≥2 of 8)
#   R5 top-bigram token fraction ≤ 0.125 (paper: top-2-gram char
#                                         fraction ≤ 0.20)
# Scale: every rule is a per-row JVM expression over the token array —
# zero shuffles. The R5 distinct×occurrence scan is O(len²) in tokens
# per row but map-side; for book-length docs switch to the exploded
# groupBy form (d_hot_ngrams' shape) — at ≤10k tokens/doc the HOF wins
# because it never shuffles the gram stream.
_GOPHER_STOP = "'the', 'a', 'of', 'and', 'to', 'in', 'is', 'that', 'it', 'for'"


def gopher_flags(d: DataFrame, keep: tuple = ()) -> DataFrame:
    """Per-document Gopher rule verdicts (doc_id, source, n_tok, p_*)
    over ``d``'s (doc_id, source, text). ``keep`` names extra input
    columns carried through unchanged — the streaming composed ingest
    uses it to avoid a stream-stream self-join."""
    stop = [w.strip(" '") for w in _GOPHER_STOP.split(",")]
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    s = d.select(
        "doc_id",
        "source",
        toks.alias("toks"),
        F.size(toks).alias("n_tok"),
        F.length(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", "")).alias("n_chars_ws"),
        *keep,
    )
    # bigram stream rebuilt inline at each use (convention: exploding /
    # transforming a named heavy array column pays an UnsafeRow copy)
    grams = F.expr(
        "transform(sequence(1, greatest(size(toks) - 1, 1)),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    r = s.select(
        "doc_id",
        "source",
        "n_tok",
        *keep,
        (F.col("n_chars_ws").cast("double") / F.col("n_tok")).alias("mwl"),
        (
            F.size(F.filter(F.col("toks"), lambda t: t.rlike("[a-z]"))).cast("double")
            / F.col("n_tok")
        ).alias("alpha_ratio"),
        F.size(F.array_distinct(F.filter(F.col("toks"), lambda t: t.isin(stop)))).alias("n_stop"),
        F.when(F.col("n_tok") < 2, F.lit(0.0))
        .otherwise(
            F.array_max(
                F.transform(
                    F.array_distinct(grams),
                    lambda g: F.size(F.filter(grams, lambda x: x == g)),
                )
            ).cast("double")
            * F.lit(2.0)
            / F.col("n_tok")
        )
        .alias("rep_frac"),
    )
    return r.select(
        "doc_id",
        "source",
        "n_tok",
        *keep,
        F.col("n_tok").between(25, 80).cast("int").alias("p_wc"),
        ((F.col("mwl") >= 3.0) & (F.col("mwl") <= 4.5)).cast("int").alias("p_mwl"),
        (F.col("alpha_ratio") >= 0.8).cast("int").alias("p_alpha"),
        (F.col("n_stop") >= 2).cast("int").alias("p_stop"),
        (F.col("rep_frac") <= 0.125).cast("int").alias("p_rep"),
    )


def gopher_pass() -> Column:
    """1 when a ``gopher_flags`` row passes all five rules, else 0."""
    return F.col("p_wc") * F.col("p_mwl") * F.col("p_alpha") * F.col("p_stop") * F.col("p_rep")


# --------------------------------------------------------------------------
# Per-stage census.
def stage_census(stages: list, mass: str) -> DataFrame:
    """(stage, stage_name, n_docs, ``mass``), one row per stage in list
    order. Each stage is (name, frame, count column, mass column): every
    frame aggregates to one row, the rows are crossJoined and stack()
    unpivots them. Callers pass their own aggregate columns, so each
    funnel keeps its own empty-stage null/COALESCE behaviour."""
    rows = [df.agg(n.alias(f"n{i}"), m.alias(f"m{i}")) for i, (_, df, n, m) in enumerate(stages, 1)]
    arms = ", ".join(
        f"CAST({i} AS BIGINT), '{name}', n{i}, m{i}" for i, (name, *_) in enumerate(stages, 1)
    )
    return (
        reduce(DataFrame.crossJoin, rows)
        .selectExpr(f"stack({len(stages)}, {arms}) AS (stage, stage_name, n_docs, {mass})")
        .orderBy("stage")
    )
