"""Second docpipe family: corpus-level duplicate-n-gram mining and a
prefix-filtered set-similarity join (PPJoin-style).

Beyond-parity surface (the reference processes no text — SURVEY §2
training-data-pipeline family). Both queries here are the standard
scale-out layouts for their problems:

- d_hot_ngrams: Lee et al. ("Deduplicating Training Data Makes LMs
  Better") style duplicate-n-gram mining — one explode + one groupBy on
  the gram key; linear in corpus token count, shuffle cardinality is
  bounded by distinct-gram count, with map-side partial aggregation.
- d_prefix_filter_jaccard: exact Jaccard-threshold self-join WITHOUT
  the all-pairs product. Prefix filtering (Chaudhuri et al. SSJoin /
  Xiao et al. PPJoin): order every doc's token set by ascending global
  document frequency; two sets with J ≥ τ MUST share a token in their
  first |S| − ⌈τ·|S|⌉ + 1 rarest tokens, so candidate generation is an
  equi-join on prefix tokens only (rare tokens → tiny buckets), plus a
  length filter. Verification computes exact Jaccard on the candidates
  only. At 100 TB this is the difference between O(n²) pairs and the
  inverted-index join the dedup literature actually ships.

Determinism: the Jaccard threshold test is pure integer arithmetic
(10·|∩| ≥ ⌈10τ⌉·|∪| with τ = 0.6 → 10·inter ≥ 6·union), so Spark and
the duckdb brute-force oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.hashing import md5_long_sql
from ..operators.neardup import (
    BUCKET_CAP,
    cap_hot_keys,
    capped_stream,
    inplace_pairs,
    shingle_overlap,
)
from .docpipe import _fanout
from .registry import QuerySpec, checkpoint_release, register, sql_trunc6, trunc6

_NORM = "lower(trim(text))"
_TOKS = f"string_split_regex({_NORM}, '\\s+')"


def _q(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        register(QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc, tags=("docs",)))
        return fn

    return deco


# --------------------------------------------------------------------------
# duplicate 5-gram mining across the corpus: every 5-gram occurring in
# ≥ 2 distinct documents, with doc- and occurrence-counts. ONE explode
# (all occurrences, not distinct — occurrence counts need multiplicity)
# and ONE shuffle on the gram; count(distinct doc_id) expands to the
# standard two-phase distinct-agg plan.
@_q(
    "d_hot_ngrams",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ), grams AS (
      SELECT doc_id,
             concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) AS g
      FROM (SELECT doc_id, tk,
                   unnest(range(1, GREATEST(len(tk) - 4, 1) + 1)) AS i
            FROM toks)
    )
    SELECT g AS ngram,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM grams
    GROUP BY g
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, ngram
    LIMIT 25
    """,
    doc="Duplicate-5-gram mining (Lee et al. dedup flavor): top cross-doc grams.",
)
def d_hot_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = 5
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    # all occurrences (no array_distinct — multiplicity matters here)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return (
        d.select("doc_id", F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occurrences").desc(), "ngram")
        .limit(25)
    )


# --------------------------------------------------------------------------
# prefix-filtered exact Jaccard join at τ = 0.6. The oracle is the
# deliberately-independent brute-force all-pairs formulation; the Spark
# plan is the inverted-prefix-index candidate join — equal output proves
# the filter is lossless.
@_q(
    "d_prefix_filter_jaccard",
    f"""
    WITH tk AS (
      SELECT doc_id, list_distinct({_TOKS}) AS tk FROM documents
    ), pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             len(list_intersect(a.tk, b.tk)) AS ni,
             len(a.tk) AS na, len(b.tk) AS nb
      FROM tk a JOIN tk b ON a.doc_id < b.doc_id
    )
    SELECT da, db,
           FLOOR((ni / (na + nb - ni)) * 1000000.0) / 1000000.0 AS jaccard
    FROM pairs
    WHERE 10 * ni >= 6 * (na + nb - ni)
    ORDER BY da, db
    """,
    doc="PPJoin-style prefix-filtered Jaccard self-join (τ=0.6) vs brute-force oracle.",
)
def d_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    tau = 0.6
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    # explode the token-array EXPRESSION in the same select: naming the
    # array in an intermediate projection materializes it through an
    # UnsafeRow copy before the Generate (measured 1.6x slower warm)
    #
    # Round 12 (§2.3 narrower types): tokens are hashed to 64-bit longs
    # (xxhash64 — Spark-side only; the oracle stays the brute-force
    # STRING formulation, so the hash gate independently proves the
    # values) immediately after the distinct-explode. Everything
    # downstream — the document-frequency key, the prefix join key, the
    # sorted per-doc arrays both verification sides carry, and the
    # array_intersect itself — compares/ships fixed-width longs instead
    # of ~5-15-byte UTF8 strings. Measured: the verification stage is
    # 68% of the warm query (5.1 s over 9.79M candidate pairs at
    # sf0.1); long arrays halve its bytes and its hashing work. The
    # prefix ORDER becomes (df, hash) instead of (df, token) — a
    # different but still total, deterministic global order, over which
    # the prefix/positional filters remain lossless (the theory needs
    # any one consistent order), so the verified output is unchanged.
    # Collision analysis (d_dedup_clusters two-lane convention): a
    # collision only matters WITHIN one document's token set (would
    # shrink n) or one pair's union (would shift ni) — ≤ ~10⁴ tokens ⇒
    # P ≈ 10⁸/2⁶⁴ per doc; the cross-engine gate would expose any hit.
    tok = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        ).alias("t0"),
    ).select("doc_id", F.xxhash64("t0").alias("t"))
    # global document frequency per token — the prefix ordering key.
    # Vocabulary grows ~ heap with corpus size, so no forced broadcast
    # (AQE broadcasts at test scale, shuffles when the vocab outgrows it).
    dfreq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    # per-doc token array sorted rarest-first (df asc, token asc —
    # struct array_sort gives the lexicographic (df, t) order, total and
    # engine-independent)
    sorted_tk = (
        tok.join(dfreq, "t")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "t"))).alias("st"))
        .select(
            "doc_id",
            F.transform("st", lambda s: s["t"]).alias("tk"),
            F.size("st").alias("n"),
        )
    )
    # feeds the prefix explode AND both candidate rejoin sides
    sorted_tk = sorted_tk.persist()
    # prefix length: |S| − ⌈τ|S|⌉ + 1 (any pair with J ≥ τ shares a
    # prefix token — lossless candidate generation)
    plen = (F.col("n") - F.ceil(F.col("n") * F.lit(tau)) + 1).cast("int")
    # carry the 1-based PREFIX POSITION of each token (optimization
    # round 11): it feeds PPJoin's positional filter below
    pref = sorted_tk.select(
        "doc_id",
        "tk",
        "n",
        F.posexplode(F.slice("tk", F.lit(1), plen)).alias("i0", "t"),
    ).withColumn("ip", F.col("i0") + 1).drop("i0")
    # candidate KEYS only through the dedup: a pair matching on k shared
    # prefix tokens appears k times, and deduping (da, db) as two longs
    # is a map-side-combining hash aggregate. Carrying the token arrays
    # through the dedup instead would force a SortAggregate (array
    # buffers are not hash-aggregatable) that AQE can coalesce onto one
    # task when it underestimates the candidate fan-out — the observed
    # single-core multi-minute stall at sf0.1 on a dup-dense corpus.
    # OPTIMIZATION ROUND 11 NEGATIVE RESULT (kept as-is deliberately):
    # the _jaccard_edge_pairs bucket-enumeration rewrite was tried here
    # (groupBy(t) → collect_list → i<j explode) and measured 51-68 s vs
    # 10.8-13.1 s at sf0.1 — the prefix self-join broadcasts one side
    # (BHJ, zero probe-side exchange), while the bucket form forces a
    # full prefix-stream exchange and concentrates each dup family's
    # quadratic pair mass into single bucket rows. Persisting `tok` to
    # save the second tokenize pass was also tried: 12.8-20.7 s — the
    # cache build costs more than the re-scan. See OPTIMIZATION_r11.md.
    a, b = (
        pref.select("doc_id", "n", "t", "ip").alias("a"),
        pref.select("doc_id", "n", "t", "ip").alias("b"),
    )
    # PPJoin positional filter (optimization round 11, Xiao et al. §3):
    # both token lists share ONE global (df, token) sort order, so for a
    # shared token at 1-based positions (ia, ib) the overlap is bounded
    # by min(ia−1, ib−1) common-before + 1 + min(na−ia, nb−ib)
    # common-after. J ≥ 0.6 ⟺ 16·|∩| ≥ 6·(na+nb) (integer-exact), so
    # any occurrence whose bound fails cannot certify the pair — and a
    # TRUE pair passes at EVERY occurrence (bound ≥ true overlap), so
    # the post-distinct pair set is unchanged: strictly a candidate
    # pruning, hash-gate-proven. This is the filter that distinguishes
    # PPJoin from the plain SSJoin prefix filter.
    ubound = (
        F.least(F.col("a.ip"), F.col("b.ip"))
        + F.least(F.col("a.n") - F.col("a.ip"), F.col("b.n") - F.col("b.ip"))
    )
    cand_keys = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J ≥ τ forces min(n) ≥ τ·max(n)
            & (
                F.least(F.col("a.n"), F.col("b.n")) * 10
                >= F.greatest(F.col("a.n"), F.col("b.n")) * 6
            )
            & (ubound * 16 >= (F.col("a.n") + F.col("b.n")) * 6),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    # re-attach the sorted token arrays (docs-sized dim, one row per
    # doc) for exactly ONE intersect per candidate pair
    ta = sorted_tk.select(
        F.col("doc_id").alias("da"), F.col("tk").alias("ta"), F.col("n").alias("na")
    )
    tb = sorted_tk.select(
        F.col("doc_id").alias("db"), F.col("tk").alias("tb"), F.col("n").alias("nb")
    )
    cand = cand_keys.join(ta, "da").join(tb, "db")
    ni = F.size(F.array_intersect("ta", "tb"))
    union = F.col("na") + F.col("nb") - F.col("ni")
    # No final ORDER BY: a global sort's RangePartitioning sampling pass
    # re-executes the whole candidate join (measured 2× the verify
    # stage), and row order is presentational — the correctness gate
    # hashes rows order-insensitively (the oracle keeps its ORDER BY,
    # harmlessly). At scale you'd write unsorted and sort-on-read.
    out = (
        cand.withColumn("ni", ni)
        .filter(F.lit(10) * F.col("ni") >= F.lit(6) * union)
        .select("da", "db", trunc6(F.col("ni") / union).alias("jaccard"))
    )
    return checkpoint_release(out, [sorted_tk])


# --------------------------------------------------------------------------
# source temperature-mixing weights — the corpus-mixing computation every
# LLM data pipeline runs (sampling weight w_s ∝ n_s^α, α = 0.5 so the
# exponent is IEEE-exact sqrt in both engines; cf. multilingual
# temperature sampling). One agg for per-source token mass; the K-row
# source relation is driver-small at any corpus scale, and the weights
# come out integer-exact (decimal-truncated sqrt, exact decimal total,
# floor-micro ratio) so the hash gate applies.
@_q(
    "d_temperature_mix",
    f"""
    WITH per_doc AS (
      SELECT source, len({_TOKS}) AS n_tok FROM documents
    ), per_source AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM per_doc GROUP BY source
    ), sq AS (
      SELECT source, n_docs, n_tokens,
             CAST(sqrt(n_tokens) AS DECIMAL(25,6)) AS s
      FROM per_source
    ), tot AS (
      SELECT SUM(s) AS t FROM sq
    )
    SELECT source, n_docs, n_tokens,
           CAST(FLOOR(CAST(s AS DOUBLE) * 1000000.0 / CAST(t AS DOUBLE)) AS BIGINT)
             AS w_micro
    FROM sq, tot ORDER BY source
    """,
    doc="temperature-mixing sampling weights per source (w ∝ n_tokens^0.5, "
    "integer-exact micro-weights)",
)
def d_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    per_source = (
        d.select(
            "source",
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    sq = per_source.withColumn("s", F.sqrt(F.col("n_tokens")).cast("decimal(25,6)"))
    tot = sq.agg(F.sum("s").alias("t"))
    return (
        sq.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.floor(
                F.col("s").cast("double") * F.lit(1000000.0) / F.col("t").cast("double")
            )
            .cast("bigint")
            .alias("w_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# temperature-weighted corpus sampler — APPLIES the d_temperature_mix
# weights: every document is admitted with probability w_s (its
# source's micro-weight) via the engine-portable md5-derived uniform,
# so the sampled corpus composition follows the temperature
# distribution while staying fully deterministic (same admit set in
# both engines and across runs — the reproducible-subsample contract
# the reference's seeded row shuffle gives, lifted to weighted
# sampling). Stateless per-row decision: scales as a scan.
@_q(
    "d_temperature_sample",
    f"""
    WITH per_doc AS (
      SELECT doc_id, source, len({_TOKS}) AS n_tok FROM documents
    ), per_source AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM per_doc GROUP BY source
    ), sq AS (
      SELECT source, n_docs,
             CAST(sqrt(n_tokens) AS DECIMAL(25,6)) AS s
      FROM per_source
    ), w AS (
      SELECT source, n_docs,
             CAST(FLOOR(CAST(s AS DOUBLE) * 1000000.0 /
                        CAST((SELECT SUM(s) FROM sq) AS DOUBLE)) AS BIGINT) AS w_micro
      FROM sq
    ), admitted AS (
      SELECT d.source,
             CASE WHEN {md5_long_sql("CAST(d.doc_id AS VARCHAR)")} % 1000000 < w.w_micro
                  THEN 1 ELSE 0 END AS admit
      FROM per_doc d JOIN w ON w.source = d.source
    )
    SELECT a.source, w.n_docs, w.w_micro,
           CAST(SUM(a.admit) AS BIGINT) AS n_admitted
    FROM admitted a JOIN w ON w.source = a.source
    GROUP BY a.source, w.n_docs, w.w_micro
    ORDER BY a.source
    """,
    doc="deterministic temperature-weighted corpus sampler (admit rate = "
    "per-source micro-weight via portable md5 uniform)",
)
def d_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    d = load_tables(spark, sf_dir)["documents"]
    per_doc = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tok"),
    )
    # feeds the weight agg and the admission scan
    per_doc = per_doc.persist()
    sq = (
        per_doc.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .withColumn("s", F.sqrt(F.col("n_tokens")).cast("decimal(25,6)"))
    )
    tot = sq.agg(F.sum("s").alias("t"))
    w = sq.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.floor(F.col("s").cast("double") * F.lit(1000000.0) / F.col("t").cast("double"))
        .cast("bigint")
        .alias("w_micro"),
    )
    u = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(1_000_000))
    out = (
        per_doc.join(F.broadcast(w), "source")
        .select("source", "n_docs", "w_micro", (u < F.col("w_micro")).cast("bigint").alias("admit"))
        .groupBy("source", "n_docs", "w_micro")
        .agg(F.sum("admit").alias("n_admitted"))
        .orderBy("source")
    )
    return checkpoint_release(out, [per_doc])


# --------------------------------------------------------------------------
# hashed linear text-classifier inference — the fasttext-shaped "score
# every document with a linear model" pass a training-data pipeline runs
# for quality/toxicity filtering. Weights live in a hashed feature space
# (bucket = md5(token) % D) so inference is a pure map-side fold over
# the token array: no join, no shuffle until the final ORDER BY — the
# exact layout that scores 100 TB with zero data movement. The weight
# table here is a deterministic function of the bucket id (so the duckdb
# twin can reproduce it without a side table); a real deployment
# broadcasts the trained weight vector instead — same plan shape.
# Integer weights keep the score exact cross-engine.
@_q(
    "d_text_classifier",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), s AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks,
               tk -> ({md5_long_sql('tk')} % 4096) % 997 - 498)) AS BIGINT)
               AS score_raw
      FROM t
    )
    SELECT doc_id, n_tokens, score_raw, score_raw > 0 AS keep
    FROM s ORDER BY doc_id
    """,
    doc="hashed-bucket linear classifier inference (map-side fold, no shuffle)",
)
def d_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as T
    from ..functions.hashing import md5_long

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    toks = T.tokens(F.col("text"))
    weights = F.transform(
        toks,
        lambda tk: F.pmod(F.pmod(md5_long(tk), F.lit(4096)), F.lit(997)) - 498,
    )
    score = F.aggregate(
        weights, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        d.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            score.alias("score_raw"),
        )
        .withColumn("keep", F.col("score_raw") > 0)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# unigram-LM perplexity filter (CCNet-style): score every document by
# its average negative log-probability under the corpus's own unigram
# distribution, then flag the high-perplexity tail. Two passes: corpus
# token counts (one shuffle, cardinality = vocabulary), then an
# instance⋈count equi-join on the token key + per-doc aggregation. At
# 100 TB the vocabulary is capped to the top-V tokens with an OOV
# fallback probability and the count table broadcasts; the uncapped
# equi-join here is the same plan with the cap removed. Per-token
# ln(count) terms go through the DECIMAL(25,6) sum so the per-doc sum
# is order-independent cross-engine.
@_q(
    "d_unigram_ppl",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS tk FROM documents
    ), cnt AS (
      SELECT tk, COUNT(*) AS cnt FROM tok GROUP BY tk
    ), tot AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS nn FROM cnt
    ), per AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             CAST(SUM(CAST(LN(CAST(cnt AS DOUBLE)) AS DECIMAL(25,6))) AS DOUBLE) AS s
      FROM tok JOIN cnt USING (tk) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           FLOOR((LN(nn) - s / n_tokens) * 1000000.0) / 1000000.0 AS avg_nll,
           (LN(nn) - s / n_tokens) > 6.5 AS high_ppl
    FROM per CROSS JOIN tot ORDER BY doc_id
    """,
    doc="unigram-LM perplexity filter (corpus counts + equi-join scoring)",
)
def d_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as T

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    tok = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tk"))
    cnt = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnt.agg(F.sum("cnt").cast("double").alias("nn"))
    per = (
        tok.join(cnt, "tk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.log(F.col("cnt").cast("double")).cast("decimal(25,6)"))
            .cast("double")
            .alias("s"),
        )
    )
    avg_nll = F.log(F.col("nn")) - F.col("s") / F.col("n_tokens")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_tokens",
            trunc6(avg_nll).alias("avg_nll"),
            (avg_nll > 6.5).alias("high_ppl"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# DSIR importance-resampling weights (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): score every raw
# document by the log-likelihood ratio of a hashed-unigram LM fit on a
# TARGET slice (here lang='en' — the quality domain) vs the LM of the
# full RAW corpus. Docs whose hashed-token profile looks target-like get
# positive weight; resampling by softmax(weight) then yields the
# target-matched training mix. Layout is two count passes over the same
# exploded token relation (shuffle cardinality = B hash buckets, here
# 512) + one equi-join of token instances against the B-row bucket LM
# table — at 100 TB the bucket table is trivially broadcast and the
# whole score is one map-side fold per doc. Per-token ln() terms are
# ln(integer+1) (identical doubles cross-engine) accumulated through the
# DECIMAL(25,6) sum, so the per-doc weight is order-independent.
_DSIR_B = 512


def _dsir_oracle() -> str:
    bk = md5_long_sql("tk")
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, {bk} % {_DSIR_B} AS bk
      FROM (SELECT doc_id, lang, unnest({_TOKS}) AS tk FROM documents)
    ), raw_cnt AS (
      SELECT bk, COUNT(*) AS cr FROM tok GROUP BY bk
    ), tgt_cnt AS (
      SELECT bk, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY bk
    ), lm AS (
      SELECT r.bk,
             LN(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)) AS lt,
             LN(CAST(r.cr + 1 AS DOUBLE)) AS lr
      FROM raw_cnt r LEFT JOIN tgt_cnt t USING (bk)
    ), tot AS (
      SELECT LN(CAST((SELECT COUNT(*) FROM tok WHERE lang = 'en') + {_DSIR_B} AS DOUBLE))
               AS lnt,
             LN(CAST((SELECT COUNT(*) FROM tok) + {_DSIR_B} AS DOUBLE)) AS lnr
    ), per AS (
      SELECT doc_id,
             COUNT(*) AS n_tok,
             CAST(SUM(CAST(lm.lt - lm.lr AS DECIMAL(25,6))) AS DOUBLE) AS s
      FROM tok JOIN lm USING (bk) GROUP BY doc_id
    )
    SELECT doc_id, n_tok,
           {sql_trunc6('s + n_tok * (tot.lnr - tot.lnt)')} AS dsir_weight
    FROM per CROSS JOIN tot ORDER BY doc_id
    """


@_q(
    "d_dsir_weights",
    _dsir_oracle(),
    doc="DSIR hashed-unigram importance weights (target-vs-raw LM log-ratio)",
)
def d_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as T
    from ..functions.hashing import md5_long

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    tok = (
        d.select("doc_id", "lang", F.explode(T.tokens(F.col("text"))).alias("tk"))
        .select("doc_id", "lang", F.pmod(md5_long(F.col("tk")), F.lit(_DSIR_B)).alias("bk"))
    )
    # feeds both count passes and the scoring join
    tok = tok.persist()

    raw_cnt = tok.groupBy("bk").agg(F.count(F.lit(1)).alias("cr"))
    tgt_cnt = tok.filter(F.col("lang") == "en").groupBy("bk").agg(
        F.count(F.lit(1)).alias("ct")
    )
    lm = (
        raw_cnt.join(tgt_cnt, "bk", "left")
        .select(
            "bk",
            F.log(F.coalesce(F.col("ct"), F.lit(0)).cast("double") + 1.0).alias("lt"),
            F.log(F.col("cr").cast("double") + 1.0).alias("lr"),
        )
    )
    tot = tok.agg(
        F.log(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
            + float(_DSIR_B)
        ).alias("lnt"),
        F.log(F.count(F.lit(1)).cast("double") + float(_DSIR_B)).alias("lnr"),
    )
    per = (
        tok.join(F.broadcast(lm), "bk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum((F.col("lt") - F.col("lr")).cast("decimal(25,6)"))
            .cast("double")
            .alias("s"),
        )
    )
    w = F.col("s") + F.col("n_tok") * (F.col("lnr") - F.col("lnt"))
    out = (
        per.crossJoin(F.broadcast(tot))
        .select("doc_id", "n_tok", trunc6(w).alias("dsir_weight"))
        .orderBy("doc_id")
    )
    return checkpoint_release(out, [tok])


# --------------------------------------------------------------------------
# Lexical-vs-semantic dedup agreement audit — the governance op a
# pipeline running BOTH MinHash-style lexical dedup and SemDeDup-style
# embedding dedup needs: over the union of both methods' candidate
# universes (shingle-sharing pairs within source; LSH-bucket pairs
# within language), score every pair with BOTH similarity tests and
# report the 2x2 confusion counts. "sem-only" mass = paraphrase-class
# duplicates lexical dedup misses; "lex-only" = boilerplate the
# embedding model ignores — the numbers that decide which passes a
# 100 TB corpus actually needs.
# Scale: both candidate sets are blocked (hot-shingle DF cap; 8-bit
# hyperplane buckets within lang) — never all-pairs; the scoring stage
# joins the pair list against the per-doc code table twice (broadcast
# at dim-table size; bucket-partitioned equi-join at corpus scale).
# Determinism: Jaccard is an integer ratio, the cosine test is the
# integer fixed-point cross-multiplication shared with
# d_semantic_neardup — ints end-to-end, hash-proof.
_AGREE_SHINGLE = "concat_ws(' ', tk[i], tk[i+1], tk[i+2])"
_AGREE_TAU_J = 0.05  # lexical near-dup threshold (1 planted pair @0.97; next is <0.05)


def _agreement_oracle() -> str:
    from ..functions.similarity import lsh_planes
    from .vecpipe import _lsh_sql_bucket

    code = "list_transform(e.embedding::DOUBLE[], x -> CAST(FLOOR(x * 1000.0) AS BIGINT))"
    return f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS} AS tk FROM documents
    ), sh0 AS (
      SELECT DISTINCT doc_id, source, {_AGREE_SHINGLE} AS s
      FROM (SELECT doc_id, source, tk, unnest(range(1, GREATEST(len(tk) - 2, 1) + 1)) AS i FROM toks)
    ), sh AS (
      SELECT * FROM sh0 QUALIFY COUNT(*) OVER (PARTITION BY s) <= {BUCKET_CAP}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), lex AS (
      SELECT da, db, n_inter / (sa.n_sh + sb.n_sh - n_inter) AS j
      FROM inter JOIN sizes sa ON sa.doc_id = da
                 JOIN sizes sb ON sb.doc_id = db
    ), codes AS (
      SELECT d.doc_id, d.lang, {code} AS c
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ), bk AS (
      SELECT doc_id, lang, c, {_lsh_sql_bucket('c', lsh_planes())} AS bk FROM codes
    ), sem AS (
      SELECT a.doc_id AS da, b2.doc_id AS db
      FROM bk a JOIN bk b2
        ON a.lang = b2.lang AND a.bk = b2.bk AND a.doc_id < b2.doc_id
    ), univ AS (
      SELECT COALESCE(l.da, s.da) AS da, COALESCE(l.db, s.db) AS db,
             CASE WHEN l.da IS NOT NULL THEN 1 ELSE 0 END AS in_lex_block,
             CASE WHEN s.da IS NOT NULL THEN 1 ELSE 0 END AS in_sem_block,
             COALESCE(l.j, 0.0) AS j
      FROM lex l FULL OUTER JOIN sem s ON l.da = s.da AND l.db = s.db
    ), scored AS (
      SELECT u.in_lex_block, u.in_sem_block,
             CASE WHEN u.j >= {_AGREE_TAU_J} THEN 1 ELSE 0 END AS lex_dup,
             CASE WHEN CAST(list_dot_product(ca.c, cb.c) AS BIGINT) > 0
                   AND CAST(CAST(list_dot_product(ca.c, cb.c) AS BIGINT) AS DOUBLE)
                       * CAST(CAST(list_dot_product(ca.c, cb.c) AS BIGINT) AS DOUBLE)
                     > (0.09 * CAST(CAST(list_dot_product(ca.c, ca.c) AS BIGINT) AS DOUBLE))
                       * CAST(CAST(list_dot_product(cb.c, cb.c) AS BIGINT) AS DOUBLE)
                  THEN 1 ELSE 0 END AS sem_dup
      FROM univ u JOIN bk ca ON ca.doc_id = u.da
                  JOIN bk cb ON cb.doc_id = u.db
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(in_lex_block) AS BIGINT) AS n_lex_block,
           CAST(SUM(in_sem_block) AS BIGINT) AS n_sem_block,
           CAST(SUM(in_lex_block * in_sem_block) AS BIGINT) AS n_both_block,
           CAST(SUM(lex_dup) AS BIGINT) AS n_lex_dup,
           CAST(SUM(sem_dup) AS BIGINT) AS n_sem_dup,
           CAST(SUM(lex_dup * sem_dup) AS BIGINT) AS n_dup_both,
           CAST(SUM(CASE WHEN lex_dup + sem_dup >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_either
    FROM scored
    """


@_q(
    "t_dedup_agreement",
    _agreement_oracle(),
    doc="lexical(MinHash-shingle Jaccard) vs semantic(embedding cosine) "
    "dedup agreement: 2x2 confusion over the union candidate universe",
)
def t_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import word_shingles
    from ..functions.similarity import int_code, lsh_bucket, lsh_planes
    from ..functions.vectors import to_double

    t = load_tables(spark, sf_dir)
    d = _fanout(t["documents"])
    # shingles hashed to 64-bit longs inside the explode select (the
    # _jaccard_edge_pairs convention): the persisted stream, the cap's
    # count pass and the collected member arrays carry fixed-width
    # longs instead of 20-40 B shingle strings. Counts are unchanged:
    # xxhash64 is collision-free at these cardinalities (~2×10⁵
    # distinct shingles at sf0.1; 64-bit birthday bound ~2³²), and the
    # raw-string duckdb oracle would expose any collision.
    sh0 = d.select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.lower(F.trim(F.col("text"))), 3)).alias("s0"),
    ).select("doc_id", "source", F.xxhash64("s0").alias("s"))
    lex, caches = shingle_overlap(sh0)
    idot = lambda x, y: F.aggregate(
        F.zip_with(x, y, lambda u, v: u * v), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    codes = (
        t["documents"]
        .select("doc_id", "lang")
        .join(t["embeddings"], F.col("doc_id") == F.col("vec_id"))
        .select("doc_id", "lang", int_code(to_double(F.col("embedding"))).alias("c"))
    )
    planes = lsh_planes()
    bk = codes.withColumn("bk", lsh_bucket(F.col("c"), planes)).withColumn(
        "nn", idot(F.col("c"), F.col("c"))
    )
    sa, sb = bk.alias("sa"), bk.alias("sb")
    sem = sa.join(
        sb,
        (F.col("sa.lang") == F.col("sb.lang"))
        & (F.col("sa.bk") == F.col("sb.bk"))
        & (F.col("sa.doc_id") < F.col("sb.doc_id")),
    ).select(F.col("sa.doc_id").alias("da"), F.col("sb.doc_id").alias("db"))
    univ = (
        lex.withColumn("in_lex_block", F.lit(1))
        .join(sem.withColumn("in_sem_block", F.lit(1)), ["da", "db"], "full_outer")
        .select(
            "da",
            "db",
            F.coalesce(F.col("in_lex_block"), F.lit(0)).alias("in_lex_block"),
            F.coalesce(F.col("in_sem_block"), F.lit(0)).alias("in_sem_block"),
            F.coalesce(F.col("j"), F.lit(0.0)).alias("j"),
        )
    )
    # bk is the CORPUS-scaled code table — forcing it broadcast (on both
    # sides, no less) is the k-core anti-pattern; the enrichment joins
    # key on doc ids, so AQE picks broadcast only when bk measures small
    ca = bk.select(F.col("doc_id").alias("da"), F.col("c").alias("c_a"), F.col("nn").alias("n_a"))
    cb = bk.select(F.col("doc_id").alias("db"), F.col("c").alias("c_b"), F.col("nn").alias("n_b"))
    num = idot(F.col("c_a"), F.col("c_b"))
    scored = (
        univ.join(ca, "da")
        .join(cb, "db")
        .select(
            "in_lex_block",
            "in_sem_block",
            (F.col("j") >= F.lit(_AGREE_TAU_J)).cast("int").alias("lex_dup"),
            F.when(
                (num > 0)
                & (
                    num.cast("double") * num.cast("double")
                    > (F.lit(0.09) * F.col("n_a").cast("double")) * F.col("n_b").cast("double")
                ),
                1,
            )
            .otherwise(0)
            .alias("sem_dup"),
        )
    )
    out = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("in_lex_block").cast("bigint").alias("n_lex_block"),
        F.sum("in_sem_block").cast("bigint").alias("n_sem_block"),
        F.sum(F.col("in_lex_block") * F.col("in_sem_block")).cast("bigint").alias("n_both_block"),
        F.sum("lex_dup").cast("bigint").alias("n_lex_dup"),
        F.sum("sem_dup").cast("bigint").alias("n_sem_dup"),
        F.sum(F.col("lex_dup") * F.col("sem_dup")).cast("bigint").alias("n_dup_both"),
        F.sum(((F.col("lex_dup") + F.col("sem_dup")) >= 1).cast("int"))
        .cast("bigint")
        .alias("n_dup_either"),
    )
    # 1-row output — eager-materialize, release the stream/bucket caches
    return checkpoint_release(out, caches)


# --------------------------------------------------------------------------
# SimHash near-duplicate detection (Manku/Jain/Das Sarma, WWW'07 — the
# Google web-crawl dedup design) on a 56-bit fingerprint: per-bit
# majority vote of token md5 hashes, then Hamming-distance ≤ K pair
# mining WITHOUT the all-pairs product. Blocking is the pigeonhole
# band trick the paper's "permuted tables" implement: split the 56
# bits into K+1 = 4 contiguous 14-bit bands; any pair at Hamming ≤ 3
# has ≥ 1 band its flips miss entirely, so an equi-join on
# (band_index, band_value) is a LOSSLESS candidate generator for the
# K=3 threshold. Scale shape: fingerprinting is one explode + one
# partial-aggregable groupBy (56 integer sums); the candidate join
# buckets on 2^14 values per band (corpus/16k expected bucket size —
# the paper's production variant widens to 64-bit prints and more/
# narrower tables as the corpus grows; the construction is identical).
# Beyond-parity (reference processes no text); complements the MinHash
# lane: SimHash detects SMALL EDIT near-dups (Hamming on a global
# fingerprint), MinHash detects set-overlap near-dups.
from ..functions.hashing import SIMHASH_BAND_BITS as _SIMHASH_BAND_BITS
from ..functions.hashing import SIMHASH_BITS as _SIMHASH_BITS
from ..functions.hashing import SIMHASH_K as _SIMHASH_K

_SIMHASH56_SQL = f"""
    tok AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents
    ), th AS (
      SELECT doc_id, {md5_long_sql('t')} AS h FROM tok
    ), bits AS (
      SELECT doc_id, g.b AS b,
             CASE WHEN 2 * SUM((h >> g.b) & 1) > COUNT(*) THEN 1 ELSE 0 END AS bit
      FROM (SELECT doc_id, h, unnest(range(0, {_SIMHASH_BITS})) AS b FROM th) g
      GROUP BY doc_id, g.b
    ), prints AS (
      SELECT doc_id, CAST(SUM(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS sh
      FROM bits GROUP BY doc_id
    )
"""


def _simhash_neardup_oracle(bucket_cap: int = BUCKET_CAP) -> str:
    return f"""
    WITH {_SIMHASH56_SQL},
    bands AS (
      SELECT doc_id, sh, g.b AS b,
             (sh >> (g.b * {_SIMHASH_BAND_BITS})) & {(1 << _SIMHASH_BAND_BITS) - 1} AS bv
      FROM (SELECT doc_id, sh, unnest(range(0, {_SIMHASH_K + 1})) AS b FROM prints) g
      QUALIFY COUNT(*) OVER (PARTITION BY g.b,
             (sh >> (g.b * {_SIMHASH_BAND_BITS})) & {(1 << _SIMHASH_BAND_BITS) - 1})
             <= {bucket_cap}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sh AS sa, b.sh AS sb
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT da, db, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {_SIMHASH_K}
    ORDER BY hamming, da, db
    """


@_q(
    "d_simhash_neardup",
    _simhash_neardup_oracle(),
    doc="SimHash near-dup pairs (Manku et al. WWW'07): 56-bit per-bit "
    "majority fingerprint, lossless 4×14-bit pigeonhole band join for "
    "Hamming ≤ 3 with a hot-bucket DF cap (the MinHash hot-shingle "
    "cap's twin — bounds the quadratic blowup a dup-heavy corpus packs "
    "into one 14-bit collision class), exact bit_count verify on "
    "candidates only — the small-edit complement to the MinHash "
    "set-overlap lane",
)
def d_simhash_neardup(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = BUCKET_CAP
) -> DataFrame:
    from ..functions import text as T
    from ..functions.hashing import simhash56_sql

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    # per-row single-pass fingerprint (simhash56_sql): one md5 per
    # token, bit votes in an array state, majority-packed — ZERO
    # shuffle (the oracle's explode+groupBy layout would shuffle every
    # token hash and pay a 57-buffer codegen aggregate; measured 0.4s
    # vs 12s warm at sf0.01 for identical values).
    prints = d.select("doc_id", T.tokens(F.col("text")).alias("tk")).select(
        "doc_id", F.expr(simhash56_sql("tk")).alias("sh")
    )
    from ..functions.hashing import simhash_bands

    bands = prints.select(
        "doc_id", "sh", F.posexplode(simhash_bands(F.col("sh"))).alias("b", "bv")
    )
    # fused lane: window cap + in-place enumeration (operators/neardup.py).
    # Doc ids are unique within a (b, bv) group (one value per doc per
    # band) and sh is a function of the doc, so the i<j stream's
    # 4-column distinct is exactly the band self-join's.
    if bucket_cap is not None:
        bands = capped_stream(bands, bucket_cap, keys=("b", "bv"))
    bkt = bands.groupBy("b", "bv").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "sh"))).alias("ds")
    )
    cand = (
        inplace_pairs(bkt)
        .select(
            F.col("pa.doc_id").alias("da"),
            F.col("pb.doc_id").alias("db"),
            F.col("pa.sh").alias("sa"),
            F.col("pb.sh").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.filter(ham <= _SIMHASH_K)
        .select("da", "db", ham.cast("bigint").alias("hamming"))
        .orderBy("hamming", "da", "db")
    )


# --------------------------------------------------------------------------
# Cap-fire census — the no-silent-caps monitor for the three dedup
# degeneracy caps (ADVICE r10: an over-cap bucket must leave an
# observable signal, not just a comment). The capped lanes themselves
# cannot carry an in-plan metric: their bucket frames feed self-joins,
# and a CollectMetrics node duplicated through a self-join breaks the
# observed-metric uniqueness contract (measured: Observation.get
# asserts). So the signal is this CO-SCHEDULED census — one aggregate
# pass over each lane's bucket-size relation, reporting for a threshold
# ladder (small probes + the REAL cap, neardup.BUCKET_CAP) how many
# buckets exceed the threshold, the member-row mass the cap would drop,
# and the max bucket. A production dedup run schedules it alongside the dedup job
# (bucket-size relations are the same first shuffle the lanes already
# pay, aggregated once more); rows_dropped > 0 at the real cap IS
# the cap-fired alarm, and names the mass that went un-flagged — the
# operator's cue to route the hot families through the exact-dedup
# remedy. The small ladder steps exist so the census is exercised
# non-vacuously at every gate scale (the real caps, by design, never
# fire on healthy corpora).
_CAP_LADDER = (2, 8, 64, BUCKET_CAP)


def _cap_census_oracle() -> str:
    from .docpipe import _BANDS as _LSH_BANDS
    from .docpipe import _N_HASH, _SHINGLE

    def caps_sql(lane: str) -> str:
        return (
            f"SELECT '{lane}' AS lane, unnest([{', '.join(str(c) for c in _CAP_LADDER)}]) AS cap"
        )

    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ), sh0 AS (
      SELECT DISTINCT doc_id, {_SHINGLE} AS s
      FROM (SELECT doc_id, tk, unnest(range(1, GREATEST(len(tk) - 2, 1) + 1)) AS i FROM toks)
    ), shc AS (
      SELECT COUNT(*) AS sz FROM sh0 GROUP BY s
    ), sh AS (
      SELECT * FROM sh0 QUALIFY COUNT(*) OVER (PARTITION BY s) <= {BUCKET_CAP}
    ), sig AS (
      SELECT doc_id,
             {', '.join(f"MIN({md5_long_sql('s', seed=i)}) AS m{i}" for i in range(_N_HASH))}
      FROM sh GROUP BY doc_id
    ), buckets AS (
      {' UNION ALL '.join(f"SELECT doc_id, {bi} AS band, concat(m{a}, ':', m{b}) AS bkt FROM sig" for bi, (a, b) in enumerate(_LSH_BANDS))}
    ), bkc AS (
      SELECT COUNT(*) AS sz FROM buckets GROUP BY band, bkt
    ), {_SIMHASH56_SQL.strip().rstrip()}, svc AS (
      SELECT COUNT(*) AS sz
      FROM (SELECT doc_id, g.b AS b,
                   (sh >> (g.b * {_SIMHASH_BAND_BITS})) & {(1 << _SIMHASH_BAND_BITS) - 1} AS bv
            FROM (SELECT doc_id, sh, unnest(range(0, {_SIMHASH_K + 1})) AS b FROM prints) g)
      GROUP BY b, bv
    ), all_sz AS (
      SELECT 'lsh_band' AS lane, sz FROM bkc
      UNION ALL SELECT 'lsh_shingle', sz FROM shc
      UNION ALL SELECT 'simhash_band', sz FROM svc
    ), caps AS (
      {caps_sql('lsh_band')}
      UNION ALL {caps_sql('lsh_shingle')}
      UNION ALL {caps_sql('simhash_band')}
    )
    SELECT a.lane, c.cap,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(sz) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN sz > c.cap THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
           CAST(SUM(CASE WHEN sz > c.cap THEN sz ELSE 0 END) AS BIGINT) AS rows_dropped
    FROM all_sz a JOIN caps c ON c.lane = a.lane
    GROUP BY a.lane, c.cap ORDER BY a.lane, c.cap
    """


@_q(
    "t_cap_census",
    _cap_census_oracle(),
    doc="cap-fire census (no-silent-caps monitor): for each dedup "
    "degeneracy cap — MinHash hot-shingle DF cap, LSH band-bucket cap, "
    "SimHash band-bucket cap — the bucket-occupancy spectrum at a "
    "threshold ladder ending in the REAL cap: buckets over "
    "threshold, member-row mass the cap would drop, max bucket; "
    "rows_dropped > 0 at the real cap is the cap-fired alarm a "
    "production dedup run co-schedules this to raise",
)
def t_cap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import minhash_mins, simhash56_sql, simhash_bands, word_shingles
    from ..functions import text as T
    from .docpipe import _N_HASH, _lsh_band_buckets

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    sh0 = d.select(
        "doc_id", F.explode(word_shingles(F.lower(F.trim(F.col("text"))), 3)).alias("s")
    )
    sh0 = sh0.persist()
    shc = sh0.groupBy("s").agg(F.count(F.lit(1)).alias("sz")).select("sz")
    # band buckets mirror the REAL lane exactly: signatures over the
    # DF-capped shingle stream (the census must audit what runs, not a
    # variant of it)
    sh = cap_hot_keys(sh0, BUCKET_CAP)
    sig = sh.groupBy("doc_id").agg(*minhash_mins(F.col("s"), _N_HASH))
    bkc = (
        _lsh_band_buckets(sig)
        .groupBy("band", "bkt")
        .agg(F.count(F.lit(1)).alias("sz"))
        .select("sz")
    )
    prints = d.select("doc_id", T.tokens(F.col("text")).alias("tk")).select(
        "doc_id", F.expr(simhash56_sql("tk")).alias("sh")
    )
    svc = (
        prints.select(F.posexplode(simhash_bands(F.col("sh"))).alias("b", "bv"))
        .groupBy("b", "bv")
        .agg(F.count(F.lit(1)).alias("sz"))
        .select("sz")
    )

    def lane(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("lane"),
            F.explode(F.array(*[F.lit(c).cast("bigint") for c in _CAP_LADDER])).alias("cap"),
            "sz",
        )

    all_sz = (
        lane(bkc, "lsh_band")
        .unionByName(lane(shc, "lsh_shingle"))
        .unionByName(lane(svc, "simhash_band"))
    )
    over = F.col("sz") > F.col("cap")
    out = (
        all_sz.groupBy("lane", "cap")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("sz").alias("max_bucket"),
            F.sum(over.cast("int")).alias("n_over"),
            F.sum(F.when(over, F.col("sz")).otherwise(F.lit(0))).alias("rows_dropped"),
        )
        .select(
            "lane",
            "cap",
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            F.col("max_bucket").cast("bigint").alias("max_bucket"),
            F.col("n_over").cast("bigint").alias("n_over"),
            F.col("rows_dropped").cast("bigint").alias("rows_dropped"),
        )
        .orderBy("lane", "cap")
    )
    return checkpoint_release(out, [sh0])


# --------------------------------------------------------------------------
# Multi-pass Sorted-Neighborhood Method (Hernández & Stolfo, SIGMOD'95
# — the classic entity-resolution blocking strategy): sort the corpus
# by a key, compare only records within a sliding window of W ranks.
# Distributed layout: the sort is PARTITIONED by (source, 4-char key
# prefix) — the sorted-blocks deployment of SNM — so no global
# single-partition window exists; within a block, the W-neighborhood
# join is linearized by the rank-block trick (blk = (rank-1) div W;
# a pair ≤ W apart differs by ≤ 1 in blk, so the a-side fans out to
# [blk, blk+1] and the join is equi on (source, bkt, blk) — O(n·W)
# candidates, never O(block²)). SNM is inherently lossy at window
# boundaries and for dups disagreeing in the key's first chars; the
# standard remedy, implemented here, is a SECOND pass on an
# independent key (the reversed text) with candidates unioned.
# Verification: exact 3-shingle Jaccard on the candidate pairs only.
_SNM_W = 4
_SNM_SHINGLE = "concat_ws(' ', tk[i], tk[i+1], tk[i+2])"


def _snm_cand_sql(key: str) -> str:
    """Candidate pairs (da < db) of one SNM pass over the given key."""
    return f"""
      SELECT a.doc_id AS da, b.doc_id AS db
      FROM (SELECT doc_id, source, substr(k, 1, 4) AS bkt,
                   ROW_NUMBER() OVER (
                     PARTITION BY source, substr(k, 1, 4)
                     ORDER BY k, doc_id) AS rk
            FROM (SELECT doc_id, source, {key} AS k FROM documents)) a
      JOIN (SELECT doc_id, source, substr(k, 1, 4) AS bkt,
                   ROW_NUMBER() OVER (
                     PARTITION BY source, substr(k, 1, 4)
                     ORDER BY k, doc_id) AS rk
            FROM (SELECT doc_id, source, {key} AS k FROM documents)) b
        ON a.source = b.source AND a.bkt = b.bkt
       AND b.rk - a.rk BETWEEN 1 AND {_SNM_W}
    """


@_q(
    "d_sorted_neighborhood",
    f"""
    WITH cand AS (
      SELECT da, db,
             MAX(fwd) AS found_fwd, MAX(rev) AS found_rev
      FROM (
        SELECT LEAST(da, db) AS da, GREATEST(da, db) AS db, 1 AS fwd, 0 AS rev
        FROM ({_snm_cand_sql(_NORM)}) f
        UNION ALL
        SELECT LEAST(da, db) AS da, GREATEST(da, db) AS db, 0 AS fwd, 1 AS rev
        FROM ({_snm_cand_sql(f"reverse({_NORM})")}) r
      ) u
      GROUP BY da, db
    ), toks AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, {_SNM_SHINGLE} AS s
      FROM (SELECT doc_id, tk, unnest(range(1, GREATEST(len(tk) - 2, 1) + 1)) AS i FROM toks)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.da, c.db, MAX(c.found_fwd) AS found_fwd, MAX(c.found_rev) AS found_rev,
             COUNT(*) AS n_inter
      FROM cand c
      JOIN sh x ON x.doc_id = c.da
      JOIN sh y ON y.doc_id = c.db AND y.s = x.s
      GROUP BY c.da, c.db
    )
    SELECT i.da, i.db,
           CAST(i.found_fwd AS BIGINT) AS found_fwd,
           CAST(i.found_rev AS BIGINT) AS found_rev,
           {sql_trunc6('i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter)')} AS jaccard
    FROM inter i JOIN sizes sa ON sa.doc_id = i.da
                 JOIN sizes sb ON sb.doc_id = i.db
    ORDER BY jaccard DESC, da, db
    LIMIT 20
    """,
    doc="multi-pass Sorted-Neighborhood blocking (Hernández-Stolfo "
    "SIGMOD'95): W=4 sliding window over (source, key-prefix)-"
    "partitioned sort order, forward + reversed-key passes unioned, "
    "exact 3-shingle Jaccard verify on candidates only (top-20 pairs); "
    "the rank-block join keeps candidates O(n·W). Recall on this "
    "token-shuffled corpus is honestly LOW vs the LSH lane — near-dups "
    "rarely agree in their key prefix — which is SNM's documented "
    "failure mode and why the engine's production dedup is MinHash-LSH",
)
def d_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.hashing import word_shingles

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    norm = F.lower(F.trim(F.col("text")))

    def one_pass(key_col, tag: str) -> DataFrame:
        keyed = d.select(
            "doc_id", "source", key_col.alias("k"), F.substring(key_col, 1, 4).alias("bkt")
        )
        w = Window.partitionBy("source", "bkt").orderBy("k", "doc_id")
        ranked = keyed.select(
            "doc_id", "source", "bkt", F.row_number().over(w).alias("rk")
        ).withColumn("blk", ((F.col("rk") - 1) / F.lit(_SNM_W)).cast("bigint"))
        # a-side fans out to its own and the next rank-block: a pair at
        # rank distance ≤ W differs by ≤ 1 block, so the equi-join on
        # (source, bkt, blk) is exhaustive and O(n·W), never O(block²).
        a = ranked.select(
            "doc_id",
            "source",
            "bkt",
            "rk",
            F.explode(F.array(F.col("blk"), F.col("blk") + 1)).alias("jblk"),
        ).alias("a")
        b = ranked.alias("b")
        return (
            a.join(
                b,
                (F.col("a.source") == F.col("b.source"))
                & (F.col("a.bkt") == F.col("b.bkt"))
                & (F.col("a.jblk") == F.col("b.blk"))
                & (F.col("b.rk") - F.col("a.rk") >= 1)
                & (F.col("b.rk") - F.col("a.rk") <= _SNM_W),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("da"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("db"),
                F.lit(1 if tag == "fwd" else 0).alias("fwd"),
                F.lit(1 if tag == "rev" else 0).alias("rev"),
            )
        )

    cand = (
        one_pass(norm, "fwd")
        .unionByName(one_pass(F.reverse(norm), "rev"))
        .groupBy("da", "db")
        .agg(F.max("fwd").alias("found_fwd"), F.max("rev").alias("found_rev"))
    )
    sh = d.select("doc_id", F.explode(word_shingles(norm, 3)).alias("s"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(sh.alias("x"), F.col("x.doc_id") == F.col("da"))
        .join(
            sh.alias("y"),
            (F.col("y.doc_id") == F.col("db")) & (F.col("y.s") == F.col("x.s")),
        )
        .groupBy("da", "db")
        .agg(
            F.max("found_fwd").alias("found_fwd"),
            F.max("found_rev").alias("found_rev"),
            F.count(F.lit(1)).alias("n_inter"),
        )
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    union_sz = F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("da"))
        .join(sb, F.col("sb.doc_id") == F.col("db"))
        .select(
            "da",
            "db",
            F.col("found_fwd").cast("bigint").alias("found_fwd"),
            F.col("found_rev").cast("bigint").alias("found_rev"),
            trunc6(F.col("n_inter") / union_sz).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "da", "db")
        .limit(20)
    )
