"""Training-data-pipeline queries over the `documents` table.

Beyond-parity surface (the reference processes no text): exact dedup,
MinHash signatures, SimHash, n-gram Jaccard near-dup pairs, language ID,
quality scoring, token stats — every one a builtin-function DataFrame
plan (no Python UDFs), with a bit-for-bit duckdb oracle built on the
same md5-derived hashing (functions/hashing.py).

Scale: all shingle/token explosions are linear in corpus size and
partition-local; the only shuffles are the groupBys/joins on shingle or
hash keys — the standard LSH-at-scale layout (band-bucket join instead
of all-pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_tables
from ..functions import text as T
from ..functions.hashing import (
    md5_long,
    md5_long_sql,
    minhash_mins,
    minhash_signature,
    simhash32,
    word_shingles,
)
from ..operators.neardup import (
    BUCKET_CAP,
    cap_hot_keys,
    capped_stream,
    inplace_pairs,
    shingle_overlap,
)
from .registry import checkpoint_release, QuerySpec, register, sql_davg, sql_trunc6, trunc6

_NORM = "lower(trim(text))"
_TOKS = f"string_split_regex({_NORM}, '\\s+')"
_NORM_WS = f"regexp_replace({_NORM}, '\\s+', ' ', 'g')"
_STRIP_WS = f"regexp_replace({_NORM}, '\\s+', '', 'g')"



def _fanout(df):
    """Spread a small single-file scan across all cores before
    expression-heavy per-row work (tokenize/hash explosions).
    Conditional: at cluster scale the input already has ≥ parallelism
    splits and this is a no-op (an unconditional repartition would be
    a full corpus shuffle); locally the 1-file documents table would
    otherwise pin one core."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)

def _q(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        register(QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc, tags=("docs",)))
        return fn

    return deco


# --------------------------------------------------------------------------
# token statistics per language — token counting surface.
@_q(
    "d_token_stats",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           {sql_davg(f'len({_TOKS})')} AS avg_tokens,
           MAX(n_chars) AS max_chars,
           MIN(n_chars) AS min_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def d_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    from .registry import davg

    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg(T.token_count(F.col("text"))).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
            F.min("n_chars").alias("min_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# per-doc quality scoring — length/stopword heuristics, pure arithmetic.
_SW = "', '".join(T.EN_STOPWORDS)
@_q(
    "d_quality_scores",
    f"""
    WITH t AS (
      SELECT doc_id,
             len({_TOKS}) AS n_tokens,
             len(list_filter({_TOKS}, t -> list_contains(['{_SW}'], t))) AS stop_hits,
             length({_STRIP_WS}) AS n_alpha
      FROM documents
    )
    SELECT doc_id, n_tokens,
           FLOOR((stop_hits / n_tokens) * 1000000.0) / 1000000.0 AS stop_ratio,
           FLOOR((n_alpha / n_tokens) * 1000000.0) / 1000000.0 AS avg_tok_len,
           FLOOR((0.5 * GREATEST(0.0, LEAST(1.0, (stop_hits / n_tokens) * 5.0))
               + 0.5 * GREATEST(0.0, LEAST(1.0, 1.0 - ABS(n_alpha / n_tokens - 5.0) / 5.0))) * 1000000.0) / 1000000.0 AS quality
    FROM t
    ORDER BY doc_id
    """,
)
def d_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        trunc6(T.stopword_ratio(F.col("text"))).alias("stop_ratio"),
        trunc6(T.avg_token_len(F.col("text"))).alias("avg_tok_len"),
        trunc6(T.quality_score(F.col("text"))).alias("quality"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# language-ID heuristic vs the labeled lang column → confusion counts.
def _sql_hits(lang: str) -> str:
    words = "', '".join(T.STOPWORDS[lang])
    return f"len(list_filter({_TOKS}, t -> list_contains(['{words}'], t)))"


@_q(
    "d_langid_confusion",
    f"""
    WITH s AS (
      SELECT lang,
             {_sql_hits('en')} AS s_en, {_sql_hits('de')} AS s_de,
             {_sql_hits('es')} AS s_es, {_sql_hits('fr')} AS s_fr,
             {_sql_hits('zh')} AS s_zh
      FROM documents
    ), p AS (
      SELECT lang,
             CASE WHEN GREATEST(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'unk'
                  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                  WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                  WHEN s_fr >= s_zh THEN 'fr'
                  ELSE 'zh' END AS pred_lang
      FROM s
    )
    SELECT lang, pred_lang, COUNT(*) AS n
    FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang
    """,
)
def d_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    # Scale-idiomatic language ID: explode tokens ONCE and broadcast-join
    # a (word, lang) stopword dim instead of 5 per-row 10-literal
    # membership expressions — the membership trees compile to ~4s of
    # Janino codegen and evaluate interpreted (HOF); the join version is
    # plain codegen'd hash-join + counting aggs. Same counts, same
    # argmax, same oracle.
    sw = spark.createDataFrame(
        [(w, lang) for lang in T.LANG_ORDER for w in T.STOPWORDS[lang]], "t string, sw_lang string"
    )
    toks = d.select("doc_id", "lang", F.explode(T.tokens(F.col("text"))).alias("t"))
    scores = (
        toks.join(F.broadcast(sw), "t")
        .groupBy("doc_id")
        .agg(*[F.sum((F.col("sw_lang") == lang).cast("int")).alias(f"s_{lang}") for lang in T.LANG_ORDER])
    )
    per_doc = d.select("doc_id", "lang").join(scores, "doc_id", "left")
    score_cols = {lang: F.coalesce(F.col(f"s_{lang}"), F.lit(0)) for lang in T.LANG_ORDER}
    return (
        per_doc.select("lang", T.langid_from_scores(score_cols).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


# --------------------------------------------------------------------------
# exact dedup summary — fingerprint = md5 of normalized text (hash-groupBy
# dedup; canonical row = min doc_id per fingerprint).
@_q(
    "d_exact_dedup",
    f"""
    WITH f AS (
      SELECT doc_id,
             {md5_long_sql(_NORM_WS)} AS fp
      FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT fp) AS n_unique,
           COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs
    FROM f
    """,
)
def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    return d.select(T.fingerprint(F.col("text")).alias("fp")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dup_docs"),
    )


# --------------------------------------------------------------------------
# incremental dedup — the daily-ingest shape of exact dedup: a NEW batch
# of documents (here: the upper doc_id half standing in for today's
# crawl) is admitted only if its content fingerprint is absent from the
# EXISTING corpus (lower half) and unique within the batch (first
# occurrence wins). At scale this is an anti-join of the batch against
# the corpus fingerprint index (a bucketed/Bloom-backed table), never a
# re-scan of the full corpus text: fingerprints shuffle, documents don't.
@_q(
    "d_incremental_dedup",
    f"""
    WITH f AS (
      SELECT doc_id, source, {md5_long_sql(_NORM_WS)} AS fp FROM documents
    ), corpus AS (
      SELECT fp FROM f WHERE doc_id < (SELECT MAX(doc_id)/2 FROM f)
    ), batch AS (
      SELECT doc_id, source, fp FROM f WHERE doc_id >= (SELECT MAX(doc_id)/2 FROM f)
    ), flagged AS (
      SELECT doc_id, source, fp,
             CASE WHEN fp IN (SELECT fp FROM corpus) THEN 0 ELSE 1 END AS is_fresh
      FROM batch
    ), ranked AS (
      SELECT source, is_fresh,
             CASE WHEN is_fresh = 1
                  THEN ROW_NUMBER() OVER (PARTITION BY fp, is_fresh ORDER BY doc_id)
                  ELSE 0 END AS rn
      FROM flagged
    )
    SELECT source,
           COUNT(*) AS n_batch,
           CAST(SUM(CASE WHEN is_fresh = 1 AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_admitted
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def d_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    f = d.select("doc_id", "source", T.fingerprint(F.col("text")).alias("fp"))
    f = f.persist()
    half = f.agg((F.max("doc_id") / 2).alias("h"))
    corpus = f.join(F.broadcast(half), F.col("doc_id") < F.col("h")).select("fp")
    batch = f.join(F.broadcast(half), F.col("doc_id") >= F.col("h")).select(
        "doc_id", "source", "fp"
    )
    batch_sizes = batch.groupBy("source").agg(F.count(F.lit(1)).alias("n_batch"))
    fresh = batch.join(corpus, "fp", "left_anti")
    admitted = (
        fresh.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
        )
        .filter(F.col("rn") == 1)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_admitted"))
    )
    out = (
        batch_sizes.join(admitted, "source", "left")
        .select(
            "source",
            "n_batch",
            F.coalesce(F.col("n_admitted"), F.lit(0)).alias("n_admitted"),
        )
        .orderBy("source")
    )
    return checkpoint_release(out, [f])


# --------------------------------------------------------------------------
# MinHash signatures (4 seeded hash families over word 3-shingles).
_SHINGLE = "concat_ws(' ', tk[i], tk[i+1], tk[i+2])"


def _sql_minhash(seed: int) -> str:
    return f"MIN({md5_long_sql('s', seed=seed)})"


@_q(
    "d_minhash_signatures",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents WHERE doc_id < 50
    ), sh AS (
      SELECT DISTINCT doc_id, {_SHINGLE} AS s
      FROM (SELECT doc_id, tk, unnest(range(1, GREATEST(len(tk) - 2, 1) + 1)) AS i FROM toks)
    )
    SELECT doc_id,
           {_sql_minhash(0)} AS m0, {_sql_minhash(1)} AS m1,
           {_sql_minhash(2)} AS m2, {_sql_minhash(3)} AS m3
    FROM sh GROUP BY doc_id ORDER BY doc_id
    """,
)
def d_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    sig = minhash_signature(word_shingles(F.lower(F.trim(F.col("text"))), 3), num_hashes=4)
    return (
        d.filter(F.col("doc_id") < 50)
        .select("doc_id", sig.alias("sig"))
        .select(
            "doc_id",
            F.element_at("sig", 1).alias("m0"),
            F.element_at("sig", 2).alias("m1"),
            F.element_at("sig", 3).alias("m2"),
            F.element_at("sig", 4).alias("m3"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs within each source bucket — the shingle
# inverted-index join (the scale path: join on shingle, never all-pairs),
# with hot shingles capped (operators/neardup.py).
@_q(
    "d_jaccard_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS} AS tk FROM documents
    ), sh0 AS (
      SELECT DISTINCT doc_id, source, {_SHINGLE} AS s
      FROM (SELECT doc_id, source, tk, unnest(range(1, GREATEST(len(tk) - 2, 1) + 1)) AS i FROM toks)
    ), sh AS (
      SELECT * FROM sh0 QUALIFY COUNT(*) OVER (PARTITION BY s) <= {BUCKET_CAP}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT da, db,
           FLOOR((n_inter / (sa.n_sh + sb.n_sh - n_inter)) * 1000000.0) / 1000000.0 AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = da
               JOIN sizes sb ON sb.doc_id = db
    ORDER BY jaccard DESC, da, db
    LIMIT 20
    """,
)
def d_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    sh0 = d.select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.lower(F.trim(F.col("text"))), 3)).alias("s"),
    )
    overlap, caches = shingle_overlap(sh0)
    out = (
        overlap.select("da", "db", trunc6(F.col("j")).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "da", "db")
        .limit(20)
    )
    return checkpoint_release(out, caches)


# --------------------------------------------------------------------------
# SimHash (32-bit) per document — near-dup fingerprint via per-bit
# majority vote of token hashes.
@_q(
    "d_simhash",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents WHERE doc_id < 100
    ), h AS (
      SELECT doc_id, {md5_long_sql('t')} AS h FROM tok
    ), bits AS (
      SELECT doc_id, g.b AS b,
             CASE WHEN 2 * SUM((h >> g.b) & 1) > COUNT(*) THEN 1 ELSE 0 END AS bit
      FROM (SELECT doc_id, h, unnest(range(0, 32)) AS b FROM h) g
      GROUP BY doc_id, g.b
    )
    SELECT doc_id, CAST(SUM(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id ORDER BY doc_id
    """,
)
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    # explode-then-aggregate layout (same shape as the oracle): md5 is
    # computed ONCE per token; the 32 bit-votes are cheap integer aggs.
    # The per-row simhash32() expression would re-hash every token 32×
    # (interpreted HOFs have no common-subexpression elimination).
    tok = d.filter(F.col("doc_id") < 100).select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("t")
    )
    h = tok.select("doc_id", md5_long(F.col("t")).alias("h"))
    votes = h.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)).cast("int")).alias(f"c{b}")
            for b in range(32)
        ],
    )
    sim = F.lit(0).cast("bigint")
    for b in range(32):
        sim = sim + (F.col(f"c{b}") * 2 > F.col("n")).cast("bigint") * F.lit(1 << b)
    return votes.select("doc_id", sim.alias("simhash")).orderBy("doc_id")


# --------------------------------------------------------------------------
# MinHash-LSH candidate pairs (band-bucket join) + verified Jaccard —
# the full at-scale near-dup pipeline in one query: 8 minhashes, 4 bands
# of 2, candidates = pairs sharing any band bucket, then exact Jaccard
# on candidates only.
_N_HASH = 8
_BANDS = [(0, 1), (2, 3), (4, 5), (6, 7)]


def _lsh_candidates_oracle(bucket_cap: int = BUCKET_CAP) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ), sh0 AS (
      SELECT DISTINCT doc_id, {_SHINGLE} AS s
      FROM (SELECT doc_id, tk, unnest(range(1, GREATEST(len(tk) - 2, 1) + 1)) AS i FROM toks)
    ), sh AS (
      SELECT * FROM sh0 QUALIFY COUNT(*) OVER (PARTITION BY s) <= {BUCKET_CAP}
    ), sig AS (
      SELECT doc_id,
             {', '.join(f"MIN({md5_long_sql('s', seed=i)}) AS m{i}" for i in range(_N_HASH))}
      FROM sh GROUP BY doc_id
    ), buckets AS (
      {' UNION ALL '.join(f"SELECT doc_id, {bi} AS band, concat(m{a}, ':', m{b}) AS bkt FROM sig" for bi, (a, b) in enumerate(_BANDS))}
    ), bcap AS (
      -- hot-bucket cap (operators/neardup.py): a duplicate family shares
      -- ALL band signatures, so one (band, bkt) class goes quadratic in
      -- family size while its shingle DF stays far below the shingle cap.
      SELECT * FROM buckets QUALIFY COUNT(*) OVER (PARTITION BY band, bkt) <= {bucket_cap}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bcap a JOIN bcap b ON a.bkt = b.bkt AND a.band = b.band AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT da, db, COUNT(*) AS n_inter
      FROM cand JOIN sh x ON x.doc_id = da JOIN sh y ON y.doc_id = db AND x.s = y.s
      GROUP BY da, db
    )
    SELECT da, db, FLOOR((n_inter / (sa.n_sh + sb.n_sh - n_inter)) * 1000000.0) / 1000000.0 AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
    ORDER BY jaccard DESC, da, db
    LIMIT 20
    """


def _lsh_band_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bkt) band-bucket memberships of a signature table
    (doc_id, m0..m7) — one explode pass instead of a 4-way union (a
    union re-reads sig once per band)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat(
                    F.col(f"m{ai}").cast("string"), F.lit(":"), F.col(f"m{b}").cast("string")
                ).alias("bkt"),
            )
            for bi, (ai, b) in enumerate(_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bkt").alias("bkt")
    )


@_q("d_lsh_candidates", _lsh_candidates_oracle())
def d_lsh_candidates(
    spark: SparkSession,
    sf_dir: str,
    bucket_cap: int | None = BUCKET_CAP,
) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    # persist: sh feeds the DF cap and the per-doc shingle arrays
    sh0 = d.select(
        "doc_id", F.explode(word_shingles(F.lower(F.trim(F.col("text"))), 3)).alias("s")
    )
    sh0 = sh0.persist()
    sh = cap_hot_keys(sh0, BUCKET_CAP)
    # ONE doc-keyed aggregate serves FOUR former consumers of the
    # shingle stream (optimization round 11, guide §2.3/§2.4): the
    # signatures (min over the doc's rows — the same 8 md5 evaluations
    # per shingle, codegen'd instead of lambdas over the collected
    # array), the sizes (map-side size()), and both sides of the
    # candidate verification (map-side array_intersect over the
    # doc-dim rejoin, replacing the x⋈y shingle equi-join that
    # re-exchanged the full stream twice plus a (da,db) count
    # aggregate). Arrays are per-doc and bounded by doc length — the
    # same bound sorted_tk carries in d_prefix_filter_jaccard. No sort:
    # only size / intersect-size consume it, both order-invariant.
    arr = sh.groupBy("doc_id").agg(
        F.collect_list("s").alias("tk"), *minhash_mins(F.col("s"), _N_HASH)
    )
    arr = arr.persist()
    buckets = _lsh_band_buckets(arr)
    # fused lane: window cap + in-place enumeration (operators/neardup.py).
    # Doc ids are unique within a (band, bkt) group (one bucket per doc
    # per band), so the i<j stream is exactly the band self-join's pairs.
    if bucket_cap is not None:
        buckets = capped_stream(buckets, bucket_cap, keys=("band", "bkt"))
    bkt = buckets.groupBy("band", "bkt").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    cand = (
        inplace_pairs(bkt)
        .select(F.col("pa").alias("da"), F.col("pb").alias("db"))
        .distinct()
    )
    # re-attach the per-doc shingle arrays (doc-dim rejoin, one
    # array_intersect per candidate pair — shingles are distinct per
    # doc, so |array_intersect| equals the old equi-join's match count)
    ta = arr.select(
        F.col("doc_id").alias("da"), F.col("tk").alias("ta"), F.size("tk").alias("na")
    )
    tb = arr.select(
        F.col("doc_id").alias("db"), F.col("tk").alias("tb"), F.size("tk").alias("nb")
    )
    verified = (
        cand.join(ta, "da")
        .join(tb, "db")
        .withColumn("ni", F.size(F.array_intersect("ta", "tb")))
        # the old formulation verified via an INNER equi-join on the
        # shingle, so a candidate pair with no common shingle never
        # reached the output — keep that row set exactly
        .filter(F.col("ni") >= 1)
    )
    out = (
        verified.select(
            "da",
            "db",
            trunc6(
                F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "da", "db")
        .limit(20)
    )
    return checkpoint_release(out, [sh0, arr])


# --------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken '03) — rolling
# window-min over ordered shingle hashes; the distinct window minima are
# the document's fingerprint set. Distributed shape: explode ordered
# shingles, hash once, window-min over (doc, position) — one shuffle on
# doc_id, linear work, no driver-side state.
_W = 4  # winnow window (shingle hashes per window)


@_q(
    "d_winnow_fingerprints",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents WHERE doc_id < 300
    ), sh AS (
      SELECT doc_id, i, {md5_long_sql(_SHINGLE)} AS h,
             GREATEST(len(tk) - 2, 1) AS n_sh
      FROM (SELECT doc_id, tk, unnest(range(1, GREATEST(len(tk) - 2, 1) + 1)) AS i FROM toks)
    ), wm AS (
      SELECT doc_id, i, n_sh,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND {_W - 1} FOLLOWING) AS fp
      FROM sh
    )
    SELECT doc_id,
           COUNT(DISTINCT fp) AS n_fingerprints,
           MIN(fp) AS min_fp
    FROM wm WHERE i <= n_sh - {_W} + 1
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def d_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"]).filter(F.col("doc_id") < 300)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_sh = F.greatest(F.size(toks) - F.lit(2), F.lit(1))
    sh = (
        d.select("doc_id", toks.alias("tk"), n_sh.alias("n_sh"))
        .select(
            "doc_id",
            "n_sh",
            "tk",
            F.explode(F.sequence(F.lit(1), F.col("n_sh"))).alias("i"),
        )
        .select(
            "doc_id",
            "n_sh",
            "i",
            md5_long(F.array_join(F.slice(F.col("tk"), F.col("i"), 3), " ")).alias("h"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, _W - 1)
    wm = sh.withColumn("fp", F.min("h").over(w)).filter(F.col("i") <= F.col("n_sh") - _W + 1)
    return (
        wm.groupBy("doc_id")
        .agg(F.countDistinct("fp").alias("n_fingerprints"), F.min("fp").alias("min_fp"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# BPE-ish subword token counting — regex word-piece segmentation
# (letter runs / digit runs / single punctuation), the tokenizer-shaped
# counting pass a training-data pipeline runs before byte-pair merges.
_BPE_PAT = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@_q(
    "d_bpe_token_stats",
    f"""
    WITH t AS (
      SELECT lang,
             len(regexp_extract_all({_NORM_WS}, '{_BPE_PAT}')) AS n_sub
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_sub) AS BIGINT) AS total_subtokens,
           {sql_davg('n_sub')} AS avg_subtokens,
           MAX(n_sub) AS max_subtokens
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def d_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import davg

    d = load_tables(spark, sf_dir)["documents"]
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    n_sub = F.size(F.regexp_extract_all(norm, F.lit(_BPE_PAT), F.lit(0)))
    t = d.select("lang", n_sub.alias("n_sub"))
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sub").alias("total_subtokens"),
            davg(F.col("n_sub")).alias("avg_subtokens"),
            F.max("n_sub").alias("max_subtokens"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# near-dup clusters — the full dedup endgame: shingle-Jaccard pairs
# above threshold → connected components → cluster-size histogram.
# Spark: iterative min-label propagation (operators/components.py);
# oracle: duckdb recursive CTE computing min reachable id. Both are
# exact on the same edge set, so the histogram matches bit-for-bit.
_JACC_THR = 0.02


def _jaccard_edge_pairs(d: DataFrame, two_lane: bool = False):
    """Shared near-dup edge construction: same-source (da, db) pairs
    whose capped shingle Jaccard is ≥ _JACC_THR
    (operators.neardup.shingle_overlap). Returns (pairs, caches); callers
    eagerly materialize their small output and unpersist every handle
    (registry.checkpoint_release).

    ``two_lane=True`` is the 100 TB scale configuration: the shingle
    join keys on BOTH independent 56-bit lanes of one md5 digest
    (112 bits total), pushing the birthday-collision bound from ~2^28
    to past 2^50 distinct shingles. The digest is computed ONCE per
    shingle (the hex in its own projection, both lanes derived from
    it — codegen does not CSE md5 across sibling expressions, the
    q_poisson_bootstrap lesson) for one extra long per row. At test
    cardinalities both configurations produce identical pair sets, so
    the gated two-lane query shares the single-lane raw-string oracle
    (t_dedup_clusters_lane2)."""
    # shingles are hashed to 56-bit ids in the projection right after
    # the explode (a transform lambda over the array would run
    # interpreted per row): the persisted stream carries (int, small-str, long)
    # instead of a 20-40 B shingle string — ~half the cache bytes, and
    # every downstream shuffle/sort compares fixed-width longs instead
    # of strings (round-6 profile: the edge build dominated
    # t_dedup_best_keep at 7.8 of 10 s; this + the broadcast size
    # joins took the query to ~6 s). The pair set is unchanged:
    # md5_long is collision-free at these cardinalities (56-bit over
    # ~2e5 distinct shingles; the duckdb oracle keeps joining the raw
    # strings, so the hash gate would expose any collision).
    grams = d.select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.lower(F.trim(F.col("text"))), 3)).alias("g"),
    )
    if two_lane:
        sh0 = grams.select("doc_id", "source", F.md5("g").alias("h")).select(
            "doc_id",
            "source",
            F.conv(F.substring("h", 1, 14), 16, 10).cast("bigint").alias("s"),
            F.conv(F.substring("h", 15, 14), 16, 10).cast("bigint").alias("s2"),
        )
    else:
        sh0 = grams.select("doc_id", "source", md5_long(F.col("g")).alias("s"))
    overlap, caches = shingle_overlap(sh0, ("s", "s2") if two_lane else ("s",))
    return overlap.filter(F.col("j") >= _JACC_THR).select("da", "db"), caches


# the recursive-CTE connected-components oracle chain (through `comp`),
# shared by d_dedup_clusters and the keep-policy variant in textpipe
CC_ORACLE_CTE = f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, source, {_TOKS} AS tk FROM documents
    ), sh0 AS (
      SELECT DISTINCT doc_id, source, {_SHINGLE} AS s
      FROM (SELECT doc_id, source, tk, unnest(range(1, GREATEST(len(tk) - 2, 1) + 1)) AS i FROM toks)
    ), sh AS (
      SELECT * FROM sh0 QUALIFY COUNT(*) OVER (PARTITION BY s) <= {BUCKET_CAP}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT da, db
      FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
      WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {_JACC_THR}
    ), edges AS (
      SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs
    ), reach AS (
      SELECT u AS node, v AS r FROM edges
      UNION
      SELECT e.u, r.r FROM edges e JOIN reach r ON e.v = r.node
    ), comp AS (
      SELECT node, LEAST(node, MIN(r)) AS component
      FROM reach GROUP BY node
    )"""


@_q(
    "d_dedup_clusters",
    CC_ORACLE_CTE
    + """, csize AS (
      SELECT component, COUNT(*) AS sz FROM comp GROUP BY component
    )
    SELECT sz AS cluster_size, COUNT(*) AS n_clusters
    FROM csize GROUP BY sz ORDER BY sz
    """,
)
def d_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, caches = _dedup_clusters_lazy(spark, sf_dir)
    # histogram output is a handful of rows: eager-materialize and
    # release the corpus-mass shingle/bucket caches (t_substring_dedup
    # pattern)
    return checkpoint_release(out, caches)


# the 100 TB scale configuration of the same clustering: shingle joins
# keyed on BOTH 56-bit md5 lanes (112 bits — birthday-safe past 2^50
# distinct shingles vs ~2^28 for one lane). At test cardinalities the
# pair set is identical, so the raw-string CC oracle is shared verbatim
# — the hash gate proves the lane-2 plumbing changes nothing below the
# collision horizon while exercising it end-to-end.
@_q(
    "t_dedup_clusters_lane2",
    CC_ORACLE_CTE
    + """, csize AS (
      SELECT component, COUNT(*) AS sz FROM comp GROUP BY component
    )
    SELECT sz AS cluster_size, COUNT(*) AS n_clusters
    FROM csize GROUP BY sz ORDER BY sz
    """,
)
def t_dedup_clusters_lane2(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, caches = _dedup_clusters_lazy(spark, sf_dir, two_lane=True)
    return checkpoint_release(out, caches)


def _dedup_clusters_lazy(spark: SparkSession, sf_dir: str, two_lane: bool = False):
    from ..operators.components import connected_components

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    pairs, caches = _jaccard_edge_pairs(d, two_lane=two_lane)
    comp = connected_components(pairs, "da", "db")
    csize = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    out = (
        csize.groupBy(F.col("sz").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )
    return out, caches


# --------------------------------------------------------------------------
# the cleaned-corpus composition — what a training-data pipeline
# actually materializes: canonical (first doc per exact-dup group) ∧
# quality above threshold ∧ language-ID agrees with the label. One
# query chaining dedup + scoring + langid; counts per (lang, source).
@_q(
    "d_clean_corpus",
    f"""
    WITH f AS (
      SELECT doc_id, lang, source,
             {md5_long_sql(_NORM_WS)} AS fp,
             len({_TOKS}) AS n_tokens,
             len(list_filter({_TOKS}, t -> list_contains(['{_SW}'], t))) AS stop_hits
      FROM documents
    ), canon AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f
    ), hits AS (
      SELECT lang, source, doc_id,
             CASE WHEN (stop_hits * 5.0 / n_tokens) >= 0.5 THEN 1 ELSE 0 END AS good_quality
      FROM canon WHERE rn = 1
    )
    SELECT lang, source,
           COUNT(*) AS n_canonical,
           CAST(SUM(good_quality) AS BIGINT) AS n_clean
    FROM hits GROUP BY lang, source ORDER BY lang, source
    """,
)
def d_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    f = d.select(
        "doc_id",
        "lang",
        "source",
        T.fingerprint(F.col("text")).alias("fp"),
        T.token_count(F.col("text")).alias("n_tokens"),
        T.stopword_hits(F.col("text"), T.EN_STOPWORDS).alias("stop_hits"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    canon = f.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    good = (F.col("stop_hits") * 5.0 / F.col("n_tokens") >= 0.5).cast("int")
    return (
        canon.select("lang", "source", good.alias("good_quality"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_canonical"),
            F.sum("good_quality").alias("n_clean"),
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# edit-distance near-dup: Levenshtein over normalized prefixes within
# a bounded candidate window (same language, doc_id within 20). The
# Spark plan materializes the window as 20 exploded offsets and
# equi-joins on (doc_id + k) — a pure hash join, linear in corpus size
# with a constant 20× amplification on one side. (A naive join keyed
# only on lang with a BETWEEN band filter would be quadratic per
# language bucket.) Prefix-capping bounds per-pair edit-distance cost.
@_q(
    "d_levenshtein_neardup",
    f"""
    WITH p AS (
      SELECT doc_id, lang, substr({_STRIP_WS}, 1, 40) AS pre
      FROM documents
    )
    SELECT a.lang AS lang, COUNT(*) AS n_pairs,
           CAST(MIN(levenshtein(a.pre, b.pre)) AS BIGINT) AS min_dist,
           CAST(SUM(CASE WHEN levenshtein(a.pre, b.pre) <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_close
    FROM p a JOIN p b
      ON a.lang = b.lang AND b.doc_id - a.doc_id BETWEEN 1 AND 20
    GROUP BY a.lang
    ORDER BY a.lang
    """,
)
def d_levenshtein_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    p = d.select(
        "doc_id",
        "lang",
        F.substring(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", ""), 1, 40
        ).alias("pre"),
    )
    # left side exploded to its 20 candidate partner ids → equi-join
    a = p.select(
        "lang",
        F.col("pre").alias("a_pre"),
        F.explode(
            F.transform(F.sequence(F.lit(1), F.lit(20)), lambda k: F.col("doc_id") + k)
        ).alias("doc_id"),
    )
    b = p.alias("b")
    dist = F.levenshtein(F.col("a_pre"), F.col("b.pre"))
    return (
        a.join(b, ["doc_id", "lang"])
        .groupBy(F.col("lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(dist).cast("bigint").alias("min_dist"),
            F.sum(F.when(dist <= 10, 1).otherwise(0)).cast("bigint").alias("n_close"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# class-balanced downsampling: every language class reduced to the
# global minority-class size by deterministic hash rank (md5 of doc_id
# — portable, seedable, reproducible; NOT rand(), which no oracle can
# replay). The standard label-rebalancing op before training-set
# assembly. Two-phase on the Spark side (round 9): the minority-class
# size is a 1-row aggregate collected and RELIT as a literal bound —
# with a literal, the per-class rank filter qualifies for the
# WindowGroupLimit Partial→Final pushdown (map-side min_n-row heaps
# per class); with a runtime column bound every class would FULL-SORT
# at 100 TB. The curriculum-thresholds collect+relit precedent.
@_q(
    "d_balanced_sample",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY {md5_long_sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
      FROM documents
    ), sizes AS (
      SELECT MIN(cnt) AS min_n FROM (
        SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang)
    )
    SELECT lang, COUNT(*) AS n_kept,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM ranked, sizes
    WHERE rk <= min_n
    GROUP BY lang ORDER BY lang
    """,
)
def d_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            md5_long(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    ranked = d.select("doc_id", "lang", rk.alias("rk"))
    min_n = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("min_n"))
        .collect()[0]["min_n"]
    )
    return (
        ranked.filter(F.col("rk") <= F.lit(min_n))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# context-window chunking: split each document's token stream into
# overlapping windows (64 tokens, stride 48) — the LLM-training
# sequence-packing primitive. Window starts are generated JVM-side
# (sequence + explode); each output row is one training chunk with its
# exact token span. Linear fan-out = ceil(n_tok/stride) per doc, no
# shuffle at all until the final order (which a real pipeline writes
# unsorted).
@_q(
    "d_context_windows",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents WHERE doc_id % 20 = 0
    ), wins AS (
      SELECT doc_id, len(tk) AS n_tok,
             unnest(range(1, GREATEST(len(tk) - 1, 1) + 1, 48)) AS s, tk
      FROM toks
    )
    SELECT doc_id,
           CAST((s - 1) / 48 + 1 AS BIGINT) AS win_idx,
           CAST(LEAST(64, n_tok - s + 1) AS BIGINT) AS n_win_tokens,
           substr(array_to_string(tk[s:s+63], ' '), 1, 30) AS win_prefix
    FROM wins
    ORDER BY doc_id, win_idx
    """,
)
def d_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") % 20 == 0))
    toks = d.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("tk")
    ).withColumn("n_tok", F.size("tk"))
    # stride-48 start positions, 1-based; last (possibly partial) window
    # starts at the largest s ≤ n_tok with s ≡ 1 (mod 48)
    wins = toks.select(
        "doc_id",
        "n_tok",
        "tk",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.col("n_tok") - 1, F.lit(1)), F.lit(48))
        ).alias("s"),
    )
    return (
        wins.select(
            "doc_id",
            (((F.col("s") - 1) / 48).cast("bigint") + 1).alias("win_idx"),
            F.least(F.lit(64), F.col("n_tok") - F.col("s") + 1)
            .cast("bigint")
            .alias("n_win_tokens"),
            F.substring(
                F.array_join(F.slice(F.col("tk"), F.col("s"), 64), " "), 1, 30
            ).alias("win_prefix"),
        )
        .orderBy("doc_id", "win_idx")
    )


# --------------------------------------------------------------------------
# benchmark decontamination: flag training documents sharing word
# 3-gram shingles with a held-out "benchmark" set (doc_id % 97 = 0
# stands in for the eval suite). The eval shingle set is DISTINCT and
# small → broadcast semi-joinable; per-train-doc contamination = hit
# fraction over its own shingles. This is the n-gram-overlap decontam
# pass every serious pretraining pipeline runs (cf. GPT-3 App. C /
# Gopher §A.3 methodology, public papers).
@_q(
    "d_decontamination",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, {_SHINGLE} AS s
      FROM (SELECT doc_id, tk, unnest(range(1, GREATEST(len(tk) - 2, 1) + 1)) AS i FROM toks)
    ), eval_sh AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
    ), train AS (
      SELECT doc_id, COUNT(*) AS n_sh,
             SUM(CASE WHEN s IN (SELECT s FROM eval_sh) THEN 1 ELSE 0 END) AS n_hit
      FROM sh WHERE doc_id % 97 <> 0
      GROUP BY doc_id
    )
    SELECT CAST(FLOOR(n_hit * 10.0 / n_sh) AS BIGINT) AS contam_decile,
           COUNT(*) AS n_docs,
           CAST(SUM(n_hit) AS BIGINT) AS total_hits
    FROM train GROUP BY 1 ORDER BY 1
    """,
)
def d_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    sh = d.select(
        "doc_id",
        F.explode(word_shingles(F.lower(F.trim(F.col("text"))), 3)).alias("s"),
    )
    eval_sh = sh.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    train_sh = sh.filter(F.col("doc_id") % 97 != 0)
    hits = (
        train_sh.join(
            F.broadcast(eval_sh.withColumn("hit", F.lit(1))), "s", "left_outer"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
    )
    return (
        hits.groupBy(
            F.floor(F.col("n_hit") * 10.0 / F.col("n_sh")).cast("bigint").alias("contam_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_hit").cast("bigint").alias("total_hits"),
        )
        .orderBy("contam_decile")
    )


# --------------------------------------------------------------------------
# PII scrubbing: regex redaction of email/phone patterns with
# per-source redaction accounting. The synthetic corpus carries no
# PII, so the pipeline plants a deterministic contact line per doc
# (same expression in both engines) and then scrubs it — what's being
# verified is the redaction regex machinery and the audit counts, on
# the engine's own text columns. regexp_replace is JVM-side codegen;
# at scale this is a pure map stage (zero shuffles before the audit
# agg).
@_q(
    "d_pii_scrub",
    r"""
    WITH planted AS (
      SELECT doc_id, source,
             concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                    '@example.com or +1-555-', CAST(1000 + doc_id % 9000 AS VARCHAR))
               AS raw
      FROM documents
    ), scrubbed AS (
      SELECT doc_id, source, raw,
             regexp_replace(
               regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
               '\+?[0-9]+-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
      FROM planted
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN clean LIKE '%<EMAIL>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_email_redacted,
           CAST(SUM(CASE WHEN clean LIKE '%<PHONE>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_phone_redacted,
           CAST(SUM(length(raw) - length(clean)) AS BIGINT) AS chars_removed
    FROM scrubbed GROUP BY source ORDER BY source
    """,
)
def d_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    planted = d.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("raw"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("raw"), r"[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>"),
        r"\+?[0-9]+-[0-9]{3}-[0-9]{4}",
        "<PHONE>",
    )
    scrubbed = planted.withColumn("clean", clean)
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("clean").like("%<EMAIL>%"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_email_redacted"),
            F.sum(F.when(F.col("clean").like("%<PHONE>%"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_phone_redacted"),
            F.sum(F.length("raw") - F.length("clean")).cast("bigint").alias("chars_removed"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# embedding-based semantic near-dup over documents — the cross-modal
# dedup path: documents ⋈ embeddings (doc_id = vec_id), then LSH-bucket
# blocking WITHIN language (pairs are only scored when both docs share
# the language AND the 8-bit hyperplane signature — the blocking join
# is an equi-join on (lang, bucket), never all-pairs), then an
# integer-exact cosine-threshold test on fixed-point codes. The 0.3
# threshold is calibrated to this synthetic corpus (max candidate
# cosine ≈ 0.48); at 100 TB the same plan holds with the bucket id as
# partition key and a near-1.0 threshold. Ints-only output.
def _semantic_pairs_cte(src: str = "documents") -> str:
    """Shared WITH-chain: embedded docs → (lang, LSH-bucket) blocked
    candidate pairs → integer-cosine similarity verdicts (`s` carries
    both pair endpoints so consumers can aggregate OR build keep
    lists). ``src`` (must expose doc_id, lang) restricts the doc set —
    the HTML-fed funnel dedups only the EXTRACTED corpus (production
    stage order: extraction before dedup)."""
    from ..functions.similarity import lsh_planes
    from ..plans.vecpipe import _lsh_sql_bucket

    code = "list_transform(e.embedding::DOUBLE[], x -> CAST(FLOOR(x * 1000.0) AS BIGINT))"
    return f"""
    WITH j AS (
      SELECT d.doc_id, d.lang, {code} AS c
      FROM {src} d JOIN embeddings e ON d.doc_id = e.vec_id
    ), b AS (
      SELECT doc_id, lang, c, {_lsh_sql_bucket('c', lsh_planes())} AS bk FROM j
    ), p AS (
      SELECT a.lang, a.doc_id AS da, b2.doc_id AS db,
             CAST(list_dot_product(a.c, b2.c) AS BIGINT) AS num,
             CAST(list_dot_product(a.c, a.c) AS BIGINT) AS na,
             CAST(list_dot_product(b2.c, b2.c) AS BIGINT) AS nb
      FROM b a JOIN b b2
        ON a.lang = b2.lang AND a.bk = b2.bk AND a.doc_id < b2.doc_id
    ), s AS (
      SELECT lang, da, db,
             CASE WHEN num > 0 AND CAST(num AS DOUBLE) * CAST(num AS DOUBLE) >
                       (0.09 * CAST(na AS DOUBLE)) * CAST(nb AS DOUBLE)
                  THEN 1 ELSE 0 END AS sim
      FROM p
    )"""


def _semantic_oracle() -> str:
    return f"""{_semantic_pairs_cte()}
    SELECT lang, COUNT(*) AS n_candidates, CAST(SUM(sim) AS BIGINT) AS n_similar
    FROM s GROUP BY lang ORDER BY lang
    """


def _semantic_pairs(spark: SparkSession, sf_dir: str, docs: DataFrame | None = None):
    """Spark twin of `_semantic_pairs_cte`: returns (``b`` embedded docs
    with bucket ids, ``s`` blocked-pair similarity verdicts, ``caches``
    the caller must release after materializing — the CALLER_RELEASED
    contract). ``docs`` (doc_id, lang) overrides the document set —
    the `src` seam of the oracle twin."""
    from ..functions.similarity import int_code, lsh_bucket, lsh_planes
    from ..functions.vectors import to_double

    t = load_tables(spark, sf_dir)
    if docs is None:
        docs = t["documents"].select("doc_id", "lang")
    j = (
        docs.select("doc_id", "lang")
        .join(t["embeddings"], F.col("doc_id") == F.col("vec_id"))
        .select("doc_id", "lang", int_code(to_double(F.col("embedding"))).alias("c"))
    )
    idot = lambda x, y: F.aggregate(
        F.zip_with(x, y, lambda u, v: u * v), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    # self-norms once per DOCUMENT before the join — inside the pair
    # select they would re-run the O(dim) interpreted HOF per pair
    # (B× redundant work for a B-pair bucket)
    b = j.withColumn("bk", lsh_bucket(F.col("c"), lsh_planes())).withColumn(
        "nn", idot(F.col("c"), F.col("c"))
    )
    # b feeds BOTH sides of the pair self-join and (for the keep-list
    # consumers) the left side of the verdict join — without the cache
    # the docs⋈embeddings scan plus the O(dim) interpreted
    # int_code/lsh_bucket/self-norm HOFs execute once per consumer
    # (the multi-consumer rule the SemDeDup emb cache follows)
    b = b.persist()
    a, b2 = b.alias("a"), b.alias("b2")
    p = a.join(
        b2,
        (F.col("a.lang") == F.col("b2.lang"))
        & (F.col("a.bk") == F.col("b2.bk"))
        & (F.col("a.doc_id") < F.col("b2.doc_id")),
    ).select(
        F.col("a.lang").alias("lang"),
        F.col("a.doc_id").alias("da"),
        F.col("b2.doc_id").alias("db"),
        idot(F.col("a.c"), F.col("b2.c")).alias("num"),
        F.col("a.nn").alias("na"),
        F.col("b2.nn").alias("nb"),
    )
    s = p.select(
        "lang",
        "da",
        "db",
        F.when(
            (F.col("num") > 0)
            & (
                F.col("num").cast("double") * F.col("num").cast("double")
                > (F.lit(0.09) * F.col("na").cast("double")) * F.col("nb").cast("double")
            ),
            1,
        )
        .otherwise(0)
        .alias("sim"),
    )
    return b, s, [b]


def _semantic_keep_lazy(spark: SparkSession, sf_dir: str, docs: DataFrame | None = None):
    """The LSH-blocked keep-list, shared by v_semantic_keep and the
    linear refinery funnel so the two faces cannot drift: per embedded
    doc (doc_id, lang, bucket, keep), keep-lowest-id within similar
    blocked pairs. Returns (keep, caches). ``docs`` restricts the doc
    set (the HTML-fed funnel passes the extracted corpus)."""
    b, s, caches = _semantic_pairs(spark, sf_dir, docs=docs)
    rm = s.filter(F.col("sim") == 1).select("db").distinct()
    keep = b.join(rm, b["doc_id"] == rm["db"], "left").select(
        b["doc_id"],
        b["lang"],
        b["bk"].alias("bucket"),
        F.when(rm["db"].isNull(), 1).otherwise(0).alias("keep"),
    )
    return keep, caches


# the keepv CTE body both oracles share (same no-drift rule as the
# Spark-side helper above)
_SEMANTIC_KEEP_CTE_BODY = """
      SELECT b.doc_id, b.lang, b.bk AS bucket,
             CASE WHEN rm.db IS NULL THEN 1 ELSE 0 END AS keep
      FROM b LEFT JOIN (SELECT DISTINCT db FROM s WHERE sim = 1) rm
        ON rm.db = b.doc_id"""


@_q("d_semantic_neardup", _semantic_oracle())
def d_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    b, s, caches = _semantic_pairs(spark, sf_dir)
    out = (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum("sim").alias("n_similar"),
        )
        .orderBy("lang")
    )
    return checkpoint_release(out, caches)


# The consumable, LINEAR face of semantic dedup (the stage a 100 TB
# refinery actually runs — see SCALE.md "Round-7 refinery profile":
# exact Lloyd SemDeDup is quadratic in either assignment or pair mass,
# while this LSH-bucket-blocked form's candidate generation is an
# equi-join on (lang, bucket), measured 1.3× at 10× data): per embedded
# doc, keep = 1 unless it is the HIGHER-id side of a similar blocked
# pair — identical keep-lowest-id semantics to v_semdedup_keep, LSH
# blocking instead of Lloyd clusters.
@_q(
    "v_semantic_keep",
    f"""{_semantic_pairs_cte()}, keepv AS ({_SEMANTIC_KEEP_CTE_BODY}
    )
    SELECT doc_id, lang, bucket, keep FROM keepv ORDER BY doc_id
    """,
    doc="LSH-blocked semantic-dedup keep-list: per embedded doc "
    "(lang, bucket, keep) with keep-lowest-id within similar blocked "
    "pairs — the linear production stage the corpus refinery swaps in "
    "for the quadratic exact-Lloyd SemDeDup at scale",
)
def v_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    keep, caches = _semantic_keep_lazy(spark, sf_dir)
    out = keep.orderBy("doc_id")
    return checkpoint_release(out, caches)


# --------------------------------------------------------------------------
# Sequence packing — the step after context-windowing in a training-data
# pipeline: fill fixed token-budget bins (here 1024) with documents so
# batch slots aren't wasted on padding. Sequential-fill packing per
# SOURCE partition: running token total in doc_id order → bin id =
# floor((cumsum - n_tok) / budget). The window partitions by source, so
# at 100 TB each source packs independently (parallel, one shuffle on
# source) instead of a global single-partition cumsum; within a source
# the order is the deterministic doc_id. All-integer output.
@_q(
    "d_sequence_packing",
    f"""
    WITH toks AS (
      SELECT doc_id, source, len({_TOKS}) AS n_tok FROM documents
    ), packed AS (
      SELECT source, doc_id, n_tok,
             CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok) / 1024.0) AS BIGINT) AS bin
      FROM toks
    )
    SELECT source, bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
           CAST(FLOOR(SUM(n_tok) * 1000000.0 / 1024.0) AS BIGINT) AS fill_micro
    FROM packed
    GROUP BY source, bin
    ORDER BY source, bin
    LIMIT 40
    """,
)
def d_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "bin", F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(1024.0))
    )
    return (
        packed.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
            F.floor(F.sum("n_tok") * F.lit(1000000.0) / F.lit(1024.0)).alias("fill_micro"),
        )
        .orderBy("source", "bin")
        .limit(40)
    )


# --------------------------------------------------------------------------
# Repetition filter — the Gopher/C4-style quality gate this family was
# missing: fraction of duplicated word 3-grams within each document
# (boilerplate and degenerate repetition score high). Per-doc the
# signal is (total − distinct) 3-grams — one explode + one two-level
# agg, all partition-local until the per-doc groupBy; the flag uses
# integer cross-multiplication (dup·5 > total ⇔ dup_frac > 0.2), so
# the whole result is integer-exact. Per-language summary output.
@_q(
    "d_repetition_filter",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, {_TOKS} AS tk FROM documents
    ), grams AS (
      SELECT doc_id, lang, {_SHINGLE} AS g
      FROM (SELECT doc_id, lang, tk,
                   unnest(range(1, GREATEST(len(tk) - 2, 0) + 1)) AS i
            FROM toks)
    ), per_doc AS (
      SELECT doc_id, lang,
             COUNT(*) AS n_grams,
             COUNT(DISTINCT g) AS n_distinct,
             COUNT(*) - COUNT(DISTINCT g) AS n_dup
      FROM grams GROUP BY doc_id, lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_dup * 5 > n_grams THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(n_dup) AS BIGINT) AS total_dup_grams,
           CAST(SUM(n_grams) AS BIGINT) AS total_grams
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def d_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    # RAW (non-distinct) 3-grams — functions.hashing.word_shingles dedupes
    # by design for minhash, which would erase the very signal measured
    # here; docs with <3 tokens produce no grams (empty sequence).
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    raw_grams = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(2)),
            lambda i: F.array_join(F.slice(toks, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = d.select("doc_id", "lang", F.explode(raw_grams).alias("g"))
    per_doc = grams.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("g").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("g")).alias("n_dup"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_dup") * 5 > F.col("n_grams")).cast("bigint")).alias("n_flagged"),
            F.sum("n_dup").alias("total_dup_grams"),
            F.sum("n_grams").alias("total_grams"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Corpus-statistics fluency score — a bigram-LM-shaped quality signal
# with no float log-probs: build the corpus bigram vocabulary (bigrams
# seen in ≥2 documents) in pass 1, then score each document by its
# fraction of out-of-vocabulary bigrams in pass 2. Degenerate or
# machine-garbled text has a high OOV fraction against its own corpus.
# The vocabulary is a self-derived dim joined back to the exploded
# bigram stream (left anti = OOV) — the two-pass shape a real n-gram LM
# scorer has, with the counts staying integer-exact end to end. At
# 100 TB the vocab is itself fact-scale, so the join is a key-partitioned
# shuffle join (NOT broadcast) — exactly how it's written here.
@_q(
    "d_oov_bigram_score",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, {_TOKS} AS tk FROM documents
    ), bigrams AS (
      SELECT doc_id, lang, concat_ws(' ', tk[i], tk[i+1]) AS bg
      FROM (SELECT doc_id, lang, tk,
                   unnest(range(1, GREATEST(len(tk) - 1, 0) + 1)) AS i
            FROM toks)
    ), vocab AS (
      SELECT bg FROM (
        SELECT bg, COUNT(DISTINCT doc_id) AS df FROM bigrams GROUP BY bg
      ) WHERE df >= 2
    ), scored AS (
      SELECT b.doc_id, b.lang,
             COUNT(*) AS n_bigrams,
             SUM(CASE WHEN v.bg IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM bigrams b LEFT JOIN vocab v ON b.bg = v.bg
      GROUP BY b.doc_id, b.lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_oov) AS BIGINT) AS total_oov,
           CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
           CAST(SUM(CASE WHEN n_oov * 2 > n_bigrams THEN 1 ELSE 0 END) AS BIGINT) AS n_disfluent
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def d_oov_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    raw_bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # persist: the exploded bigram stream feeds BOTH the vocab agg and
    # the scoring join — without it the full tokenize/explode lineage
    # runs twice (two corpus scans at 100 TB).
    bigrams = d.select("doc_id", "lang", F.explode(raw_bigrams).alias("bg"))
    bigrams = bigrams.persist()
    vocab = (
        bigrams.groupBy("bg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("bg")
    )
    scored = (
        bigrams.join(vocab.withColumn("in_vocab", F.lit(1)), "bg", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.col("in_vocab").isNull().cast("bigint")).alias("n_oov"),
        )
    )
    out = (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_oov").alias("total_oov"),
            F.sum("n_bigrams").alias("total_bigrams"),
            F.sum((F.col("n_oov") * 2 > F.col("n_bigrams")).cast("bigint")).alias("n_disfluent"),
        )
        .orderBy("lang")
    )
    return checkpoint_release(out, [bigrams])


# --------------------------------------------------------------------------
# SoftDedup — keep EVERY document but down-weight near-duplicates:
# per-doc training weight 1/|near-dup cluster| (singletons weigh 1.0),
# so a 40-copy boilerplate family contributes one document's worth of
# gradient instead of 40 while rare text keeps full weight. The modern
# alternative to hard dedup when the duplicated text is still useful
# signal. Reuses the _jaccard_edge_pairs → connected-components chain
# (identical edge semantics to d_dedup_clusters, so the same
# recursive-CTE oracle verifies the clustering) and left-joins the
# cluster sizes back onto the corpus — docs with no near-dup edge never
# enter the CC relation and coalesce to size 1. Scale shape: the edge
# build is the LSH-capped self-join (never all-pairs), CC is
# edge-count-scaled, and the final join is corpus ⋈ cluster-table on
# doc_id (AQE broadcasts the cluster side while it is small, shuffles
# at 100 TB). Output is the consumable per-doc weight table a trainer
# ingests directly.
@_q(
    "d_soft_dedup_weights",
    CC_ORACLE_CTE
    + """, csize AS (
      SELECT component, COUNT(*) AS sz FROM comp GROUP BY component
    )
    SELECT d.doc_id,
           CAST(COALESCE(cs.sz, 1) AS BIGINT) AS cluster_size,
           FLOOR((1.0 / COALESCE(cs.sz, 1)) * 1000000.0) / 1000000.0 AS weight
    FROM documents d
    LEFT JOIN comp c ON c.node = d.doc_id
    LEFT JOIN csize cs ON cs.component = c.component
    ORDER BY d.doc_id
    """,
    doc="SoftDedup: per-doc training weight 1/|near-dup cluster| from "
    "the MinHash-threshold connected components (singletons weigh 1.0) "
    "— down-weight duplicates instead of dropping them; the consumable "
    "weight table a trainer joins on doc_id",
)
def d_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    pairs, caches = _jaccard_edge_pairs(d)
    comp = connected_components(pairs, "da", "db")
    csize = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    docw = (
        d.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .join(csize, "component", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("sz"), F.lit(1)).cast("bigint").alias("cluster_size"),
        )
    )
    out = docw.select(
        "doc_id",
        "cluster_size",
        trunc6(F.lit(1.0) / F.col("cluster_size")).alias("weight"),
    ).orderBy("doc_id")
    return checkpoint_release(out, caches)
