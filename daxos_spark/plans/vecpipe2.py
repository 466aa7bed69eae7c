"""Second vector-pipeline family: distributed Gram matrix (the PCA /
whitening building block) and SemDeDup-style semantic deduplication.

Beyond-parity surface (the reference has no vector ops — SURVEY §2
training-data-pipeline family). Both are the standard scale-out layouts:

- e_gram_matrix: X^T X over the embedding corpus via per-partition
  block matmul (Arrow-batched mapInPandas, one 64x64 partial per batch)
  reduced by a (dim², tiny) groupBy sum — the exact dataflow the
  deconfound gramian (`ml/deconfound.py`) uses, exposed as a
  first-class op. At 100 TB this is a single map-side pass producing
  p(p+1)/2 partials per task; the shuffle moves O(tasks · p²) numbers,
  never the data. Fixed-point int codes (floor(x·1000), exact in every
  engine) make the partial sums integer — order-independent, so the
  duckdb brute-force (unnest self-join) oracle matches bit-for-bit.

- e_semdedup: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — cluster
  the embedding space, then mark within-cluster cosine near-duplicates,
  keeping the lowest vec_id of each similar pair. Clustering reuses the
  deterministic relational Lloyd layout proven by ml_kmeans_lloyd
  (first-K init, one update round, DECIMAL-exact distances/means), so
  the assignment — and therefore the pair set — is bit-identical in
  Spark and duckdb. The quadratic term is bounded by the cluster
  partition exactly as in the paper (K grows with corpus size; the
  within-cluster pair join is an equi-join on the cluster id, never
  all-pairs). Cosine thresholding is the integer-exact fixed-point
  test from d_semantic_neardup: num² > τ²·|a|²·|b|² on bigint codes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_tables
from ..functions.hashing import md5_long_sql
from ..functions.similarity import int_code
from ..functions.vectors import dot, l2_norm, to_double
from .docpipe import _fanout
from .registry import QuerySpec, checkpoint_release, register, sql_trunc6, trunc6

_DIM = 64


def _q(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        register(QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc, tags=("vectors",)))
        return fn

    return deco


# --------------------------------------------------------------------------
# distributed Gram matrix: G = C^T C over fixed-point codes.
_CODE_SQL = "list_transform(embedding::DOUBLE[], x -> CAST(FLOOR(x * 1000.0) AS BIGINT))"


@_q(
    "e_gram_matrix",
    f"""
    WITH u AS (
      SELECT vec_id,
             generate_subscripts(c, 1) - 1 AS pos,
             unnest(c) AS v
      FROM (SELECT vec_id, {_CODE_SQL} AS c FROM embeddings)
    )
    SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS gram
    FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.pos <= b.pos
    GROUP BY i, j ORDER BY i, j
    """,
    doc="distributed Gram matrix X^T X (PCA/whitening precursor) via "
    "per-partition block matmul + dim^2 reduce",
)
def e_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    codes = e.select(int_code(to_double(F.col("embedding"))).alias("c"))

    iu = np.triu_indices(_DIM)

    def partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one p×p int64 accumulator per Arrow batch; emits p(p+1)/2 rows
        # per batch — the shuffle sees O(batches · p²) numbers, not rows.
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["c"].to_numpy()).astype(np.int64)
            g = m.T @ m
            yield pd.DataFrame(
                {"i": iu[0].astype(np.int32), "j": iu[1].astype(np.int32), "g": g[iu]}
            )

    partials = codes.mapInPandas(partial_gram, schema="i int, j int, g long")
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("g").alias("gram"))
        .orderBy("i", "j")
    )


# --------------------------------------------------------------------------
# SemDeDup: deterministic Lloyd assignment (K clusters, 1 update round,
# first-K init) + within-cluster integer-exact cosine near-dup marking.
_SD_K = 32
_SD_TAU2 = 0.09  # cosine > 0.3 ≈ p95 of within-cluster pair cosine here;
# at 100 TB with real near-dup mass the paper's τ ≈ 0.95+ applies unchanged


def _semdedup_cte(k_sql: str = str(_SD_K)) -> str:
    """The shared WITH-chain (assignment rounds → within-cluster
    near-dup pairs → `rm` = removed ids); the summary and keep-list
    oracles put different SELECTs on top of the same chain."""
    dist = """
      SELECT u.vec_id, ct.cluster,
             SUM(CAST((u.x - ct.c)*(u.x - ct.c) AS DECIMAL(25,6))) AS d
      FROM u JOIN {prev} ct ON ct.pos = u.pos
      GROUP BY u.vec_id, ct.cluster
    """
    pick = """
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM {src}) t WHERE rn = 1
    """
    return f"""
    WITH u AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), ct0 AS (
      SELECT vec_id AS cluster, pos, x AS c FROM u WHERE vec_id < {k_sql}
    ), d0 AS ({dist.format(prev='ct0')}
    ), a0 AS ({pick.format(src='d0')}
    ), cm0 AS (
      SELECT a.cluster, u.pos,
             CAST(SUM(CAST(u.x AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS cnew
      FROM u JOIN a0 a ON a.vec_id = u.vec_id
      GROUP BY a.cluster, u.pos
    ), ct1 AS (
      SELECT p.cluster, p.pos, COALESCE(m.cnew, p.c) AS c
      FROM ct0 p LEFT JOIN cm0 m ON m.cluster = p.cluster AND m.pos = p.pos
    ), d1 AS ({dist.format(prev='ct1')}
    ), af AS ({pick.format(src='d1')}
    ), cd AS (
      SELECT e.vec_id, af.cluster, {_CODE_SQL} AS c
      FROM embeddings e JOIN af ON af.vec_id = e.vec_id
    ), cn AS (
      SELECT vec_id, cluster, c,
             CAST(list_dot_product(c, c) AS BIGINT) AS nn
      FROM cd
    ), pr AS (
      SELECT a.cluster, b.vec_id AS dup_id,
             CAST(list_dot_product(a.c, b.c) AS BIGINT) AS num,
             a.nn AS na, b.nn AS nb
      FROM cn a JOIN cn b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ), rm AS (
      SELECT cluster, dup_id FROM pr
      WHERE num > 0 AND CAST(num AS DOUBLE) * CAST(num AS DOUBLE) >
            ({_SD_TAU2} * CAST(na AS DOUBLE)) * CAST(nb AS DOUBLE)
      GROUP BY cluster, dup_id
    )"""


def _semdedup_oracle(k_sql: str = str(_SD_K)) -> str:
    return f"""{_semdedup_cte(k_sql)}
    SELECT af2.cluster,
           COUNT(*) AS n_vectors,
           CAST(COUNT(rm.dup_id) AS BIGINT) AS n_removed
    FROM af af2 LEFT JOIN rm ON rm.cluster = af2.cluster AND rm.dup_id = af2.vec_id
    GROUP BY af2.cluster ORDER BY af2.cluster
    """


@_q(
    "e_semdedup",
    _semdedup_oracle(),
    doc="SemDeDup: Lloyd-cluster the embedding space, drop within-cluster "
    "cosine near-dups (keep lowest id) — Abbas et al. 2023",
)
def e_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_summary(load_tables(spark, sf_dir)["embeddings"], _SD_K)


# The K-scaled SemDeDup configuration, under the hash gate (round-5 ask
# #4): K grows with the corpus so the target cluster size — and with it
# the within-cluster pair mass Σ|cluster|² — stays constant. Round-7
# CORRECTION (SCALE.md "Round-7 refinery profile"): K∝n bounds the pair
# mass but the EXACT argmin assignment is n×K = n²/target rows — this
# form is still quadratic, just in a different stage (measured 30.4× at
# 10× once the single-partition scan bottleneck that masked it was
# fixed). The paper escapes via approximate assignment (faiss); this
# repo's genuinely linear gated path is d_semantic_neardup (LSH-bucket
# blocking, 1.3× at 10×). This query remains the hash-checked
# correctness face of the K∝n parameterization, not the scale path.
# At sf0.01 (n=500) K=32, so the gated rows coincide with e_semdedup's
# — by construction, not coincidence.
_SDS_TARGET = 16  # target vectors per cluster


@_q(
    "v_semdedup_scaled",
    _semdedup_oracle(
        f"(SELECT CAST(CEIL(COUNT(*) / {_SDS_TARGET}.0) AS BIGINT) FROM embeddings)"
    ),
    doc="SemDeDup with corpus-scaled cluster count K = ceil(n/16): the "
    "configuration that holds per-cluster pair mass constant as the "
    "corpus grows (the paper's LAION-scale setting), hash-checked",
)
def v_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load_tables(spark, sf_dir)["embeddings"]
    # one count() to size K — a scalar the driver must own anyway (the
    # paper picks K from corpus size the same way)
    k = math.ceil(e.count() / _SDS_TARGET)
    return semdedup_summary(e, k)


def semdedup_summary(e: DataFrame, n_clusters: int) -> DataFrame:
    """SemDeDup over an embedding table with a CALLER-CHOSEN cluster
    count. The within-cluster pair join costs Σ|cluster|², so K must
    grow with the corpus (the paper runs K≈50k on LAION-scale data) to
    keep the pair mass linear — but note the round-7 correction: with
    K∝n the EXACT argmin assignment becomes the quadratic stage
    (n×K = n²/target distance rows; measured 30.4× at 10× data once
    the single-partition scan bottleneck was removed). At real scale
    the paper's own escape is approximate assignment (faiss IVF); the
    repo's linear gated semantic-dedup path is d_semantic_neardup
    (LSH-bucket candidate blocking, 1.3× at 10×). This exact-relational
    form — any K — is the hash-checked correctness face; ``e_semdedup``
    pins K=32 (first-K init)."""
    af, rm, caches = _semdedup_marks(e, n_clusters)
    out = (
        af.join(rm, (rm["cluster"] == af["cluster"]) & (rm["dup_id"] == af["vec_id"]), "left")
        .groupBy(af["cluster"])
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count(rm["dup_id"]).cast("bigint").alias("n_removed"),
        )
        .orderBy("cluster")
    )
    # K-row result: materialize eagerly and release the corpus-exploded
    # position cache + assignment cache (see t_substring_spans — callers
    # outside the cache-clearing harnesses must not accumulate these)
    return checkpoint_release(out, caches)


def _semdedup_marks(e: DataFrame, n_clusters: int):
    """Shared SemDeDup core: returns (``af`` assignments, ``rm``
    removed ids, and the persisted intermediates the caller must
    unpersist after materializing its result)."""
    dec = "decimal(25,6)"
    # fan out FIRST: the local embeddings table is a single-file,
    # single-row-group parquet (1 partition), and everything downstream
    # of this select — the n×K decimal distance folds of BOTH assign
    # rounds, the position explode, the int-code projection — would
    # otherwise run on ONE core (measured: the whole Lloyd chain was
    # wall-bound on exactly this, 9-12 s at sf0.1 for K=32 and ~60 s
    # for K=125). At cluster scale the scan already has splits and
    # _fanout is a no-op; values are row-wise, so the plan change
    # cannot move the hash.
    emb = _fanout(e).select("vec_id", to_double(F.col("embedding")).alias("xs"))
    emb = emb.persist()
    # exploded view, derived on demand from the cached arrays — only the
    # centroid update needs it
    u = emb.select("vec_id", F.posexplode("xs").alias("pos", "x"))
    ct0 = emb.filter(F.col("vec_id") < n_clusters).select(
        F.col("vec_id").alias("cluster"), F.col("xs").alias("carr")
    )

    def assign(centroids: DataFrame) -> DataFrame:
        # Distances as a per-row decimal FOLD over broadcast centroid
        # ARRAYS instead of a posexplode join + 64×-row decimal hash
        # aggregation: the decimal term values and their exact sum are
        # identical (decimal addition is exact and associative, so fold
        # order vs partial-agg order cannot differ), but the n×K
        # distance rows are produced map-side with no aggregation —
        # measured 6.2 s → 3.2 s per round at sf0.1, 0/64000 value
        # mismatches. The oracle keeps the exploded-join formulation.
        fold = F.aggregate(
            F.zip_with(
                F.col("xs"), F.col("carr"), lambda x, c: ((x - c) * (x - c)).cast(dec)
            ),
            F.lit(0).cast(dec),
            lambda acc, v: (acc + v).cast(dec),
        )
        d = emb.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "cluster", fold.alias("d")
        )
        # argmin as a partial-aggregable min(struct) — lexicographic
        # (d, cluster) ordering is exactly the oracle's ROW_NUMBER
        # ORDER BY d, cluster (decimal d → exact, deterministic
        # tie-break), and measured 3× cheaper than the window form
        # (1.1 s vs 3.5 s per round over the sf0.1 distance table)
        return d.groupBy("vec_id").agg(
            F.min(F.struct("d", "cluster"))["cluster"].alias("cluster")
        )

    a0 = assign(ct0)
    # centroid update stays element-wise (the exact SUM/COUNT ratio the
    # oracle computes per (cluster, pos)), then reassembles arrays; a
    # cluster with >= 1 member has a mean at EVERY position, so the
    # array-level coalesce below equals the oracle's per-cell COALESCE
    cm = (
        u.join(a0, "vec_id")
        .groupBy("cluster", "pos")
        .agg((F.sum(F.col("x").cast(dec)).cast("double") / F.count(F.lit(1))).alias("cnew"))
    )
    cm_arr = cm.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cnew"))), lambda s: s["cnew"]
        ).alias("marr")
    )
    ct1 = ct0.join(cm_arr, "cluster", "left").select(
        "cluster", F.coalesce(F.col("marr"), F.col("carr")).alias("carr")
    )
    af = assign(ct1)
    # pair join reads it twice (both sides) + final agg
    af = af.persist()

    idot = lambda x, y: F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    # derive codes from the fanned-out (and cached) emb, not the raw
    # single-partition e: int_code(xs) ≡ int_code(to_double(embedding)),
    # and this keeps the O(dim) HOF off the one-core scan (round-7
    # review fix — the fanout comment above claimed this and the code
    # didn't deliver)
    cd = emb.select("vec_id", int_code(F.col("xs")).alias("c")).join(af, "vec_id")
    # self-norms once per vector — not per pair
    cn = cd.withColumn("nn", idot(F.col("c"), F.col("c")))
    a, b = cn.alias("a"), cn.alias("b")
    pr = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.cluster").alias("cluster"),
        F.col("b.vec_id").alias("dup_id"),
        idot(F.col("a.c"), F.col("b.c")).alias("num"),
        F.col("a.nn").alias("na"),
        F.col("b.nn").alias("nb"),
    )
    rm = (
        pr.filter(
            (F.col("num") > 0)
            & (
                F.col("num").cast("double") * F.col("num").cast("double")
                > (F.lit(_SD_TAU2) * F.col("na").cast("double")) * F.col("nb").cast("double")
            )
        )
        .select("cluster", "dup_id")
        .distinct()
    )
    return af, rm, (emb, af)


# The CONSUMABLE face of SemDeDup (the same pattern as
# t_substring_dedup next to t_substring_spans): per-vector keep/remove
# verdicts, the row set a corpus-assembly join actually filters on —
# not just the per-cluster removal counts.
@_q(
    "v_semdedup_keep",
    f"""{_semdedup_cte()}
    SELECT af2.vec_id, af2.cluster,
           CASE WHEN rm.dup_id IS NULL THEN 1 ELSE 0 END AS keep
    FROM af af2 LEFT JOIN rm ON rm.cluster = af2.cluster AND rm.dup_id = af2.vec_id
    ORDER BY af2.vec_id
    """,
    doc="SemDeDup keep-list: per-vector (cluster, keep) verdict — the "
    "consumable row set downstream corpus assembly anti-joins on "
    "(keep-lowest-id within cosine near-dup groups)",
)
def v_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, caches = _semdedup_keep_lazy(spark, sf_dir)
    # vector-cardinality keep-list (3 ints/row): checkpoint + release
    # the much larger exploded-position and assignment caches
    return checkpoint_release(out, caches)


def _semdedup_keep_lazy(spark: SparkSession, sf_dir: str):
    af, rm, caches = _semdedup_marks(load_tables(spark, sf_dir)["embeddings"], _SD_K)
    out = (
        af.join(rm, (rm["cluster"] == af["cluster"]) & (rm["dup_id"] == af["vec_id"]), "left")
        .select(
            af["vec_id"],
            af["cluster"],
            F.when(rm["dup_id"].isNull(), 1).otherwise(0).alias("keep"),
        )
        .orderBy("vec_id")
    )
    return out, caches


# --------------------------------------------------------------------------
# MMR re-ranking (Carbonell & Goldstein 1998): after retrieval, pick a
# top-k that balances relevance against redundancy — the diversification
# pass a RAG / retrieval pipeline runs on its candidate set. Greedy:
# next = argmax_d  λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s).
#
# Scale layout: stage 1 is the existing distributed top-N retrieval
# (linear scan + per-query top-N window — e_knn_bruteforce / IVF); the
# greedy runs PER QUERY over its own N=20-candidate set inside
# applyInPandas, so a million queries re-rank in parallel with zero
# driver state and the quadratic term bounded by N². All cosines are
# computed JVM-side with the exact fold proven identical to duckdb's
# list_dot_product (e_knn_bruteforce); the pandas greedy only compares,
# halves, and maxes those identical doubles — exact ops — so the full
# (selection order, score) output is hash-checked against a duckdb
# oracle that unrolls the k greedy steps as SQL layers.
_MMR_CAND = 20  # retrieval candidates per query
_MMR_K = 5  # diversified picks


def _mmr_oracle() -> str:
    cos = "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    layers = []
    sel_union = "SELECT qid, cid FROM s1"
    for k in range(2, _MMR_K + 1):
        prev = f"sel{k-1}"
        layers.append(f"""
    , {prev} AS ({sel_union})
    , sc{k} AS (
      SELECT c.qid, c.cid, 0.5 * c.rel - 0.5 * m.mx AS score
      FROM cand c
      JOIN (SELECT p.qid, p.a AS cid, MAX(p.sim) AS mx
            FROM pr p JOIN {prev} s ON s.qid = p.qid AND s.cid = p.b
            GROUP BY p.qid, p.a) m ON m.qid = c.qid AND m.cid = c.cid
      LEFT JOIN {prev} x ON x.qid = c.qid AND x.cid = c.cid
      WHERE x.cid IS NULL
    )
    , s{k} AS (
      SELECT qid, cid, score, {k} AS step FROM (
        SELECT qid, cid, score,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
        FROM sc{k}) t WHERE rn = 1
    )""")
        sel_union += f" UNION ALL SELECT qid, cid FROM s{k}"
    unions = " UNION ALL ".join(
        f"SELECT qid, step, cid, score FROM s{k}" for k in range(1, _MMR_K + 1)
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 10
    ), cand AS (
      SELECT qid, cid, rel, cv FROM (
        SELECT qid, cid, cv, {cos.format(a='qv', b='cv')} AS rel,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                 {cos.format(a='qv', b='cv')} DESC, cid) AS rk
        FROM q CROSS JOIN c) t
      WHERE rk <= {_MMR_CAND}
    ), pr AS (
      SELECT a.qid, a.cid AS a, b.cid AS b, {cos.format(a='a.cv', b='b.cv')} AS sim
      FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
    ), s1 AS (
      SELECT qid, cid, 0.5 * rel AS score, 1 AS step FROM (
        SELECT qid, cid, rel,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
        FROM cand) t WHERE rn = 1
    ){''.join(layers)}
    SELECT qid, step, cid AS selected_id, {sql_trunc6('score')} AS mmr_score
    FROM ({unions}) f ORDER BY qid, step
    """


@_q(
    "v_mmr_rerank",
    _mmr_oracle(),
    doc="greedy MMR diversified top-5 over per-query top-20 retrieval "
    "(λ=0.5); selection order and scores hash-checked vs an unrolled "
    "greedy-layer SQL oracle",
)
def v_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        to_double(F.col("embedding")).alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"),
        to_double(F.col("embedding")).alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    s = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "cid",
        "cv",
        "cn",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("rel"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("rel").desc(), F.col("cid"))
    cand = (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MMR_CAND)
        .select("qid", "cid", "rel", "cv", "cn")
    )
    # both sides of the pair join
    cand = cand.persist()
    a, b = cand.alias("a"), cand.alias("b")
    pr = a.join(
        b, (F.col("a.qid") == F.col("b.qid")) & (F.col("a.cid") != F.col("b.cid"))
    ).select(
        F.col("a.qid").alias("qid"),
        F.col("a.cid").alias("a_cid"),
        F.col("a.rel").alias("a_rel"),
        F.col("b.cid").alias("b_cid"),
        (dot(F.col("a.cv"), F.col("b.cv")) / (F.col("a.cn") * F.col("b.cn"))).alias("sim"),
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["qid"].iloc[0])
        rel = dict(
            pdf.drop_duplicates("a_cid")[["a_cid", "a_rel"]].itertuples(index=False)
        )
        sim = {(r.a_cid, r.b_cid): r.sim for r in pdf.itertuples(index=False)}
        remaining = sorted(rel)
        sel: list[int] = []
        out = []
        for step in range(1, _MMR_K + 1):
            if not remaining:
                break
            best_id, best_score = None, None
            for d in remaining:  # ascending id == the oracle's tie-break
                ms = max((sim[(d, s_)] for s_ in sel), default=0.0)
                score = 0.5 * rel[d] - 0.5 * ms
                if best_score is None or score > best_score:
                    best_id, best_score = d, score
            out.append((qid, step, best_id, best_score))
            sel.append(best_id)
            remaining.remove(best_id)
        return pd.DataFrame(out, columns=["qid", "step", "selected_id", "score"])

    res = pr.groupBy("qid").applyInPandas(
        greedy, schema="qid long, step int, selected_id long, score double"
    )
    out = res.select(
        "qid", "step", "selected_id", trunc6(F.col("score")).alias("mmr_score")
    ).orderBy("qid", "step")
    return checkpoint_release(out, [cand])


# --------------------------------------------------------------------------
# IVF-PQ composite ANN — the FAISS-style production layout (Jégou et al.
# 2011, "Product Quantization for Nearest Neighbor Search" §IV): a
# coarse quantizer (per-label centroids, squared-L2 assignment) prunes
# the scan to nprobe cells, and within each cell vectors are stored as
# M=8 residual PQ codes (residual = vector − its coarse centroid), so
# the probed scan reads 8 bytes/vector instead of 256 and never touches
# the raw floats. ADC: dist(q, x) ≈ Σ_m dtable[cell][m][code_m(x)]
# where dtable is the query-residual-to-anchor table (nprobe×M×K —
# trivially broadcast).
#
# At 100 TB: the corpus pass is ONE map-side Arrow batch per split
# (broadcast centroids + codebook, assign + residual + code fused — no
# exchange between the scan and the (bucket, codes) table; the
# e_pq_knn round-2 lesson applied from the start); the code table is
# partition-pruned by bucket at query time.
#
# Determinism: every distance term is the HALF_UP 1e-6-grid integer of a
# product of identical doubles (the value class of CAST(.. AS
# DECIMAL(25,6)), proven by e_pq_knn); argmin first-minimum == the
# oracle's ORDER BY d, id. Residuals are differences of identical
# doubles. The full (probe set, cell assignment, codes, ranking, ADC
# distance) chain is hash-checked.
_IVFPQ_K = 16  # PQ codebook size (anchors = residuals of corpus vecs 10..25)
_IVFPQ_M = 8  # subvectors
_IVFPQ_NPROBE = 3


def _ivfpq_oracle() -> str:
    sq = "SUM(CAST(({a} - {b}) * ({a} - {b}) AS DECIMAL(25,6)))"
    return f"""
    WITH u AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cm AS (
      SELECT e.label AS bucket, u.pos,
             CAST(SUM(CAST(u.x AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS c
      FROM u JOIN embeddings e USING (vec_id) WHERE u.vec_id >= 10
      GROUP BY e.label, u.pos
    ), cad AS (
      SELECT u.vec_id, cm.bucket, {sq.format(a='u.x', b='cm.c')} AS d
      FROM u JOIN cm ON cm.pos = u.pos WHERE u.vec_id >= 10
      GROUP BY u.vec_id, cm.bucket
    ), asg AS (
      SELECT vec_id, bucket FROM (
        SELECT vec_id, bucket,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, bucket) AS rn
        FROM cad) t WHERE rn = 1
    ), res AS (
      SELECT u.vec_id, a.bucket, u.pos, u.x - cm.c AS r
      FROM u JOIN asg a USING (vec_id)
      JOIN cm ON cm.bucket = a.bucket AND cm.pos = u.pos
    ), anch AS (
      SELECT vec_id - 10 AS code, pos // 8 AS m, pos % 8 AS i, r AS a
      FROM res WHERE vec_id < {10 + _IVFPQ_K}
    ), pdist AS (
      SELECT r.vec_id, r.pos // 8 AS m, an.code, {sq.format(a='r.r', b='an.a')} AS d
      FROM res r JOIN anch an ON an.m = r.pos // 8 AND an.i = r.pos % 8
      GROUP BY r.vec_id, r.pos // 8, an.code
    ), codes AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
        FROM pdist) t WHERE rn = 1
    ), qad AS (
      SELECT u.vec_id AS qid, cm.bucket, {sq.format(a='u.x', b='cm.c')} AS d
      FROM u JOIN cm ON cm.pos = u.pos WHERE u.vec_id < 10
      GROUP BY qid, cm.bucket
    ), probes AS (
      SELECT qid, bucket FROM (
        SELECT qid, bucket,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, bucket) AS rn
        FROM qad) t WHERE rn <= {_IVFPQ_NPROBE}
    ), qres AS (
      SELECT u.vec_id AS qid, p.bucket, u.pos, u.x - cm.c AS r
      FROM u JOIN probes p ON u.vec_id = p.qid
      JOIN cm ON cm.bucket = p.bucket AND cm.pos = u.pos
      WHERE u.vec_id < 10
    ), qd AS (
      SELECT qr.qid, qr.bucket, qr.pos // 8 AS m, an.code,
             {sq.format(a='qr.r', b='an.a')} AS d
      FROM qres qr JOIN anch an ON an.m = qr.pos // 8 AND an.i = qr.pos % 8
      GROUP BY qr.qid, qr.bucket, qr.pos // 8, an.code
    ), adc AS (
      SELECT qd.qid, c2.vec_id AS cid, SUM(qd.d) AS dist
      FROM codes c2 JOIN asg ON asg.vec_id = c2.vec_id
      JOIN qd ON qd.bucket = asg.bucket AND qd.m = c2.m AND qd.code = c2.code
      GROUP BY qd.qid, cid
    )
    SELECT qid, rk, cid AS neighbor_id, {sql_trunc6('CAST(dist AS DOUBLE)')} AS adc_dist
    FROM (
      SELECT qid, cid, dist,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid) AS rk
      FROM adc) t
    WHERE rk <= 5 ORDER BY qid, rk
    """


@_q(
    "v_ivfpq_knn",
    _ivfpq_oracle(),
    doc="IVF-PQ composite ANN: coarse L2 cell assignment + M=8 residual "
    "PQ codes + ADC over the probed cells' compact code table (8 B/vec)",
)
def v_ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    e = load_tables(spark, sf_dir)["embeddings"]
    dec = "decimal(25,6)"

    # coarse centroids: per-label DECIMAL-exact means -> (B, 64) doubles;
    # dimension-table sized at any corpus scale, collected once.
    cm_rows = (
        e.filter(F.col("vec_id") >= 10)
        .select("label", F.posexplode(to_double(F.col("embedding"))).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg((F.sum(F.col("x").cast(dec)).cast("double") / F.count(F.lit(1))).alias("c"))
        .collect()
    )
    buckets = sorted({int(r["label"]) for r in cm_rows})
    bpos = {b: i for i, b in enumerate(buckets)}
    cent = np.zeros((len(buckets), _DIM))
    for r in cm_rows:
        cent[bpos[int(r["label"])], int(r["pos"])] = float(r["c"])
    blabels = np.array(buckets)

    def _grid_sq(diff: np.ndarray) -> np.ndarray:
        # HALF_UP 1e-6 grid of each squared term == CAST(t AS DECIMAL(25,6))
        return np.floor(diff * diff * 1e6 + 0.5).astype(np.int64)

    def _assign(X: np.ndarray) -> np.ndarray:
        d = _grid_sq(X[:, None, :] - cent[None, :, :]).sum(axis=2)  # (n, B)
        return d.argmin(axis=1)  # first-min == ORDER BY d, bucket

    # PQ codebook: residuals of corpus vectors 10..10+K (deterministic);
    # computed driver-side with the same quantized assignment.
    anch_rows = (
        e.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 10 + _IVFPQ_K))
        .select("vec_id", to_double(F.col("embedding")).alias("v"))
        .collect()
    )
    av = np.array(
        [[float(x) for x in r["v"]] for r in sorted(anch_rows, key=lambda r: r["vec_id"])]
    )
    anchors = av - cent[_assign(av)]  # (K, 64) residual codebook

    n_sub = _DIM // 8

    # mapInPandas emitting the exploded (vec_id, bucket, m, code) rows
    # directly — a struct-returning pandas_udf + field projection gets
    # its projections collapsed by Catalyst into TWO stacked
    # ArrowEvalPython nodes (the UDF runs twice per row, once per
    # accessed field; observed in .explain). One map pass, no exchange.
    def assign_and_code(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["v"].to_numpy())
            bi = _assign(X)
            r = X - cent[bi]
            t = _grid_sq(r[:, None, :] - anchors[None, :, :])
            sums = t.reshape(len(X), _IVFPQ_K, n_sub, 8).sum(axis=3)  # (n, K, M)
            cd = sums.argmin(axis=1).astype(np.int32)  # (n, M)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_sub),
                    "bucket": np.repeat(blabels[bi].astype(np.int32), n_sub),
                    "m": np.tile(np.arange(n_sub, dtype=np.int32), n),
                    "code": cd.reshape(-1),
                }
            )

    corpus = e.filter(F.col("vec_id") >= 10).select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    codes = corpus.mapInPandas(
        assign_and_code, schema="vec_id long, bucket int, m int, code int"
    )

    # query side (tiny): probes + residual distance table, relational
    cmdf = spark.createDataFrame(
        [(int(b), int(p), float(cent[bpos[b], p])) for b in buckets for p in range(_DIM)],
        "bucket int, pos int, c double",
    )
    qu = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.posexplode(to_double(F.col("embedding"))).alias("pos", "x"),
    )
    sq = lambda a, b: ((a - b) * (a - b)).cast(dec)
    qad = (
        qu.join(F.broadcast(cmdf), "pos")
        .groupBy("qid", "bucket")
        .agg(F.sum(sq(F.col("x"), F.col("c"))).alias("d"))
    )
    wp = Window.partitionBy("qid").orderBy("d", "bucket")
    probes = (
        qad.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select("qid", "bucket")
    )
    anchdf = spark.createDataFrame(
        [
            (k, p // 8, p % 8, float(anchors[k, p]))
            for k in range(_IVFPQ_K)
            for p in range(_DIM)
        ],
        "code int, m int, i int, a double",
    )
    qd = (
        qu.join(F.broadcast(probes), "qid")
        .join(F.broadcast(cmdf), ["bucket", "pos"])
        .select("qid", "bucket", F.expr("pos div 8").alias("m"),
                (F.col("pos") % 8).alias("i"), (F.col("x") - F.col("c")).alias("r"))
        .join(F.broadcast(anchdf), ["m", "i"])
        .groupBy("qid", "bucket", "m", "code")
        .agg(F.sum(sq(F.col("r"), F.col("a"))).alias("d"))
    )
    adc = (
        codes.join(F.broadcast(qd), ["bucket", "m", "code"])
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.sum("d").alias("dist"))
    )
    wr = Window.partitionBy("qid").orderBy("dist", "cid")
    return (
        adc.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 5)
        .select("qid", "rk", F.col("cid").alias("neighbor_id"),
                trunc6(F.col("dist").cast("double")).alias("adc_dist"))
        .orderBy("qid", "rk")
    )


# --------------------------------------------------------------------------
# Blocked-matmul exact kNN — the vectorized twin of e_knn_bruteforce.
# The HOF-fold cosine evaluates ~64 expression nodes per (query, doc)
# pair inside codegen; once the query set is a few hundred rows that
# per-pair interpretation is the scan bottleneck. Here the broadcast
# query code-matrix hits each Arrow batch as ONE int64 matmul
# (C @ Q^T), each task emits only its per-query partial top-k (the
# per-partition heap), and a single exchange of tasks×queries×k rows
# finishes the global top-k. Scores are exact integer dots of the
# fixed-point codes (floor(x·1000)), so ranking and scores hash-check.
_BK_K = 5


@_q(
    "v_knn_blocked",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, {_CODE_SQL} AS qc FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS cid, {_CODE_SQL} AS cc FROM embeddings WHERE vec_id >= 10
    ), s AS (
      SELECT qid, cid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score FROM q, c
    )
    SELECT qid, rk, cid AS neighbor_id, score FROM (
      SELECT qid, cid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
      FROM s) t
    WHERE rk <= {_BK_K} ORDER BY qid, rk
    """,
    doc="exact kNN via per-batch int64 matmul (broadcast query matrix, "
    "per-task partial top-k) — the vectorized scan path for large "
    "query sets",
)
def v_knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]

    q_rows = (
        e.filter(F.col("vec_id") < 10)
        .select("vec_id", int_code(to_double(F.col("embedding"))).alias("c"))
        .collect()
    )
    q_rows.sort(key=lambda r: r["vec_id"])
    qids = np.array([int(r["vec_id"]) for r in q_rows])
    Q = np.array([[int(x) for x in r["c"]] for r in q_rows], dtype=np.int64)

    corpus = e.filter(F.col("vec_id") >= 10).select(
        "vec_id", int_code(to_double(F.col("embedding"))).alias("c")
    )

    def block_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["c"].to_numpy()).astype(np.int64)
            S = C @ Q.T  # (n, nq) exact int64
            cids = pdf["vec_id"].to_numpy()
            k = min(_BK_K, len(cids))
            out = []
            for j, qid in enumerate(qids):
                col = S[:, j]
                # partial top-k inside the task: (-score, cid) order
                idx = np.lexsort((cids, -col))[:k]
                out.append(
                    pd.DataFrame(
                        {"qid": qid, "cid": cids[idx], "score": col[idx]}
                    )
                )
            yield pd.concat(out, ignore_index=True)

    partials = corpus.mapInPandas(block_topk, schema="qid long, cid long, score long")
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "cid")
    return (
        partials.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BK_K)
        .select("qid", "rk", F.col("cid").alias("neighbor_id"), "score")
        .orderBy("qid", "rk")
    )


# --------------------------------------------------------------------------
# Hybrid two-stage retrieval — the standard RAG/search stack: BM25
# lexical RECALL (cheap, inverted-index postings join — t_bm25_topk's
# construction with a wider k) followed by embedding RERANK of only
# those candidates (exact integer-code dot against the query's own
# embedding; doc_id == vec_id as in d_semantic_neardup). The semantic
# model never scans the corpus — it scores recall_k candidates per
# query, which is the whole economics of two-stage retrieval at scale.
# Both stages deterministic → final ranking, bm25 AND semantic scores
# all hash-check.
_HY_RECALL = 20
_HY_K = 5
_HY_K1 = 1.2
_HY_B = 0.75


def _hybrid_oracle() -> str:
    toks = "string_split_regex(lower(trim(text)), '\\s+')"
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({toks}) AS t FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dlen FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t
    ), df AS (
      SELECT t, COUNT(*) AS df FROM tf GROUP BY t
    ), q AS (
      SELECT doc_id AS qid, t FROM (
        SELECT DISTINCT doc_id, t FROM tok WHERE doc_id % 97 = 0
      ) WHERE qid < 97 * 3
    ), scored AS (
      SELECT q.qid, tf.doc_id,
             CAST(SUM(CAST(
               LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({_HY_K1} + 1.0))
               / (tf.tf + {_HY_K1} * (1.0 - {_HY_B} + {_HY_B} * (dl.dlen / stats.avgdl)))
             AS DECIMAL(25,6))) AS DOUBLE) AS bm25
      FROM q JOIN tf ON tf.t = q.t JOIN df ON df.t = q.t
      JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
      WHERE tf.doc_id % 97 <> 0
      GROUP BY q.qid, tf.doc_id
    ), recall AS (
      SELECT qid, doc_id, bm25 FROM (
        SELECT qid, doc_id, bm25,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rn
        FROM scored) t WHERE rn <= {_HY_RECALL}
    ), qv AS (
      SELECT vec_id AS qid, {_CODE_SQL} AS qc FROM embeddings
    ), cv AS (
      SELECT vec_id AS doc_id, {_CODE_SQL} AS cc FROM embeddings
    ), rr AS (
      SELECT r.qid, r.doc_id, r.bm25,
             CAST(list_dot_product(qv.qc, cv.cc) AS BIGINT) AS sem_dot
      FROM recall r JOIN qv ON qv.qid = r.qid JOIN cv ON cv.doc_id = r.doc_id
    )
    SELECT qid, rk, doc_id, {sql_trunc6('bm25')} AS bm25, sem_dot FROM (
      SELECT qid, doc_id, bm25, sem_dot,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sem_dot DESC, doc_id) AS rk
      FROM rr) t
    WHERE rk <= {_HY_K} ORDER BY qid, rk
    """


@_q(
    "v_hybrid_search",
    _hybrid_oracle(),
    doc="two-stage retrieval: BM25 lexical recall (top-20 postings join) "
    "then exact embedding rerank of only those candidates; both scores "
    "hash-checked",
)
def v_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as T

    t = load_tables(spark, sf_dir)
    d = t["documents"]
    tok = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("t"))
    tok = tok.persist()
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    q = (
        tok.filter((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 97 * 3))
        .select(F.col("doc_id").alias("qid"), "t")
        .distinct()
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tt = (F.col("tf") * (_HY_K1 + 1.0)) / (
        F.col("tf") + _HY_K1 * (1.0 - _HY_B + _HY_B * (F.col("dlen") / F.col("avgdl")))
    )
    scored = (
        q.join(tf, "t")
        .filter(F.col("doc_id") % 97 != 0)
        # df_ is vocabulary-scaled and dl is CORPUS-scaled (per-doc
        # lengths) — no forced broadcast; AQE picks broadcast when the
        # query-term-restricted sides measure small
        .join(df_, "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("qid", "doc_id", (idf * tt).cast("decimal(25,6)").alias("s"))
        .groupBy("qid", "doc_id")
        .agg(F.sum("s").cast("double").alias("bm25"))
    )
    wr = Window.partitionBy("qid").orderBy(F.col("bm25").desc(), "doc_id")
    recall = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _HY_RECALL)
        .select("qid", "doc_id", "bm25")
    )
    e = t["embeddings"]
    codes = e.select(F.col("vec_id"), int_code(to_double(F.col("embedding"))).alias("c"))
    idot = lambda x, y: F.aggregate(
        F.zip_with(x, y, lambda p, q_: p * q_), F.lit(0).cast("bigint"), lambda a, v: a + v
    )
    rr = (
        recall.join(
            codes.select(F.col("vec_id").alias("qid"), F.col("c").alias("qc")), "qid"
        )
        .join(
            codes.select(F.col("vec_id").alias("doc_id"), F.col("c").alias("cc")),
            "doc_id",
        )
        .select("qid", "doc_id", "bm25", idot(F.col("qc"), F.col("cc")).alias("sem_dot"))
    )
    wk = Window.partitionBy("qid").orderBy(F.col("sem_dot").desc(), "doc_id")
    out = (
        rr.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _HY_K)
        .select("qid", "rk", "doc_id", trunc6(F.col("bm25")).alias("bm25"), "sem_dot")
        .orderBy("qid", "rk")
    )
    return checkpoint_release(out, [tok])


# --------------------------------------------------------------------------
# IVF-PQ recall audit — every approximation in this repo ships with its
# quality measurement (HLL/Bloom/CMS audits, e_knn_recall for IVF);
# this is the composite index's: per query, how many of the EXACT
# squared-L2 top-5 the IVF-PQ search recovered. Both sides
# deterministic (DECIMAL L2 sums / grid-integer ADC), so the recall
# numbers themselves hash-check. At 100 TB this is the query you run
# after building the index to pick nprobe/K before trusting it.
@_q(
    "v_ivfpq_recall",
    f"""
    WITH ipq AS ({_ivfpq_oracle().replace(';', '')}
    ), u2 AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), exact_d AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             SUM(CAST((q.x - c.x) * (q.x - c.x) AS DECIMAL(25,6))) AS d
      FROM u2 q JOIN u2 c ON c.pos = q.pos AND c.vec_id >= 10
      WHERE q.vec_id < 10
      GROUP BY qid, cid
    ), exact_top AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, cid) AS rk
        FROM exact_d) t WHERE rk <= 5
    )
    SELECT e.qid,
           COUNT(*) AS k_exact,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_recovered
    FROM exact_top e
    LEFT JOIN ipq i ON i.qid = e.qid AND i.neighbor_id = e.cid
    GROUP BY e.qid ORDER BY e.qid
    """,
    doc="IVF-PQ recall vs exact squared-L2 top-5 — the composite "
    "index's quality audit, recall numbers hash-checked",
)
def v_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    dec = "decimal(25,6)"
    u = e.select(
        "vec_id", F.posexplode(to_double(F.col("embedding"))).alias("pos", "x")
    )
    q = u.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "pos", F.col("x").alias("qx")
    )
    c = u.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), "pos", F.col("x").alias("cx")
    )
    d = (
        q.join(c, "pos")
        .groupBy("qid", "cid")
        .agg(F.sum(((F.col("qx") - F.col("cx")) * (F.col("qx") - F.col("cx"))).cast(dec)).alias("d"))
    )
    w = Window.partitionBy("qid").orderBy("d", "cid")
    exact_top = d.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
    ipq = v_ivfpq_knn(spark, sf_dir).select(
        F.col("qid").alias("iqid"), F.col("neighbor_id").alias("icid")
    )
    return (
        exact_top.join(
            ipq,
            (F.col("qid") == F.col("iqid")) & (F.col("cid") == F.col("icid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("k_exact"),
            F.sum(F.col("icid").isNotNull().cast("int")).cast("bigint").alias("n_recovered"),
        )
        .orderBy("qid")
    )


# --------------------------------------------------------------------------
# Top principal direction by POWER ITERATION, fully relational — the
# population-structure PCA precursor (GWAS confounder control; the
# reference handles confounders via covariates, this is the matrix-free
# complement). The corpus is touched ONCE (the e_gram_matrix map-side
# block-matmul pass); the iteration then runs on the dim² Gram table:
# w = G v (join + DECIMAL-sum matvec), v = w / ||w||, 3 fixed rounds
# from the all-ones start. Uncentered Gram → top singular direction
# (documented; center the codes first for textbook PCA). Every matvec
# term is bigint·double with DECIMAL accumulation and the norm is a
# DECIMAL sum of squares, so the loadings hash-check bit-for-bit.
_PI_ITERS = 3


def _pca_oracle() -> str:
    mv = """
    , w{k} AS (
      SELECT g.i AS pos,
             CAST(SUM(CAST(g.gram * v.x AS DECIMAL(38,12))) AS DOUBLE) AS w
      FROM gf g JOIN v{p} v ON v.pos = g.j GROUP BY g.i
    ), n{k} AS (
      SELECT SQRT(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS z FROM w{k}
    ), v{k} AS (
      SELECT pos, w / n{k}.z AS x FROM w{k} CROSS JOIN n{k}
    )"""
    layers = "".join(mv.format(k=k, p=k - 1) for k in range(1, _PI_ITERS + 1))
    return f"""
    WITH u AS (
      SELECT vec_id, generate_subscripts(c, 1) - 1 AS pos, unnest(c) AS v
      FROM (SELECT vec_id, {_CODE_SQL} AS c FROM embeddings)
    ), gram AS (
      SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS gram
      FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.pos <= b.pos
      GROUP BY i, j
    ), gf AS (
      SELECT i, j, gram FROM gram
      UNION ALL
      SELECT j, i, gram FROM gram WHERE i < j
    ), v0 AS (
      SELECT DISTINCT i AS pos, 1.0 AS x FROM gf
    ){layers}
    SELECT pos, {sql_trunc6('x')} AS pc1_loading
    FROM v{_PI_ITERS} ORDER BY pos
    """


@_q(
    "v_pca_power",
    _pca_oracle(),
    doc="top principal direction via 3 relational power-iteration rounds "
    "on the distributed Gram (one corpus pass; loadings hash-checked)",
)
def v_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    gram = e_gram_matrix(spark, sf_dir)  # (i, j, gram) upper triangle
    gf = gram.unionByName(
        gram.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "gram"
        )
    ).coalesce(1)  # dim^2 rows (~4k): one partition keeps the
    # 3 iteration matvecs out of 64-task shuffle territory
    gf = gf.persist()
    v = gf.select(F.col("i").alias("pos")).distinct().withColumn("x", F.lit(1.0))
    dec = "decimal(38,12)"
    for _ in range(_PI_ITERS):
        w = (
            gf.join(v.withColumnRenamed("pos", "j"), "j")
            .groupBy(F.col("i").alias("pos"))
            .agg(F.sum((F.col("gram") * F.col("x")).cast(dec)).cast("double").alias("w"))
        )
        z = w.agg(
            F.sqrt(F.sum((F.col("w") * F.col("w")).cast(dec)).cast("double")).alias("z")
        )
        v = w.crossJoin(F.broadcast(z)).select(
            "pos", (F.col("w") / F.col("z")).alias("x")
        )
    out = v.select("pos", trunc6(F.col("x")).alias("pc1_loading")).orderBy("pos")
    return checkpoint_release(out, [gf])


# --------------------------------------------------------------------------
# 1-bit binary-quantization ANN (sign-bit signatures + Hamming
# candidate generation + exact-cosine rerank) — the third point on the
# repo's compression-vs-recall curve after int8 SQ (e_sq_knn, 8x) and
# PQ-ADC (e_pq_knn, 32x): BQ stores ONE BIT per dimension (64x smaller
# than float64; the 64-dim corpus signature is exactly two bigint
# words), Hamming distance is two XOR+popcount instructions per
# candidate, and the float vectors are touched only for the C
# re-ranked survivors per query. At 100 TB the signature table is
# 16 B/vector — memory-resident where even the PQ code table may spill
# — and candidate generation is a broadcast-queries map-side pass with
# per-query top-C, no shuffle of the corpus. The packing (2^j powers,
# exact in double), Hamming counts, and int-only output make the whole
# ranking hash-checked cross-engine.
_BQ_C = 30  # Hamming candidates per query before exact rerank

_BQ_W0 = "CAST(list_sum([CASE WHEN {v}[x+1] > 0 THEN 2**x ELSE 0 END FOR x IN range(0,32)]) AS BIGINT)"
_BQ_W1 = "CAST(list_sum([CASE WHEN {v}[x+33] > 0 THEN 2**x ELSE 0 END FOR x IN range(0,32)]) AS BIGINT)"
_BQ_COS = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _bq_word(col, off: int):
    """Σ_{j=0..31} [col[j+off] > 0]·2^j as bigint (2^j exact in double)."""
    return (
        F.aggregate(
            F.sequence(F.lit(0), F.lit(31)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.when(
                F.element_at(col, j + F.lit(off + 1)) > 0, F.pow(F.lit(2.0), j)
            ).otherwise(F.lit(0.0)),
        )
    ).cast("bigint")


def _bq_hamming(a0, a1, b0, b1):
    return F.bit_count(a0.bitwiseXOR(b0)) + F.bit_count(a1.bitwiseXOR(b1))


@_q(
    "v_bq_knn",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
             {_BQ_W0.format(v='embedding')} AS q0, {_BQ_W1.format(v='embedding')} AS q1
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
             {_BQ_W0.format(v='embedding')} AS c0, {_BQ_W1.format(v='embedding')} AS c1
      FROM embeddings WHERE vec_id >= 10
    ), ham AS (
      SELECT qid, cid,
             bit_count(xor(q0, c0)) + bit_count(xor(q1, c1)) AS ham
      FROM q, c
    ), cand AS (
      SELECT qid, cid, ham FROM (
        SELECT qid, cid, ham,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, cid) AS rn
        FROM ham)
      WHERE rn <= {_BQ_C}
    ), rr AS (
      SELECT cand.qid, cand.cid, cand.ham,
             {_BQ_COS.format(a='q.qv', b='c.cv')} AS cos
      FROM cand JOIN q ON q.qid = cand.qid JOIN c ON c.cid = cand.cid
    )
    SELECT qid, rk, cid AS neighbor_id, ham FROM (
      SELECT qid, cid, ham,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      FROM rr)
    WHERE rk <= 5 ORDER BY qid, rk
    """,
    doc="1-bit binary-quantization ANN: sign-bit signatures (two bigint "
    "words), Hamming top-C candidates, exact-cosine rerank to top-5",
)
def v_bq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    emb = F.col("embedding")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        to_double(emb).alias("qv"),
        l2_norm(emb).alias("qn"),
        _bq_word(emb, 0).alias("q0"),
        _bq_word(emb, 32).alias("q1"),
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"),
        to_double(emb).alias("cv"),
        l2_norm(emb).alias("cn"),
        _bq_word(emb, 0).alias("c0"),
        _bq_word(emb, 32).alias("c1"),
    )
    # candidate stage reads ONLY the signature words (column pruning
    # keeps the float vectors out of the scan)
    ham = c.select("cid", "c0", "c1").crossJoin(
        F.broadcast(q.select("qid", "q0", "q1"))
    ).select(
        "qid",
        "cid",
        _bq_hamming(F.col("q0"), F.col("q1"), F.col("c0"), F.col("c1")).alias("ham"),
    )
    wc = Window.partitionBy("qid").orderBy("ham", "cid")
    cand = ham.withColumn("rn", F.row_number().over(wc)).filter(F.col("rn") <= _BQ_C)
    rr = (
        cand.select("qid", "cid", "ham")
        .join(F.broadcast(q.select("qid", "qv", "qn")), "qid")
        .join(c.select("cid", "cv", "cn"), "cid")
        .select(
            "qid",
            "cid",
            "ham",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        rr.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 5)
        .select("qid", "rk", F.col("cid").alias("neighbor_id"), "ham")
        .orderBy("qid", "rk")
    )


@_q(
    "v_bq_recall",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
             {_BQ_W0.format(v='embedding')} AS q0, {_BQ_W1.format(v='embedding')} AS q1
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
             {_BQ_W0.format(v='embedding')} AS c0, {_BQ_W1.format(v='embedding')} AS c1
      FROM embeddings WHERE vec_id >= 10
    ), exact_top AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {_BQ_COS.format(a='q.qv', b='c.cv')} DESC, c.cid) AS rk
        FROM q, c)
      WHERE rk <= 5
    ), cand AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                 bit_count(xor(q0, c0)) + bit_count(xor(q1, c1)), cid) AS rn
        FROM q, c)
      WHERE rn <= {_BQ_C}
    ), bq_top AS (
      SELECT qid, cid FROM (
        SELECT cand.qid, cand.cid,
               ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
                 {_BQ_COS.format(a='q.qv', b='c.cv')} DESC, cand.cid) AS rk
        FROM cand JOIN q ON q.qid = cand.qid JOIN c ON c.cid = cand.cid)
      WHERE rk <= 5
    )
    SELECT e.qid,
           COUNT(*) AS k_exact,
           CAST(SUM(CASE WHEN b.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered
    FROM exact_top e LEFT JOIN bq_top b ON b.qid = e.qid AND b.cid = e.cid
    GROUP BY e.qid ORDER BY e.qid
    """,
    doc="BQ ANN realized-recall audit vs exact top-5 (every "
    "approximate index ships its audit)",
)
def v_bq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vecpipe import e_knn_bruteforce

    exact = e_knn_bruteforce(spark, sf_dir).select(
        "qid", F.col("neighbor_id").alias("cid")
    )
    bq = v_bq_knn(spark, sf_dir).select("qid", F.col("neighbor_id").alias("bcid"))
    return (
        exact.join(
            bq, (exact["qid"] == bq["qid"]) & (F.col("cid") == F.col("bcid")), "left"
        )
        .select(exact["qid"].alias("q"), "cid", "bcid")
        .groupBy(F.col("q").alias("qid"))
        .agg(
            F.count(F.lit(1)).alias("k_exact"),
            F.sum(F.col("bcid").isNotNull().cast("int")).cast("bigint").alias("n_recovered"),
        )
        .orderBy("qid")
    )


# --------------------------------------------------------------------------
# IVF index maintenance — the at-scale story for a LIVE vector index:
# an arriving batch is assigned to the EXISTING centroids map-side
# (broadcast centroid table; the base corpus is never re-read, the
# index table is append-only), and a per-bucket drift audit decides
# when a recluster is actually warranted — the trigger most pipelines
# hand-wave. Completes the incremental-maintenance triad with
# d_incremental_dedup (dedup index) and q_ivm_merge_proof (aggregate
# view): dedup/agg/ANN all maintain state by appending, never by
# recomputing. A bucket is flagged when the new batch's share of it is
# more than 3x the batch's overall share (integer cross-multiplication
# — no float ratio, hash-proof).
_IVF_INC_COS = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@_q(
    "v_ivf_incremental",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev, label FROM embeddings WHERE vec_id >= 100
    ), batch AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE vec_id >= 10 AND vec_id < 100
    ), dims AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings WHERE vec_id >= 100
    ), cm AS (
      SELECT label, pos, CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS m
      FROM dims GROUP BY label, pos
    ), cent AS (
      SELECT label AS bucket, list(m ORDER BY pos) AS cv FROM cm GROUP BY label
    ), a_base AS (
      SELECT vec_id, bucket FROM (
        SELECT b.vec_id, ct.bucket,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 {_IVF_INC_COS.format(a='b.ev', b='ct.cv')} DESC, ct.bucket) AS rn
        FROM base b CROSS JOIN cent ct)
      WHERE rn = 1
    ), a_new AS (
      SELECT vec_id, bucket FROM (
        SELECT b.vec_id, ct.bucket,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 {_IVF_INC_COS.format(a='b.ev', b='ct.cv')} DESC, ct.bucket) AS rn
        FROM batch b CROSS JOIN cent ct)
      WHERE rn = 1
    ), per AS (
      SELECT ct.bucket,
             (SELECT COUNT(*) FROM a_base ab WHERE ab.bucket = ct.bucket) AS n_base,
             (SELECT COUNT(*) FROM a_new an WHERE an.bucket = ct.bucket) AS n_new
      FROM cent ct
    ), tot AS (
      SELECT SUM(n_base) AS tb, SUM(n_new) AS tn FROM per
    )
    SELECT p.bucket,
           CAST(p.n_base AS BIGINT) AS n_base,
           CAST(p.n_new AS BIGINT) AS n_new,
           CAST(p.n_base + p.n_new AS BIGINT) AS n_total,
           (p.n_new * t.tb > 3 * p.n_base * t.tn) AS recluster_flag
    FROM per p CROSS JOIN tot t
    ORDER BY p.bucket
    """,
    doc="IVF index maintenance: map-side assignment of an arriving batch "
    "to existing centroids (append-only index) + integer-exact per-"
    "bucket drift audit deciding when to recluster",
)
def v_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import assign_buckets, label_centroids

    e = load_tables(spark, sf_dir)["embeddings"]
    base = e.filter(F.col("vec_id") >= 100)
    batch = e.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 100))
    cent = label_centroids(base)
    ab = assign_buckets(base, cent).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_base")
    )
    an = assign_buckets(batch, cent).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    per = (
        cent.select("bucket")
        .join(ab, "bucket", "left")
        .join(an, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("n_base"), F.lit(0)).alias("n_base"),
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
        )
    )
    tot = per.agg(
        F.sum("n_base").alias("tb"), F.sum("n_new").alias("tn")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.col("n_base").cast("bigint").alias("n_base"),
            F.col("n_new").cast("bigint").alias("n_new"),
            (F.col("n_base") + F.col("n_new")).cast("bigint").alias("n_total"),
            (F.col("n_new") * F.col("tb") > 3 * F.col("n_base") * F.col("tn")).alias(
                "recluster_flag"
            ),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Matryoshka truncated-dimension retrieval (Kusupati et al. '22 MRL /
# the "shortening embeddings" API pattern) — the fourth point on the
# compression-vs-recall curve after int8 SQ (8x), PQ-ADC (32x) and
# 1-bit BQ (64x): candidate generation scores only the FIRST HALF of
# each vector (2x less arithmetic and, with the prefix stored as its
# own column, 2x less I/O — MRL-trained embeddings front-load
# information precisely so prefixes rank well), then the full vector
# reranks the C survivors. Here the prefix is materialized as a
# separate projected column, which is what you would persist at 100 TB
# so the candidate scan never reads the tail dims; candidate scoring is
# a broadcast-queries map-side pass, per-query top-C, no corpus
# shuffle.
_TR_P = 32  # prefix dims scored in the candidate pass (of 64)
_TR_C = 30  # candidates per query before full-dim rerank
_TR_COS = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _tr_prefix(col):
    return F.slice(to_double(col), 1, _TR_P)


@_q(
    "v_trunc_knn",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
             (embedding::DOUBLE[])[1:{_TR_P}] AS qp
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
             (embedding::DOUBLE[])[1:{_TR_P}] AS cp
      FROM embeddings WHERE vec_id >= 10
    ), cand AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                 {_TR_COS.format(a='qp', b='cp')} DESC, cid) AS rn
        FROM q, c)
      WHERE rn <= {_TR_C}
    ), rr AS (
      SELECT cand.qid, cand.cid,
             {_TR_COS.format(a='q.qv', b='c.cv')} AS cos
      FROM cand JOIN q ON q.qid = cand.qid JOIN c ON c.cid = cand.cid
    )
    SELECT qid, rk, cid AS neighbor_id,
           FLOOR(cos * 1000000.0) / 1000000.0 AS cos
    FROM (
      SELECT qid, cid, cos,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      FROM rr)
    WHERE rk <= 5 ORDER BY qid, rk
    """,
    doc="Matryoshka truncated-dim ANN: first-32-of-64-dim candidate "
    "scoring (separate prefix column = half the I/O), full-dim rerank",
)
def v_trunc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    emb = F.col("embedding")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        to_double(emb).alias("qv"),
        _tr_prefix(emb).alias("qp"),
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"),
        to_double(emb).alias("cv"),
        _tr_prefix(emb).alias("cp"),
    )
    # candidate stage touches only the prefix columns
    pc = c.select("cid", "cp").crossJoin(F.broadcast(q.select("qid", "qp"))).select(
        "qid",
        "cid",
        (dot(F.col("qp"), F.col("cp")) / (l2_norm(F.col("qp")) * l2_norm(F.col("cp")))).alias(
            "pcos"
        ),
    )
    wc = Window.partitionBy("qid").orderBy(F.col("pcos").desc(), "cid")
    cand = pc.withColumn("rn", F.row_number().over(wc)).filter(F.col("rn") <= _TR_C)
    rr = (
        cand.select("qid", "cid")
        .join(F.broadcast(q.select("qid", "qv")), "qid")
        .join(c.select("cid", "cv"), "cid")
        .select(
            "qid",
            "cid",
            (dot(F.col("qv"), F.col("cv")) / (l2_norm(F.col("qv")) * l2_norm(F.col("cv")))).alias(
                "cos"
            ),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        rr.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 5)
        .select("qid", "rk", F.col("cid").alias("neighbor_id"), trunc6(F.col("cos")).alias("cos"))
        .orderBy("qid", "rk")
    )


@_q(
    "v_trunc_recall",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
             (embedding::DOUBLE[])[1:{_TR_P}] AS qp
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
             (embedding::DOUBLE[])[1:{_TR_P}] AS cp
      FROM embeddings WHERE vec_id >= 10
    ), exact_top AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {_TR_COS.format(a='q.qv', b='c.cv')} DESC, c.cid) AS rk
        FROM q, c)
      WHERE rk <= 5
    ), cand AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                 {_TR_COS.format(a='qp', b='cp')} DESC, cid) AS rn
        FROM q, c)
      WHERE rn <= {_TR_C}
    ), tr_top AS (
      SELECT qid, cid FROM (
        SELECT cand.qid, cand.cid,
               ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
                 {_TR_COS.format(a='q.qv', b='c.cv')} DESC, cand.cid) AS rk
        FROM cand JOIN q ON q.qid = cand.qid JOIN c ON c.cid = cand.cid)
      WHERE rk <= 5
    )
    SELECT e.qid,
           COUNT(*) AS k_exact,
           CAST(SUM(CASE WHEN b.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered
    FROM exact_top e LEFT JOIN tr_top b ON b.qid = e.qid AND b.cid = e.cid
    GROUP BY e.qid ORDER BY e.qid
    """,
    doc="truncated-dim ANN realized-recall audit vs exact top-5 (every "
    "approximate index ships its audit). Measured 0.66 recall@5 here: "
    "the synthetic corpus is isotropic, so prefixes carry only half the "
    "signal — exactly what this audit exists to catch (MRL-trained "
    "embeddings front-load and sit near 0.9+ at half dims)",
)
def v_trunc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vecpipe import e_knn_bruteforce

    exact = e_knn_bruteforce(spark, sf_dir).select(
        "qid", F.col("neighbor_id").alias("cid")
    )
    tr = v_trunc_knn(spark, sf_dir).select("qid", F.col("neighbor_id").alias("tcid"))
    return (
        exact.join(
            tr, (exact["qid"] == tr["qid"]) & (F.col("cid") == F.col("tcid")), "left"
        )
        .select(exact["qid"].alias("q"), "cid", "tcid")
        .groupBy(F.col("q").alias("qid"))
        .agg(
            F.count(F.lit(1)).alias("k_exact"),
            F.sum(F.col("tcid").isNotNull().cast("int")).cast("bigint").alias("n_recovered"),
        )
        .orderBy("qid")
    )


# --------------------------------------------------------------------------
# NDCG@5 retrieval-quality audit — recall says WHETHER the right items
# came back; NDCG says whether they came back in the right ORDER (the
# metric retrieval evals actually report). Gold = exact-cosine top-5
# (graded relevance 6−gold_rank = 5..1), system = the truncated-dim
# rerank ranking; DCG = Σ rel·ln2/ln(pos+1) with the per-row
# floor(v·1e6) BIGINT quantizer (engine-exact sums — the r6 IRLS
# lesson), NDCG = DCG/IDCG. Both rankings' row_number orderings are
# already hash-verified by v_trunc_knn / e_knn_bruteforce, so the rank
# values feeding the gains are deterministic. NDCG is clamped with
# LEAST(·, 1.0): the per-term floor quantization can make floor-sum(DCG)
# exceed floor-sum(IDCG) by up to ~5e-6 when the system ranking nearly
# ties gold, so without the clamp the metric's [0,1] bound could be
# violated in the 6th decimal. Scale shape: two
# panel-bounded kNN outputs joined on (qid, cid) — nothing corpus-keyed
# past the kNN stages themselves.
_NDCG_QUANT = (
    "CAST(SUM(CAST(FLOOR(((CAST(rel AS DOUBLE) * LN(CAST(2 AS DOUBLE)))"
    " / LN(CAST(pos + 1 AS DOUBLE))) * 1000000) AS BIGINT)) AS DOUBLE)"
    " / 1000000.0"
)


@_q(
    "v_ndcg_audit",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
             (embedding::DOUBLE[])[1:{_TR_P}] AS qp
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
             (embedding::DOUBLE[])[1:{_TR_P}] AS cp
      FROM embeddings WHERE vec_id >= 10
    ), exact_top AS (
      SELECT qid, cid, rk FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {_TR_COS.format(a='q.qv', b='c.cv')} DESC, c.cid) AS rk
        FROM q, c)
      WHERE rk <= 5
    ), cand AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                 {_TR_COS.format(a='qp', b='cp')} DESC, cid) AS rn
        FROM q, c)
      WHERE rn <= {_TR_C}
    ), tr_top AS (
      SELECT qid, cid, rk FROM (
        SELECT cand.qid, cand.cid,
               ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
                 {_TR_COS.format(a='q.qv', b='c.cv')} DESC, cand.cid) AS rk
        FROM cand JOIN q ON q.qid = cand.qid JOIN c ON c.cid = cand.cid)
      WHERE rk <= 5
    ), rels AS (
      SELECT t.qid, t.rk AS pos, COALESCE(6 - e.rk, 0) AS rel
      FROM tr_top t LEFT JOIN exact_top e ON e.qid = t.qid AND e.cid = t.cid
    ), dcg AS (
      SELECT qid, {_NDCG_QUANT} AS dcg,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM rels GROUP BY qid
    ), idcg AS (
      SELECT qid, {_NDCG_QUANT} AS idcg
      FROM (SELECT qid, rk AS pos, 6 - rk AS rel FROM exact_top)
      GROUP BY qid
    )
    SELECT d.qid, d.n_hits,
           {sql_trunc6('LEAST(d.dcg / i.idcg, 1.0)')} AS ndcg
    FROM dcg d JOIN idcg i ON i.qid = d.qid
    ORDER BY d.qid
    """,
    doc="NDCG@5 of the truncated-dim ANN ranking vs exact-cosine gold "
    "(graded relevance 6-gold_rank): rank-aware retrieval quality, the "
    "companion to the set-based recall audits",
)
def v_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vecpipe import e_knn_bruteforce

    gold = e_knn_bruteforce(spark, sf_dir).select(
        "qid", F.col("neighbor_id").alias("cid"), F.col("rk").alias("grank")
    )
    sysr = v_trunc_knn(spark, sf_dir).select(
        "qid", F.col("neighbor_id").alias("cid"), F.col("rk").alias("pos")
    )

    def _qterm(rel, pos):
        term = (
            rel.cast("double")
            * F.log(F.lit(2.0))
            / F.log((pos + F.lit(1)).cast("double"))
        )
        return F.floor(term * F.lit(1000000)).cast("bigint")

    rels = sysr.join(gold, ["qid", "cid"], "left").select(
        "qid",
        "pos",
        F.coalesce(F.lit(6) - F.col("grank"), F.lit(0)).alias("rel"),
    )
    dcg = rels.groupBy("qid").agg(
        (F.sum(_qterm(F.col("rel"), F.col("pos"))).cast("double") / F.lit(1000000.0)).alias("dcg"),
        F.sum((F.col("rel") > 0).cast("int")).cast("bigint").alias("n_hits"),
    )
    idcg = gold.groupBy("qid").agg(
        (
            F.sum(_qterm(F.lit(6) - F.col("grank"), F.col("grank"))).cast("double")
            / F.lit(1000000.0)
        ).alias("idcg")
    )
    return (
        dcg.join(idcg, "qid")
        .select(
            "qid",
            "n_hits",
            trunc6(F.least(F.col("dcg") / F.col("idcg"), F.lit(1.0))).alias("ndcg"),
        )
        .orderBy("qid")
    )


# --------------------------------------------------------------------------
# kNN label-noise screen (Wilson-editing / "confident-learning-lite")
# — the labeled-data curation op: for a deterministic 10% probe panel,
# find each probe's top-5 nearest corpus vectors (fixed-point integer
# dot product — the e_knn_lsh scoring convention, hash-proof) and
# count how many neighbors SHARE the probe's label. Per-label output:
# probe count, total neighbor agreement, and the number of flagged
# probes (≤1 of 5 neighbors agree) — the candidates a labeling-QA pass
# re-annotates. On this corpus labels are independent of the isotropic
# embeddings, so agreement sits near chance (~0.1·5) and most probes
# flag — the mechanism, not the corpus, is what's verified.
# Scale: the corpus side streams map-side with per-probe top-k heaps
# against a broadcast panel. CAVEAT — this variant's panel is a 10%
# FRACTION of the corpus, so the probes×corpus pair mass grows
# ~quadratically with data (measured 6.0× wall at 10× data, SCALE.md);
# it is kept for the small-panel audit shape only. The production
# shape is `v_label_noise_panel` below: a FIXED-size hash-ranked
# panel, constant probe count at any corpus size → linear scaling.


def _label_noise_sql(panel_clause: str) -> str:
    """Shared duckdb oracle for the label-noise screens; only the probe
    panel definition differs between the fraction and fixed variants."""
    return f"""
    WITH c AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[], x -> CAST(FLOOR(x * 1000.0) AS BIGINT)) AS cc
      FROM embeddings
    ), p AS (
      {panel_clause}
    ), s AS (
      SELECT p.pid, p.plabel, c.label AS clabel, c.vec_id AS cid,
             CAST(list_dot_product(p.pc, c.cc) AS BIGINT) AS score
      FROM p JOIN c ON c.vec_id <> p.pid
    ), top AS (
      SELECT pid, plabel, clabel FROM (
        SELECT pid, plabel, clabel,
               ROW_NUMBER() OVER (PARTITION BY pid ORDER BY score DESC, cid) AS rn
        FROM s)
      WHERE rn <= 5
    ), agr AS (
      SELECT pid, plabel,
             SUM(CASE WHEN clabel = plabel THEN 1 ELSE 0 END) AS n_agree
      FROM top GROUP BY pid, plabel
    )
    SELECT plabel AS label, COUNT(*) AS n_probes,
           CAST(SUM(n_agree) AS BIGINT) AS total_agree,
           CAST(SUM(CASE WHEN n_agree <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM agr GROUP BY plabel ORDER BY label
    """


def _label_noise_score(c: DataFrame, p: DataFrame) -> DataFrame:
    """Score a broadcast probe panel against the coded corpus: top-5
    integer-dot neighbors per probe, per-label agreement + flag counts."""
    s = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            "plabel",
            F.col("label").alias("clabel"),
            F.col("vec_id").alias("cid"),
            F.aggregate(
                F.zip_with(F.col("pc"), F.col("cc"), lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("pid").orderBy(F.col("score").desc(), "cid")
    top = s.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    agr = top.groupBy("pid", "plabel").agg(
        F.sum((F.col("clabel") == F.col("plabel")).cast("int")).alias("n_agree")
    )
    return (
        agr.groupBy(F.col("plabel").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("n_agree").cast("bigint").alias("total_agree"),
            F.sum((F.col("n_agree") <= 1).cast("int")).cast("bigint").alias("n_flagged"),
        )
        .orderBy("label")
    )


def _coded_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import int_code

    e = load_tables(spark, sf_dir)["embeddings"]
    return e.select(
        "vec_id", "label", int_code(to_double(F.col("embedding"))).alias("cc")
    )


@_q(
    "v_label_noise",
    _label_noise_sql(
        "SELECT vec_id AS pid, label AS plabel, cc AS pc FROM c WHERE vec_id % 10 = 0"
    ),
    doc="kNN label-noise screen: 10% probe panel, top-5 integer-dot "
    "neighbors, per-label agreement + flagged-for-reannotation counts",
)
def v_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _coded_embeddings(spark, sf_dir)
    p = c.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("pid"),
        F.col("label").alias("plabel"),
        F.col("cc").alias("pc"),
    )
    return _label_noise_score(c, p)


# Fixed-size-panel variant — the at-scale parameterization (VERDICT r5
# ask #1): the panel is the _PANEL_N vectors with the SMALLEST md5 hash
# of their id (ties by id) — a deterministic "first N by hashed id"
# sample whose size is CONSTANT in corpus size, so probes×corpus is
# linear in the data. Spark executes the panel pick as a
# TakeOrderedAndProject (per-partition top-N, driver merge of N·parts
# rows — never a global sort); the corpus side is one broadcast-panel
# map pass, identical to v_label_noise.
_PANEL_N = 64


@_q(
    "v_label_noise_panel",
    _label_noise_sql(
        f"""SELECT vec_id AS pid, label AS plabel, cc AS pc FROM c
      ORDER BY {md5_long_sql("CAST(vec_id AS VARCHAR)")}, vec_id
      LIMIT {_PANEL_N}"""
    ),
    doc=f"kNN label-noise screen, fixed {_PANEL_N}-probe hash-ranked panel "
    "(constant probe count at any corpus size — the linear-scale shape)",
)
def v_label_noise_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    c = _coded_embeddings(spark, sf_dir)
    p = (
        c.withColumn("h", md5_long(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(_PANEL_N)
        .select(
            F.col("vec_id").alias("pid"),
            F.col("label").alias("plabel"),
            F.col("cc").alias("pc"),
        )
    )
    return _label_noise_score(c, p)


# --------------------------------------------------------------------------
# Grid DBSCAN — density-based clustering beyond k-means (the cell/grid
# family: GriT-DBSCAN, NG-DBSCAN; ε ≈ cell size): bucket the 2-D
# embedding projection into g=0.05 cells, mark cells with ≥5 points
# CORE, union-find the 8-neighborhood core-cell graph into clusters
# (the repo's pointer-jumping `connected_components`), then assign
# non-core ("border") points to the min-labeled adjacent core cluster
# and everything else to noise. Deterministic end-to-end: cell ids are
# integer-encoded coordinates, the cluster label is the min reachable
# cell id (same fixpoint the recursive-CTE oracle computes).
# Scale: points → cells is one map-side bucketing + cell-keyed count;
# core-cell adjacency is an OFFSET-EXPLODE equi-join (9 shifted keys
# per cell — never an all-pairs distance join, the entire point of the
# grid family); CC is O(log diameter) rounds on the CELL graph
# (cells ≪ points); border assignment is another shifted-key join.
_DB_G = "0.05"  # cell size (shared literal text → identical doubles)
_DB_MINPTS = 5
_DB_OFF = 64  # coordinate offset for non-negative cell encoding


def _db_cid_sql(cx: str, cy: str) -> str:
    return f"(({cx}) + {_DB_OFF}) * 1000 + (({cy}) + {_DB_OFF})"


@_q(
    "v_grid_dbscan",
    f"""
    WITH RECURSIVE p AS (
      SELECT vec_id,
             CAST(FLOOR(embedding[1] / {_DB_G}) AS BIGINT) AS cx,
             CAST(FLOOR(embedding[2] / {_DB_G}) AS BIGINT) AS cy
      FROM embeddings
    ), cells AS (
      SELECT cx, cy, {_db_cid_sql('cx', 'cy')} AS cid, COUNT(*) AS cnt
      FROM p GROUP BY cx, cy
    ), core AS (
      SELECT * FROM cells WHERE cnt >= {_DB_MINPTS}
    ), e0 AS (
      SELECT a.cid AS u, b.cid AS v
      FROM core a JOIN core b
        ON ABS(a.cx - b.cx) <= 1 AND ABS(a.cy - b.cy) <= 1 AND a.cid < b.cid
    ), edges AS (
      SELECT u, v FROM e0 UNION SELECT v, u FROM e0
    ), reach AS (
      SELECT u AS node, v AS r FROM edges
      UNION
      SELECT e.u, r.r FROM edges e JOIN reach r ON e.v = r.node
    ), comp0 AS (
      SELECT node, LEAST(node, MIN(r)) AS component FROM reach GROUP BY node
    ), comp AS (
      SELECT core.cid AS node, COALESCE(comp0.component, core.cid) AS component
      FROM core LEFT JOIN comp0 ON comp0.node = core.cid
    ), border AS (
      SELECT nc.cid, nc.cnt, MIN(cm.component) AS component
      FROM (SELECT * FROM cells WHERE cnt < {_DB_MINPTS}) nc
      JOIN core c ON ABS(nc.cx - c.cx) <= 1 AND ABS(nc.cy - c.cy) <= 1
      JOIN comp cm ON cm.node = c.cid
      GROUP BY nc.cid, nc.cnt
    ), clusters AS (
      SELECT cm.component,
             COUNT(*) AS n_core_cells,
             CAST(SUM(core.cnt) AS BIGINT) AS n_core_pts
      FROM core JOIN comp cm ON cm.node = core.cid
      GROUP BY cm.component
    ), borders AS (
      SELECT component, CAST(SUM(cnt) AS BIGINT) AS n_border_pts
      FROM border GROUP BY component
    ), noise AS (
      SELECT CAST(-1 AS BIGINT) AS component, CAST(0 AS BIGINT) AS n_core_cells,
             CAST(0 AS BIGINT) AS n_core_pts,
             CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_border_pts
      FROM cells WHERE cnt < {_DB_MINPTS}
        AND cid NOT IN (SELECT cid FROM border)
    )
    SELECT component, n_core_cells, n_core_pts,
           COALESCE(b.n_border_pts, 0) AS n_border_pts
    FROM clusters c LEFT JOIN borders b USING (component)
    UNION ALL
    SELECT * FROM noise
    ORDER BY component
    """,
    doc="grid DBSCAN (cell family, eps≈g): core cells ≥5 pts, "
    "8-neighborhood CC clusters, border assignment, noise row",
)
def v_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components

    e = load_tables(spark, sf_dir)["embeddings"]
    g = float(_DB_G)
    p = e.select(
        F.floor(F.element_at("embedding", 1).cast("double") / F.lit(g))
        .cast("bigint")
        .alias("cx"),
        F.floor(F.element_at("embedding", 2).cast("double") / F.lit(g))
        .cast("bigint")
        .alias("cy"),
    )
    cid = (F.col("cx") + _DB_OFF) * 1000 + (F.col("cy") + _DB_OFF)
    cells = (
        p.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("cid", cid)
    )
    # feeds core/border/noise consumers
    cells = cells.persist()
    core = cells.filter(F.col("cnt") >= _DB_MINPTS)
    # offset-explode adjacency: each core cell emits its 9 shifted keys,
    # an equi-join on the shifted key finds neighbors — never a distance
    # cross join (the scale-true grid formulation; the tiny oracle uses
    # the brute ABS join, same relation)
    offs = F.expr(
        "flatten(transform(sequence(-1, 1), dx ->"
        " transform(sequence(-1, 1), dy -> struct(dx, dy))))"
    )
    shifted = core.select(
        F.col("cid").alias("u"), F.explode(offs).alias("o"), "cx", "cy"
    ).select(
        "u",
        ((F.col("cx") + F.col("o.dx") + _DB_OFF) * 1000 + (F.col("cy") + F.col("o.dy") + _DB_OFF)).alias(
            "nkey"
        ),
    )
    e0 = (
        shifted.join(
            core.select(F.col("cid").alias("v")), F.col("nkey") == F.col("v")
        )
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    comp0 = connected_components(e0, src="u", dst="v")
    comp = core.select("cid").join(
        comp0, core["cid"] == comp0["node"], "left"
    ).select(
        F.col("cid").alias("node"),
        F.coalesce(F.col("component"), F.col("cid")).alias("component"),
    )
    nc = cells.filter(F.col("cnt") < _DB_MINPTS)
    nc_shift = nc.select(
        F.col("cid"), F.col("cnt"), F.explode(offs).alias("o"), "cx", "cy"
    ).select(
        "cid",
        "cnt",
        ((F.col("cx") + F.col("o.dx") + _DB_OFF) * 1000 + (F.col("cy") + F.col("o.dy") + _DB_OFF)).alias(
            "nkey"
        ),
    )
    border = (
        nc_shift.join(F.broadcast(comp), F.col("nkey") == F.col("node"))
        .groupBy("cid", "cnt")
        .agg(F.min("component").alias("component"))
    )
    clusters = (
        core.join(F.broadcast(comp), core["cid"] == comp["node"])
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_core_cells"),
            F.sum("cnt").cast("bigint").alias("n_core_pts"),
        )
    )
    borders = border.groupBy("component").agg(
        F.sum("cnt").cast("bigint").alias("n_border_pts")
    )
    noise = (
        nc.join(border.select(F.col("cid").alias("bcid")), nc["cid"] == F.col("bcid"), "left_anti")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n_border_pts"))
        .select(
            F.lit(-1).cast("bigint").alias("component"),
            F.lit(0).cast("bigint").alias("n_core_cells"),
            F.lit(0).cast("bigint").alias("n_core_pts"),
            "n_border_pts",
        )
    )
    out = (
        clusters.join(borders, "component", "left")
        .select(
            "component",
            "n_core_cells",
            "n_core_pts",
            F.coalesce(F.col("n_border_pts"), F.lit(0)).alias("n_border_pts"),
        )
        .unionByName(noise)
        .orderBy("component")
    )
    # cluster-cardinality output — eager-materialize, release the cell cache
    return checkpoint_release(out, [cells])


# --------------------------------------------------------------------------
# IVF nprobe sweep — the ANN TUNING table (the knob every IVF
# deployment turns first): recall@5 vs number of probed buckets for
# nprobe ∈ {1, 2, 4}, against the exact brute-force top-5. The probe
# ranking over the 10 centroids is computed ONCE; each sweep point
# filters that ranked relation (rn ≤ nprobe), re-ranks its candidate
# set and measures recovery — so the sweep costs probes×corpus work
# per point but never recomputes assignment or centroids (the oracle
# shares the same `pr` relation). At 100 TB this is the table that
# decides the latency/recall operating point before the index ships.
_NPROBE_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)
_NPROBE_PTS = (1, 2, 4)


def _nprobe_sweep_oracle() -> str:
    blocks, selects = [], []
    for np_ in _NPROBE_PTS:
        blocks.append(
            f""", cand{np_} AS (
      SELECT p.qid, a.vec_id AS cid, {_NPROBE_COS.format(a='p.qv', b='a.ev')} AS cos
      FROM (SELECT qid, qv, bucket FROM pr WHERE rn <= {np_}) p
      JOIN assign a ON a.bucket = p.bucket
    ), top{np_} AS (
      SELECT qid, cid FROM (
        SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        FROM cand{np_})
      WHERE rk <= 5
    ), r{np_} AS (
      SELECT CAST({np_} AS BIGINT) AS nprobe,
             CAST(COUNT(DISTINCT e.qid) AS BIGINT) AS n_queries,
             COUNT(*) AS n_exact,
             CAST(SUM(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
             FLOOR(CAST(SUM(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) * 1000000.0) / 1000000.0 AS recall
      FROM exact_top e LEFT JOIN top{np_} t ON t.qid = e.qid AND t.cid = e.cid
    )"""
        )
        selects.append(f"SELECT * FROM r{np_}")
    return (
        f"""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev, label FROM embeddings WHERE vec_id >= 10
    ), q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
    ), exact_s AS (
      SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        {_NPROBE_COS.format(a='qv', b='ev')} DESC, cid) AS rk
      FROM q CROSS JOIN (SELECT vec_id AS cid, ev FROM corpus)
    ), exact_top AS (
      SELECT qid, cid FROM exact_s WHERE rk <= 5
    ), dims AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings WHERE vec_id >= 10
    ), cm AS (
      SELECT label, pos, CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS m
      FROM dims GROUP BY label, pos
    ), cent AS (
      SELECT label AS bucket, list(m ORDER BY pos) AS cv FROM cm GROUP BY label
    ), assign AS (
      SELECT vec_id, ev, bucket FROM (
        SELECT c.vec_id, c.ev, ct.bucket,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 {_NPROBE_COS.format(a='c.ev', b='ct.cv')} DESC, ct.bucket) AS rn
        FROM corpus c CROSS JOIN cent ct)
      WHERE rn = 1
    ), pr AS (
      SELECT q.qid, q.qv, ct.bucket,
             ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
               {_NPROBE_COS.format(a='q.qv', b='ct.cv')} DESC, ct.bucket) AS rn
      FROM q CROSS JOIN cent ct
    )"""
        + "".join(blocks)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY nprobe\n    "
    )


@_q(
    "v_nprobe_sweep",
    _nprobe_sweep_oracle(),
    doc="IVF tuning curve: recall@5 vs nprobe in {1,2,4} against exact "
    "top-5; probe ranking computed once, each sweep point filters it",
)
def v_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import assign_buckets, ivf_search, label_centroids
    from .vecpipe import e_knn_bruteforce

    e = load_tables(spark, sf_dir)["embeddings"]
    corpus = e.filter(F.col("vec_id") >= 10)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), to_double(F.col("embedding")).alias("qv")
    )
    exact = e_knn_bruteforce(spark, sf_dir).select(
        "qid", F.col("neighbor_id").alias("cid")
    )
    cent = label_centroids(corpus)
    bucketed = assign_buckets(corpus, cent)
    # OPTIMIZATION ROUND 11 NEGATIVE RESULT (kept as-is deliberately):
    # every sweep point's union branch re-executes the exact brute-force
    # top-5 and the IVF assignment (3× each in one plan). Persisting
    # both (lazy) measured 3.6-4.8 s vs 2.7-3.3 s at sf0.1, and an
    # eager-checkpoint variant was worse still (+0.4 s over the persist
    # form): the three branches are INDEPENDENT subtrees the scheduler
    # overlaps across idle cores, while the cache serializes them behind
    # one materialization and adds cache-build cost. The redundancy is
    # the price of branch parallelism here; at cluster scale the same
    # sweep would reuse a written assignment table between sweep RUNS,
    # not branches. See OPTIMIZATION_r11.md batch 3.
    parts = []
    for np_ in _NPROBE_PTS:
        approx = ivf_search(queries, bucketed, cent, nprobe=np_, k=5).select(
            "qid", F.col("neighbor_id").alias("aid")
        )
        rec = (
            exact.alias("e")
            .join(
                approx.alias("a"),
                (F.col("e.qid") == F.col("a.qid")) & (F.col("cid") == F.col("aid")),
                "left",
            )
            .agg(
                F.countDistinct("e.qid").cast("bigint").alias("n_queries"),
                F.count(F.lit(1)).alias("n_exact"),
                F.sum(F.col("aid").isNotNull().cast("int")).cast("bigint").alias(
                    "n_recovered"
                ),
            )
            .select(
                F.lit(np_).cast("bigint").alias("nprobe"),
                "n_queries",
                "n_exact",
                "n_recovered",
                trunc6(
                    F.col("n_recovered").cast("double")
                    / F.col("n_exact").cast("double")
                ).alias("recall"),
            )
        )
        parts.append(rec)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("nprobe")


# --------------------------------------------------------------------------
# Farthest-first traversal (Gonzalez '85 k-center seeding — the
# deterministic sibling of k-means++ D² sampling, and a 2-approx for
# the k-center objective): start from the lowest vec_id, then K−1
# times pick the vector maximizing its distance to the nearest chosen
# center. Distances are EXACT integers on the fixed-point codes
# (‖a−b‖² = aa − 2ab + bb over bigints), so every pick — and thus the
# whole seed set — is hash-provable, ties broken by vec_id.
# Scale: round r is one broadcast of ≤r center codes + a map-side
# min-distance pass + a TakeOrdered(1) argmax — K passes total, the
# standard seeding cost; the oracle unrolls the same K−1 picks as
# MATERIALIZED CTEs (duckdb inlines CTEs by default, which would
# re-expand each round exponentially — the q_bradley_terry lesson).
_KC_K = 8


def _kc_oracle() -> str:
    dist = (
        "CAST(list_dot_product(v.cc, v.cc) AS BIGINT)"
        " - 2 * CAST(list_dot_product(v.cc, c.cc) AS BIGINT)"
        " + CAST(list_dot_product(c.cc, c.cc) AS BIGINT)"
    )
    rounds = []
    for r in range(1, _KC_K):
        rounds.append(f"""
    , dm{r} AS MATERIALIZED (
      SELECT v.vec_id, MIN({dist}) AS d
      FROM v CROSS JOIN c{r-1} c GROUP BY v.vec_id
    ), p{r} AS MATERIALIZED (
      SELECT v.vec_id, v.cc, dm.d
      FROM v JOIN dm{r} dm ON dm.vec_id = v.vec_id
      WHERE dm.d > 0 OR NOT EXISTS (SELECT 1 FROM dm{r} WHERE d > 0)
      ORDER BY dm.d DESC, v.vec_id LIMIT 1
    ), c{r} AS MATERIALIZED (
      SELECT vec_id, cc FROM c{r-1} UNION ALL SELECT vec_id, cc FROM p{r}
    )""")
    picks = "\n      UNION ALL ".join(
        [f"SELECT CAST(0 AS BIGINT) AS round, vec_id, CAST(0 AS BIGINT) AS d2 FROM c0"]
        + [f"SELECT CAST({r} AS BIGINT), vec_id, CAST(d AS BIGINT) FROM p{r}" for r in range(1, _KC_K)]
    )
    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, {_CODE_SQL} AS cc FROM embeddings
    ), c0 AS MATERIALIZED (
      SELECT vec_id, cc FROM v WHERE vec_id = (SELECT MIN(vec_id) FROM v)
    ){''.join(rounds)}
    SELECT * FROM ({picks}) ORDER BY round
    """


@_q(
    "v_kcenter_init",
    _kc_oracle(),
    doc=f"farthest-first k-center seeding (Gonzalez '85, K={_KC_K}): "
    "exact-integer max-min-distance picks, one broadcast+scan per round",
)
def v_kcenter_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import int_code

    e = load_tables(spark, sf_dir)["embeddings"]
    # Incremental farthest-first (optimization round 11, guide §2.4):
    # round r only needs each vector's distance to the ONE new center —
    # min over the chosen set is a running least(), not a recompute.
    # The previous form crossJoined all r centers and re-aggregated
    # min per vec_id every round: K−1 broadcast joins, K−1 n×r distance
    # folds and K−1 groupBy SHUFFLES. Here the new center's code is a
    # literal array (it was just collected — 1 row, bounded), so each
    # round is one map pass over the localCheckpointed running state +
    # a TakeOrdered(1): ZERO shuffles, n×1 dots instead of n×r.
    # min(d_1..d_r) = least(min(d_1..d_{r-1}), d_r) over exact bigint
    # distances — value-identical, same oracle (hash-gate re-proven).
    v = _fanout(e).select(
        "vec_id", int_code(to_double(F.col("embedding"))).alias("cc")
    )
    idot = lambda x, y: F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0).cast("bigint"), lambda acc, u: acc + u
    )
    # running state: (vec_id, cc, aa = ⟨cc,cc⟩ computed once, d = min
    # distance to the chosen set), persisted each round; the pick's
    # TakeOrdered scans every partition (so the cache fully
    # materializes), then the previous round's state is released —
    # at most two corpus-code copies resident at any time.
    state = v.select(
        "vec_id", "cc", idot(F.col("cc"), F.col("cc")).alias("aa")
    ).persist()
    first = state.orderBy("vec_id").limit(1).collect()[0]
    centers = [(0, int(first["vec_id"]), [int(x) for x in first["cc"]], 0)]
    for r in range(1, _KC_K):
        _, _, c_code, _ = centers[-1]
        c_arr = F.array(*[F.lit(x).cast("bigint") for x in c_code])
        c_norm = sum(x * x for x in c_code)  # exact python int, < 2^63
        d_new = (
            F.col("aa")
            - F.lit(2) * idot(F.col("cc"), c_arr)
            + F.lit(c_norm).cast("bigint")
        )
        d_run = d_new if r == 1 else F.least(F.col("d"), d_new)
        prev, state = state, state.select(
            "vec_id", "cc", "aa", d_run.alias("d")
        ).persist()
        pick = (
            state.filter(F.col("d") > 0)
            .orderBy(F.col("d").desc(), "vec_id")
            .limit(1)
            .collect()
        )
        if not pick:  # degenerate corpus: all points coincide
            pick = state.orderBy(F.col("d").desc(), "vec_id").limit(1).collect()
        prev.unpersist()
        row = pick[0]
        centers.append((r, int(row["vec_id"]), [int(x) for x in row["cc"]], int(row["d"])))
    state.unpersist()
    return spark.createDataFrame(
        [(r, cid, d) for r, cid, _, d in centers],
        "round bigint, vec_id bigint, d2 bigint",
    ).orderBy("round")


# --------------------------------------------------------------------------
# Reciprocal-rank fusion — the standard hybrid-retrieval combiner
# (Cormack et al. SIGIR'09; what production search stacks run between
# BM25 and the vector index): fused(q,d) = Σ_systems 1/(60 + rank),
# over the lexical top-10 (t_bm25_topk's exact chain, consumed as the
# registered query's output) and the vector top-10 (integer-dot codes,
# the e_knn convention) for the SAME query panel. Docs missing from a
# list contribute 0 — RRF needs no score calibration between systems,
# which is exactly why it is the default fusion. 1/(60+rk) is the
# identical rational double in both engines; the two-term sum has
# fixed order, so the fused ranking hash-checks.
# Scale: both candidate lists are top-k-bounded per query (k·|panel|
# rows); the fusion join and re-rank never touch a corpus relation.
_RRF_K = 60
_RRF_TOPK = 5


def _rrf_oracle() -> str:
    from .textpipe import _bm25_oracle

    return f"""
    WITH bmr AS MATERIALIZED ({_bm25_oracle()}
    ), vq AS (
      SELECT vec_id AS qid, {_CODE_SQL} AS qc FROM embeddings
      WHERE vec_id % 97 = 0 AND vec_id < 97 * 3
    ), vc AS (
      SELECT vec_id, {_CODE_SQL} AS cc FROM embeddings WHERE vec_id % 97 <> 0
    ), vr AS (
      SELECT qid, vec_id AS doc_id, rk FROM (
        SELECT vq.qid, vc.vec_id,
               ROW_NUMBER() OVER (PARTITION BY vq.qid ORDER BY
                 CAST(list_dot_product(vq.qc, vc.cc) AS BIGINT) DESC, vc.vec_id) AS rk
        FROM vq CROSS JOIN vc)
      WHERE rk <= 10
    ), fused AS (
      SELECT COALESCE(b.qid, v.qid) AS qid,
             COALESCE(b.doc_id, v.doc_id) AS doc_id,
             CASE WHEN b.rk IS NOT NULL THEN 1 ELSE 0 END AS in_bm25,
             CASE WHEN v.rk IS NOT NULL THEN 1 ELSE 0 END AS in_vec,
             COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + b.rk), CAST(0 AS DOUBLE))
             + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + v.rk), CAST(0 AS DOUBLE)) AS rrf
      FROM bmr b FULL OUTER JOIN vr v ON v.qid = b.qid AND v.doc_id = b.doc_id
    )
    SELECT qid, rank, doc_id, in_bm25, in_vec, {sql_trunc6('rrf')} AS rrf
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank
      FROM fused) t
    WHERE rank <= {_RRF_TOPK} ORDER BY qid, rank
    """


@_q(
    "v_rrf_fusion",
    _rrf_oracle(),
    doc="reciprocal-rank fusion of BM25 and vector top-10 lists "
    "(Cormack '09, k=60): calibration-free hybrid ranking, top-5 per "
    "query; candidate lists are top-k-bounded, fusion never scans the corpus",
)
def v_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import int_code
    from .textpipe import t_bm25_topk

    bmr = t_bm25_topk(spark, sf_dir).select("qid", "doc_id", F.col("rk").alias("rk_b"))
    e = load_tables(spark, sf_dir)["embeddings"]
    vq = e.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") < 97 * 3)).select(
        F.col("vec_id").alias("qid"), int_code(to_double(F.col("embedding"))).alias("qc")
    )
    vc = e.filter(F.col("vec_id") % 97 != 0).select(
        "vec_id", int_code(to_double(F.col("embedding"))).alias("cc")
    )
    score = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    wv = Window.partitionBy("qid").orderBy(F.col("s").desc(), "vec_id")
    vr = (
        vc.crossJoin(F.broadcast(vq))
        .select("qid", "vec_id", score.alias("s"))
        .withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") <= 10)
        .select("qid", F.col("vec_id").alias("doc_id"), F.col("rk").alias("rk_v"))
    )
    rrf = F.coalesce(
        F.lit(1.0).cast("double") / (F.lit(_RRF_K) + F.col("rk_b")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0).cast("double") / (F.lit(_RRF_K) + F.col("rk_v")), F.lit(0.0)
    )
    fused = (
        bmr.join(vr, ["qid", "doc_id"], "full_outer")
        .select(
            "qid",
            "doc_id",
            F.col("rk_b").isNotNull().cast("int").alias("in_bm25"),
            F.col("rk_v").isNotNull().cast("int").alias("in_vec"),
            rrf.alias("rrf"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _RRF_TOPK)
        .select("qid", "rank", "doc_id", "in_bm25", "in_vec", trunc6(F.col("rrf")).alias("rrf"))
        .orderBy("qid", "rank")
    )


# --------------------------------------------------------------------------
# Structured-rotation binary quantization — the FAISS/ScaNN/RaBitQ
# trick: rotate vectors by an orthogonal matrix BEFORE taking sign
# bits, so quantization error decorrelates from the coordinate axes.
# The rotation is the 64-point Walsh-Hadamard matrix H[i][j] =
# (−1)^popcount(i AND j) applied to the floor(x·1000) integer codes —
# EXACT integer arithmetic (|y_j| ≤ 64·max|code| ≪ 2^63), so both
# engines compute identical rotated signs with no libm anywhere.
# H is orthogonal (H·Hᵀ = 64·I): exact cosine ranking is invariant,
# ONLY the 64 sign bits change — which is the entire point. The audit
# emits plain-BQ and rotated-BQ recall@5 side by side vs the exact
# integer-dot gold. Measured on THIS corpus the rotation HURTS
# (recall@5 0.64 → 0.50 at sf0.01; a centered variant 0.54): the dims
# are uncentered and near-isotropic, so mixing them only destroys the
# axis-aligned structure the plain sign bits exploit. The rotation
# pays off on skewed/correlated real-world embedding dims (the
# OPQ/RaBitQ setting); this audit is what tells an operator which
# regime their corpus is in before switching the index config.
# Scale shape: the rotation is a per-row projection (zero shuffle);
# candidate generation stays the signature-words-only broadcast join.
def _rot_word_udfs():
    """Two Arrow-batched UDFs computing the rotated sign words.

    A pure-Catalyst HOF form is value-identical but interpreted HOFs
    re-evaluate the inlined fixed-point transform per lambda access —
    ~0.5M integer ops per row, measured minutes at sf0.001 — while
    numpy does the 64-pt Hadamard as one int64 matmul per Arrow batch
    (the duckdb oracle hoists xq/y to columns for the same reason). Two separate UDFs (not one array-
    returning UDF split by getItem) so projection collapse cannot
    duplicate a single ArrowEvalPython node (the round-3 bug class
    tools/plan_audit.py flags). Exact int64 end to end — same values
    as the duckdb comprehension.
    """
    from pyspark.sql.functions import pandas_udf

    hmat = np.array(
        [[1 - 2 * (bin(i & j).count("1") % 2) for i in range(64)] for j in range(64)],
        dtype=np.int64,
    )

    def words(col, off):
        out = []
        for v in col:
            xq = np.floor(np.asarray(v, dtype=np.float64) * 1000.0).astype(np.int64)
            y = hmat @ xq
            bits = (y[off : off + 32] > 0).astype(np.int64)
            out.append(int((bits << np.arange(32)).sum()))
        return pd.Series(out)

    @pandas_udf("bigint")
    def rot_w0(col):
        return words(col, 0)

    @pandas_udf("bigint")
    def rot_w1(col):
        return words(col, 32)

    return rot_w0, rot_w1


@_q(
    "v_rotated_bq_recall",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding::DOUBLE[], x -> CAST(FLOOR(x * 1000.0) AS BIGINT)) AS xq,
             CAST(list_sum([CASE WHEN embedding[x+1] > 0 THEN 2**x ELSE 0 END FOR x IN range(0,32)]) AS BIGINT) AS w0,
             CAST(list_sum([CASE WHEN embedding[x+33] > 0 THEN 2**x ELSE 0 END FOR x IN range(0,32)]) AS BIGINT) AS w1
      FROM embeddings
    ), rotv AS (
      -- xq and y hoisted to COLUMNS: spelling them inline in the sign
      -- words re-evaluates the fixed-point transform per lambda access
      -- (~0.5M ops/row, measured ~180 s at sf0.001); as columns the
      -- rotation is one 4096-add pass per row
      SELECT vec_id, v, w0, w1,
             list_transform(range(0, 64), j -> list_sum(list_transform(range(0, 64),
               i -> CASE WHEN bit_count(i & j) % 2 = 0 THEN xq[CAST(i + 1 AS INT)]
                         ELSE -xq[CAST(i + 1 AS INT)] END))) AS y
      FROM base
    ), sig AS (
      SELECT vec_id, v, w0, w1,
             CAST(list_sum([CASE WHEN y[x + 1] > 0 THEN 2**x ELSE 0 END FOR x IN range(0, 32)]) AS BIGINT) AS r0,
             CAST(list_sum([CASE WHEN y[x + 33] > 0 THEN 2**x ELSE 0 END FOR x IN range(0, 32)]) AS BIGINT) AS r1
      FROM rotv
    ), q AS (
      SELECT vec_id AS qid, v AS qv, w0 AS q0, w1 AS q1, r0, r1
      FROM sig WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS cid, v AS cv, w0 AS c0, w1 AS c1, r0 AS d0, r1 AS d1
      FROM sig WHERE vec_id >= 10
    ), exact_top AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {_BQ_COS.format(a='q.qv', b='c.cv')} DESC, c.cid) AS rk
        FROM q, c)
      WHERE rk <= 5
    ), plain_top AS (
      SELECT qid, cid FROM (
        SELECT cand.qid, cand.cid,
               ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
                 {_BQ_COS.format(a='q.qv', b='c.cv')} DESC, cand.cid) AS rk
        FROM (
          SELECT qid, cid FROM (
            SELECT qid, cid,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                     bit_count(xor(q0, c0)) + bit_count(xor(q1, c1)), cid) AS rn
            FROM q, c) WHERE rn <= {_BQ_C}) cand
        JOIN q ON q.qid = cand.qid JOIN c ON c.cid = cand.cid)
      WHERE rk <= 5
    ), rot_top AS (
      SELECT qid, cid FROM (
        SELECT cand.qid, cand.cid,
               ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
                 {_BQ_COS.format(a='q.qv', b='c.cv')} DESC, cand.cid) AS rk
        FROM (
          SELECT qid, cid FROM (
            SELECT qid, cid,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                     bit_count(xor(r0, d0)) + bit_count(xor(r1, d1)), cid) AS rn
            FROM q, c) WHERE rn <= {_BQ_C}) cand
        JOIN q ON q.qid = cand.qid JOIN c ON c.cid = cand.cid)
      WHERE rk <= 5
    )
    SELECT e.qid,
           COUNT(*) AS k_exact,
           CAST(SUM(CASE WHEN p.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_plain,
           CAST(SUM(CASE WHEN r.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rotated
    FROM exact_top e
    LEFT JOIN plain_top p ON p.qid = e.qid AND p.cid = e.cid
    LEFT JOIN rot_top r ON r.qid = e.qid AND r.cid = e.cid
    GROUP BY e.qid ORDER BY e.qid
    """,
    doc="structured-rotation BQ audit: exact integer 64-pt Walsh-"
    "Hadamard rotation of the fixed-point codes before sign-bit "
    "quantization (FAISS-OPQ/RaBitQ shape), recall@5 of plain vs "
    "rotated signatures vs the exact gold, side by side. Measured "
    "verdict on THIS corpus: rotation HURTS (0.64 plain vs 0.50 "
    "rotated at sf0.01) — the dims are uncentered, and Hadamard row 0 "
    "(all ones) aggregates the mean into one component; a centered "
    "variant measured 0.54, still no win on near-isotropic synthetic "
    "dims. That measurement IS the op's purpose: the audit tells an "
    "operator whether a given embedding corpus wants the rotation "
    "(real correlated/skewed dims do — the OPQ/RaBitQ setting) "
    "before an index config flips it on",
)
def v_rotated_bq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    emb = F.col("embedding")
    rot_w0, rot_w1 = _rot_word_udfs()
    # signature table materialized ONCE (localCheckpoint): plain and
    # rotated sign words are the at-rest index artifact — every
    # downstream consumer (two Hamming candidate stages, both reading
    # signature words only) scans the 4-longs-per-vector table instead
    # of re-running the Arrow UDFs per plan branch (plan_audit's
    # duplicated-ArrowEvalPython rule caught the un-materialized form).
    sig = e.select(
        "vec_id",
        _bq_word(emb, 0).alias("w0"),
        _bq_word(emb, 32).alias("w1"),
        rot_w0(emb).alias("r0"),
        rot_w1(emb).alias("r1"),
    ).localCheckpoint(eager=True)
    vecs = e.select("vec_id", to_double(emb).alias("v"), l2_norm(emb).alias("vn"))
    qv = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("vn").alias("qn")
    )
    cv = vecs.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("vn").alias("cn")
    )
    qs = sig.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "w0", "w1", "r0", "r1"
    )
    cs = sig.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"),
        F.col("w0").alias("c0"),
        F.col("w1").alias("c1"),
        F.col("r0").alias("d0"),
        F.col("r1").alias("d1"),
    )
    cos = (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos")
    exact = (
        cv.crossJoin(F.broadcast(qv))
        .select("qid", "cid", cos)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
            ),
        )
        .filter(F.col("rk") <= 5)
        .select("qid", "cid")
    )

    def bq_top(qw0, qw1, cw0, cw1):
        # candidate stage reads ONLY the signature words
        ham = cs.select("cid", cw0, cw1).crossJoin(
            F.broadcast(qs.select("qid", qw0, qw1))
        ).select(
            "qid",
            "cid",
            _bq_hamming(F.col(qw0), F.col(qw1), F.col(cw0), F.col(cw1)).alias("ham"),
        )
        cand = (
            ham.withColumn(
                "rn",
                F.row_number().over(Window.partitionBy("qid").orderBy("ham", "cid")),
            )
            .filter(F.col("rn") <= _BQ_C)
            .select("qid", "cid")
        )
        return (
            cand.join(qv, "qid")
            .join(cv, "cid")
            .select("qid", "cid", cos)
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
                ),
            )
            .filter(F.col("rk") <= 5)
            .select("qid", "cid")
        )

    # rename BOTH join keys on the approximate sides: exact/plain/rot all
    # descend from the same scans, so unqualified qid/cid predicates
    # would resolve to the shared attribute (a trivially-true self-
    # comparison) instead of a real equi-join
    plain = bq_top("w0", "w1", "c0", "c1").select(
        F.col("qid").alias("pqid"), F.col("cid").alias("pcid")
    )
    rot = bq_top("r0", "r1", "d0", "d1").select(
        F.col("qid").alias("rqid"), F.col("cid").alias("rcid")
    )
    return (
        exact.join(
            plain,
            (F.col("qid") == F.col("pqid")) & (F.col("cid") == F.col("pcid")),
            "left",
        )
        .join(
            rot,
            (F.col("qid") == F.col("rqid")) & (F.col("cid") == F.col("rcid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("k_exact"),
            F.sum(F.col("pcid").isNotNull().cast("int")).cast("bigint").alias("n_plain"),
            F.sum(F.col("rcid").isNotNull().cast("int")).cast("bigint").alias("n_rotated"),
        )
        .orderBy("qid")
    )
