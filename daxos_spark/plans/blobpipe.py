"""Multimodal (binary-column) queries over text-backed blobs.

The blob payloads are UTF-8-encoded document text (no codec libs ship
here — see daxos_spark/multimodal), so the binary plumbing is fully
oracle-checkable: duckdb's encode()/octet_length/md5 agree byte-for-
byte with Spark's encode/octet_length/md5.

q_frame_counts is the interesting one: the Spark side runs the REAL
mapInPandas frame fan-out operator and counts its output; the oracle
computes the expected frame count arithmetically — so the gate checks
the distributed fan-out, not just column math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.hashing import md5_long_sql
from ..multimodal.columns import attach_blob, sample_frames
from .docpipe import _fanout
from .registry import QuerySpec, checkpoint_release, register

_FRAME_BYTES = 256
_STRIDE = 2


def _q(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        register(QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc, tags=("multimodal",)))
        return fn

    return deco


# --------------------------------------------------------------------------
# blob metadata stats — binary length + content hash per source bucket.
@_q(
    "m_blob_stats",
    """
    SELECT source,
           COUNT(*) AS n_assets,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes,
           COUNT(DISTINCT md5(text)) AS n_distinct
    FROM documents
    GROUP BY source ORDER BY source
    """,
)
def m_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    assets = attach_blob(d, "doc_id", "text", mime="text/plain")
    j = assets.join(d.select(F.col("doc_id").alias("asset_id"), "source"), "asset_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
            F.max(F.col("meta.n_bytes")).alias("max_bytes"),
            F.countDistinct(F.md5("blob")).alias("n_distinct"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# frame fan-out counts — REAL mapInPandas frame sampler on the Spark
# side; arithmetic expectation on the oracle side.
@_q(
    "m_frame_counts",
    f"""
    SELECT source,
           CAST(SUM(CEIL(CEIL(octet_length(encode(text)) / {_FRAME_BYTES}.0) / {_STRIDE}.0)) AS BIGINT)
             AS n_frames,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents
    GROUP BY source ORDER BY source
    """,
)
def m_frame_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    assets = attach_blob(d, "doc_id", "text")
    frames = sample_frames(assets, frame_bytes=_FRAME_BYTES, stride=_STRIDE)
    per_asset = frames.groupBy("asset_id").agg(F.count(F.lit(1)).alias("nf"))
    sizes = assets.select("asset_id", F.col("meta.n_bytes").alias("nb"))
    j = (
        per_asset.join(sizes, "asset_id")
        .join(d.select(F.col("doc_id").alias("asset_id"), "source"), "asset_id")
    )
    return (
        j.groupBy("source")
        .agg(F.sum("nf").alias("n_frames"), F.sum("nb").alias("total_bytes"))
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# resize fan-in — REAL mapInPandas byte-stride resize on the Spark side;
# ceil-arithmetic byte expectation on the oracle side.
@_q(
    "m_resize_bytes",
    """
    SELECT source,
           COUNT(*) AS n_assets,
           CAST(SUM(CAST(CEIL(octet_length(encode(text)) / 4.0) AS BIGINT)) AS BIGINT)
             AS resized_bytes,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS original_bytes
    FROM documents
    GROUP BY source ORDER BY source
    """,
)
def m_resize_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.columns import resize_blob

    d = load_tables(spark, sf_dir)["documents"]
    assets = attach_blob(d, "doc_id", "text")
    small = resize_blob(assets, factor=4)
    j = small.join(
        assets.select("asset_id", F.col("meta.n_bytes").alias("orig")), "asset_id"
    ).join(d.select(F.col("doc_id").alias("asset_id"), "source"), "asset_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("resized_bytes"),
            F.sum("orig").alias("original_bytes"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# feature-extraction fan-in — REAL vectorized byte-histogram extractor;
# the oracle checks the Σhistogram == Σbytes invariant per source.
@_q(
    "m_byte_histogram",
    """
    SELECT source,
           COUNT(*) AS n_assets,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_binned
    FROM documents
    GROUP BY source ORDER BY source
    """,
)
def m_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.columns import byte_histogram

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    assets = attach_blob(d, "doc_id", "text")
    feats = byte_histogram(assets, n_buckets=8)
    j = feats.join(d.select(F.col("doc_id").alias("asset_id"), "source"), "asset_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("total_binned").alias("total_binned"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# magic-byte MIME sniffing — the first pass any multimodal ingest runs
# over opaque binary columns: classify each asset by its leading bytes
# before routing to a decoder. Headers here are planted deterministically
# (doc_id % 4 picks PNG/JPEG/GIF/PDF) so the duckdb twin reproduces the
# corpus; the sniff itself reads only the first 4 bytes of the blob —
# at 100 TB this runs as a map-side projection over the binary column
# with no shuffle until the tiny per-MIME rollup.
_MAGIC = [
    ("89504E47", "image/png"),
    ("FFD8FFE0", "image/jpeg"),
    ("47494638", "image/gif"),
    ("25504446", "application/pdf"),
]


@_q(
    "m_magic_sniff",
    f"""
    WITH b AS (
      SELECT doc_id,
             unhex(CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN '{_MAGIC[0][0]}' WHEN 1 THEN '{_MAGIC[1][0]}'
                     WHEN 2 THEN '{_MAGIC[2][0]}' ELSE '{_MAGIC[3][0]}' END)
               || encode(text) AS blob
      FROM documents
    )
    SELECT CASE UPPER(substr(hex(blob), 1, 8))
             WHEN '{_MAGIC[0][0]}' THEN '{_MAGIC[0][1]}'
             WHEN '{_MAGIC[1][0]}' THEN '{_MAGIC[1][1]}'
             WHEN '{_MAGIC[2][0]}' THEN '{_MAGIC[2][1]}'
             WHEN '{_MAGIC[3][0]}' THEN '{_MAGIC[3][1]}'
             ELSE 'application/octet-stream' END AS mime,
           COUNT(*) AS n_assets,
           CAST(SUM(octet_length(blob)) AS BIGINT) AS total_bytes
    FROM b GROUP BY 1 ORDER BY 1
    """,
    doc="magic-byte MIME sniff over binary asset columns (map-side, 4-byte read)",
)
def m_magic_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    hdr = F.when(F.pmod("doc_id", F.lit(4)) == 0, F.lit(_MAGIC[0][0]))
    for i in (1, 2):
        hdr = hdr.when(F.pmod("doc_id", F.lit(4)) == i, F.lit(_MAGIC[i][0]))
    hdr = hdr.otherwise(F.lit(_MAGIC[3][0]))
    blob = F.concat(F.unhex(hdr), F.encode(F.col("text"), "UTF-8"))
    head = F.upper(F.substring(F.hex(blob), 1, 8))
    mime = F.when(head == _MAGIC[0][0], F.lit(_MAGIC[0][1]))
    for i in (1, 2, 3):
        mime = mime.when(head == _MAGIC[i][0], F.lit(_MAGIC[i][1]))
    mime = mime.otherwise(F.lit("application/octet-stream"))
    return (
        d.select(mime.alias("mime"), F.octet_length(blob).alias("nb"))
        .groupBy("mime")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("nb").alias("total_bytes"),
        )
        .orderBy("mime")
    )


# --------------------------------------------------------------------------
# Content-defined chunking — the binary-asset dedup primitive (backup /
# dataset-versioning systems; LBFS, Muthitacharoen et al. 2001): cut
# each asset wherever the hash of the W-byte window starting there is
# ≡ 0 (mod D), so boundaries move WITH the content and an insertion
# near the front re-chunks only its neighborhood instead of shifting
# every downstream chunk (what fixed-size chunking gets wrong). Chunk
# identity = content hash; the corpus-wide chunk store deduplicates
# shared sub-content across assets.
#
# Everything is JVM-side expression work (sequence/filter/transform +
# md5 substring hashing): boundary detection is position-local — a
# window-hash predicate, not a sequential scan — so the whole pass is
# embarrassingly parallel and the only shuffle is the final per-source
# agg. The same expressions run on `binary` columns at scale
# (substring/md5 accept binary); here they run on the text bytes so
# the duckdb oracle replays chunk-for-chunk.
_CDC_W = 8  # window bytes
_CDC_D = 32  # divisor -> expected chunk ~32 bytes


def _cdc_cuts_sql() -> str:
    h = md5_long_sql(f"substr(text, CAST(i AS INT), {_CDC_W})")
    return f"""
      list_sort(list_distinct(
        [1] ||
        CASE WHEN length(text) >= {_CDC_W + 1}
             THEN list_filter(range(2, length(text) - {_CDC_W} + 2),
                              i -> {h} % {_CDC_D} = 0)
             ELSE [] END ||
        [length(text) + 1]))
    """


@_q(
    "m_cdc_chunks",
    f"""
    WITH c AS (
      SELECT doc_id, source, text, {_cdc_cuts_sql()} AS cuts FROM documents
    ), ch AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(cuts)),
                    j -> substr(text, CAST(cuts[j] AS INT),
                                CAST(cuts[j+1] - cuts[j] AS INT)))) AS chunk
      FROM c
    ), h AS (
      SELECT doc_id, source, {md5_long_sql('chunk')} AS ch_hash,
             length(chunk) AS nb
      FROM ch
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_assets,
           COUNT(*) AS n_chunks,
           COUNT(DISTINCT ch_hash) AS n_unique_chunks,
           CAST(SUM(nb) AS BIGINT) AS total_bytes,
           CAST(MAX(nb) AS BIGINT) AS max_chunk_bytes
    FROM h GROUP BY source ORDER BY source
    """,
    doc="content-defined chunking (W=8 window hash, D=32): boundaries "
    "move with content; per-source chunk-store dedup stats",
)
def m_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    ln = F.length("text")
    win_hash = lambda i: md5_long(F.substring(F.col("text"), i, _CDC_W))
    cuts = F.array_sort(
        F.array_distinct(
            F.concat(
                F.array(F.lit(1)),
                F.when(
                    ln >= _CDC_W + 1,
                    F.filter(
                        F.sequence(F.lit(2), ln - _CDC_W + 1),
                        lambda i: F.pmod(win_hash(i), F.lit(_CDC_D)) == 0,
                    ),
                ).otherwise(F.array().cast("array<int>")),
                F.array(ln + 1),
            )
        )
    )
    c = d.select("doc_id", "source", "text", cuts.alias("cuts"))
    # Empty text collapses cuts to [1]; sequence(1, 0) is DESCENDING in
    # Spark, so the unguarded transform would hit element_at(cuts, 0) and
    # raise. Guard to an empty array so explode drops the row, matching
    # the oracle's range(1, 1) → zero chunks.
    chunk = F.explode(
        F.when(
            F.size("cuts") > 1,
            F.transform(
                F.sequence(F.lit(1), F.size("cuts") - 1),
                lambda j: F.substring(
                    F.col("text"),
                    F.element_at(F.col("cuts"), j),
                    F.element_at(F.col("cuts"), j + 1) - F.element_at(F.col("cuts"), j),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    h = c.select("doc_id", "source", chunk.alias("chunk")).select(
        "doc_id",
        "source",
        md5_long(F.col("chunk")).alias("ch_hash"),
        F.length("chunk").alias("nb"),
    )
    return (
        h.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_assets"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("ch_hash").alias("n_unique_chunks"),
            F.sum("nb").cast("bigint").alias("total_bytes"),
            F.max("nb").cast("bigint").alias("max_chunk_bytes"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Asset near-dup via shared CDC chunks — what the chunk store from
# m_cdc_chunks is FOR: two assets sharing ≥3 content-defined chunks are
# versions/copies of each other (the backup-dedup and multimodal-asset
# dedup primitive). Candidate generation is a chunk-hash inverted-index
# equi-join (bounded by chunk-duplication mass, never assets²), exactly
# the shingle-index pattern of the text dedup family applied to binary
# content.
_NEARDUP_MIN_SHARED = 3


@_q(
    "m_asset_neardup",
    f"""
    WITH c AS (
      SELECT doc_id, source, text, {_cdc_cuts_sql()} AS cuts FROM documents
    ), ch AS (
      SELECT DISTINCT doc_id, source,
             {md5_long_sql('''substr(text, CAST(cuts[j] AS INT),
                              CAST(cuts[j+1] - cuts[j] AS INT))''')} AS ch_hash
      FROM (SELECT doc_id, source, text, cuts, unnest(range(1, len(cuts))) AS j FROM c)
    ), pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
      FROM ch a JOIN ch b ON a.ch_hash = b.ch_hash AND a.doc_id < b.doc_id
      GROUP BY da, db HAVING COUNT(*) >= {_NEARDUP_MIN_SHARED}
    )
    SELECT COUNT(*) AS n_pairs,
           CAST(SUM(shared) AS BIGINT) AS total_shared_chunks,
           CAST(MAX(shared) AS BIGINT) AS max_shared,
           COUNT(DISTINCT da) + COUNT(DISTINCT db) AS n_involved_upper
    FROM pairs
    """,
    doc="binary-asset near-dup via shared CDC chunks (>=3): chunk-hash "
    "inverted-index join, the backup-dedup primitive",
)
def m_asset_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.hashing import md5_long

    d = _fanout(load_tables(spark, sf_dir)["documents"])
    ln = F.length("text")
    win_hash = lambda i: md5_long(F.substring(F.col("text"), i, _CDC_W))
    cuts = F.array_sort(
        F.array_distinct(
            F.concat(
                F.array(F.lit(1)),
                F.when(
                    ln >= _CDC_W + 1,
                    F.filter(
                        F.sequence(F.lit(2), ln - _CDC_W + 1),
                        lambda i: F.pmod(win_hash(i), F.lit(_CDC_D)) == 0,
                    ),
                ).otherwise(F.array().cast("array<int>")),
                F.array(ln + 1),
            )
        )
    )
    c = d.select("doc_id", "text", cuts.alias("cuts"))
    # Empty text collapses cuts to [1]; sequence(1, 0) is DESCENDING in
    # Spark, so the unguarded transform would hit element_at(cuts, 0) and
    # raise. Guard to an empty array so explode drops the row, matching
    # the oracle's range(1, 1) → zero chunks.
    chunk = F.explode(
        F.when(
            F.size("cuts") > 1,
            F.transform(
                F.sequence(F.lit(1), F.size("cuts") - 1),
                lambda j: F.substring(
                    F.col("text"),
                    F.element_at(F.col("cuts"), j),
                    F.element_at(F.col("cuts"), j + 1) - F.element_at(F.col("cuts"), j),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    ch = (
        c.select("doc_id", chunk.alias("chunk"))
        .select("doc_id", md5_long(F.col("chunk")).alias("ch_hash"))
        .distinct()
    )
    # both sides of the inverted-index join
    ch = ch.persist()
    a, b = ch.alias("a"), ch.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ch_hash") == F.col("b.ch_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= _NEARDUP_MIN_SHARED)
    )
    out = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("shared").cast("bigint").alias("total_shared_chunks"),
        F.max("shared").cast("bigint").alias("max_shared"),
        (F.countDistinct("da") + F.countDistinct("db")).alias("n_involved_upper"),
    )
    return checkpoint_release(out, [ch])


# --------------------------------------------------------------------------
# shot-boundary detection — the video-pipeline primitive missing from
# the frame family: fan each "video" out into consecutive frames (REAL
# mapInPandas sampler, stride 1), compute a per-frame content
# signature (byte sum — the deterministic stand-in for a histogram;
# a real deployment swaps the signature UDF for a decoded-histogram
# distance, same plan shape), and mark a boundary wherever the
# signature jumps by more than a threshold between CONSECUTIVE frames
# (lag window per asset). Scale shape: the fan-out is a narrow
# transform, the signature a vectorized Arrow-batched UDF, and the lag
# window partitions by asset_id — per-asset frame counts bound every
# window, nothing is corpus-wide.
# Oracle: frames are byte slices of the (all-ASCII) payload, so duckdb
# reproduces the signatures with substr+ord arithmetic.
_SHOT_FRAME = 32
_SHOT_TAU = 256


@_q(
    "m_shot_boundaries",
    f"""
    WITH f AS (
      SELECT doc_id, source, i,
             substr(text, CAST(i * {_SHOT_FRAME} + 1 AS BIGINT), {_SHOT_FRAME}) AS fr
      FROM (SELECT doc_id, source,
                   -- substr slices CHARACTERS while the Spark plan's
                   -- sample_frames slices UTF-8 BYTES; they agree only
                   -- on ASCII text. Fail LOUDLY on the first non-ASCII
                   -- document instead of via a silent hash mismatch.
                   CASE WHEN octet_length(encode(text)) = length(text) THEN text
                        ELSE error('m_shot_boundaries oracle requires ASCII text: doc_id '
                                   || doc_id || ' has multi-byte chars (byte-vs-char slicing diverges)')
                   END AS text,
                   unnest(range(0, CAST(CEIL(octet_length(encode(text)) / {_SHOT_FRAME}.0) AS BIGINT))) AS i
            FROM documents)
    ), sums AS (
      SELECT doc_id, source, i, SUM(ord(substr(fr, CAST(j AS INT), 1))) AS bsum
      FROM (SELECT doc_id, source, i, fr, unnest(range(1, len(fr) + 1)) AS j FROM f)
      GROUP BY doc_id, source, i
    ), lagged AS (
      SELECT doc_id, source, bsum,
             LAG(bsum) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      FROM sums
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_assets,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND ABS(bsum - prev) > {_SHOT_TAU}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries,
           CAST(COUNT(DISTINCT doc_id)
                + SUM(CASE WHEN prev IS NOT NULL AND ABS(bsum - prev) > {_SHOT_TAU}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_shots
    FROM lagged
    GROUP BY source ORDER BY source
    """,
    doc="shot-boundary detection per source: stride-1 frame fan-out "
    "(mapInPandas), vectorized byte-sum frame signature, lag-window "
    "jump threshold per asset — the video segmentation primitive; "
    "signature UDF swaps for a real histogram distance at deploy time",
)
def m_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    d = load_tables(spark, sf_dir)["documents"]
    assets = attach_blob(d, "doc_id", "text")
    frames = sample_frames(assets, frame_bytes=_SHOT_FRAME, stride=1)

    @pandas_udf("bigint")
    def byte_sum(frame):
        import numpy as np

        return frame.map(lambda b: int(np.frombuffer(b, dtype=np.uint8).sum()))

    sig = frames.select("asset_id", "frame_idx", byte_sum(F.col("frame")).alias("bsum"))
    w = Window.partitionBy("asset_id").orderBy("frame_idx")
    lagged = sig.select(
        "asset_id", "bsum", F.lag("bsum").over(w).alias("prev")
    )
    boundary = (
        F.col("prev").isNotNull() & (F.abs(F.col("bsum") - F.col("prev")) > _SHOT_TAU)
    ).cast("int")
    j = lagged.join(
        d.select(F.col("doc_id").alias("asset_id"), "source"), "asset_id"
    )
    return (
        j.groupBy("source")
        .agg(
            F.countDistinct("asset_id").alias("n_assets"),
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(boundary).cast("bigint").alias("n_boundaries"),
            (F.countDistinct("asset_id") + F.sum(boundary)).cast("bigint").alias("n_shots"),
        )
        .orderBy("source")
    )
