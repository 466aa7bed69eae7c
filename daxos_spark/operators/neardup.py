"""Near-duplicate candidate operators — the one definition of the chain
every near-dup lane shares: key stream → hot-key cap → per-key sorted
member buckets → i<j member pairs → overlap counts. Used by the
shingle-Jaccard lanes (plans/docpipe, plans/docpipe2, plans/textpipe),
the MinHash/SimHash band lanes and the streaming SimHash index.

Cap (``BUCKET_CAP``). A stop-phrase shingle or an exact-dup family
puts every member on one key, and the pairs of that key grow
quadratically in its size — a blowup no AQE skew split can bound. Keys
with more than ``BUCKET_CAP`` members carry no per-pair signal (they
match everything, or are the exact-dedup lane's job), so they are
dropped before any member array is collected, in Spark and in the
duckdb oracles alike. One cap serves the shingle, LSH-band and
SimHash-band lanes. It is above every committed gate corpus (≤ 5,000
docs at sf0.1; measured max SimHash band bucket 382 at sf0.1, 815 at
the 10× probe), so every committed hash is cap-invariant. The band
caps exist because of tools/adversarial_dup_probe.py's planted
3,000-doc exact-dup family: its shingle DF (3,000) never reaches the
cap, yet uncapped it pushed d_lsh_candidates from ~4 s to 56 s and
gave d_simhash_neardup 4.5M candidate pairs; capped, both match their
QUALIFY-capped oracles. The cap never fires silently: t_cap_census
reports ``rows_dropped`` per lane.

Choosing the cap form (round 12, OPTIMIZATION_r12.md). Both keep
exactly the keys whose member count is ≤ cap; they differ in what they
cost the plan around them:

- ``cap_hot_keys`` (per-key count + anti-join) for a PERSISTED stream
  with several consumers: the count re-reads the cache map-side, one
  long per key in any aggregation buffer. It measured +0.16 s on
  t_dedup_clusters_lane2 at sf0.1, while the window form measured
  +0.5–1.3 s per shingle-Jaccard lane (it sorts the whole hashed-shingle
  stream).
- ``capped_stream`` (windowed count) for a FUSED single-exchange lane
  (no persisted stream): the window's hash partitioning on the keys is
  the one the following groupBy needs, so the lane keeps exactly one
  full-stream exchange (~+0.1 s). Count + anti-join there costs a second
  pass over the stream, persisted or recomputed: +0.3–0.6 s of the
  0.7–1.7 s LSH/SimHash queries.

Choosing the enumeration form. ``bucket_pairs`` spreads oversized
buckets over the cluster (at the full cap, 1.25e9 pairs: 0.8–1.3 s
spread vs 3.6–4.3 s on one task in tools/pair_spread_probe.py) but
scans the bucket relation twice, so it belongs to lanes that persist
it. ``inplace_pairs`` keeps a fused lane's collect → enumerate → verify
pipeline in one stage chain; every guarded variant broke that fusion
for +0.3–0.9 s. Its worst case — one full-cap bucket enumerated
pipelined from one task — is a bounded, completing straggler, and
t_cap_census monitors it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

BUCKET_CAP = 50_000

# Segment size for oversized-bucket enumeration (bucket_pairs): a unit
# is ≤ seg² ≈ 4.2M pairs and 2·seg elements, so a full-cap bucket
# becomes ⌈50k/2048⌉²/2 ≈ 325 spreadable units of ~16 KB each.
PAIR_SEG = 2048


def cap_hot_keys(
    sh: DataFrame, cap: int, keys: tuple[str, ...] = ("s",)
) -> DataFrame:
    """Drop every row of a key with more than ``cap`` rows (count +
    anti-join form, see the module docstring). ``sh`` must be one row
    per (member, key). The over-cap set is a count-threshold filter
    whose size scales with the corpus, so no forced broadcast: AQE
    broadcasts the anti-join side while it fits and shuffles past that.
    Two-lane callers pass both hash lanes as ``keys`` so a lane-1
    collision cannot pool two keys' counts."""
    hot = sh.groupBy(*keys).agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") > cap
    )
    return sh.join(hot.select(*keys), list(keys), "left_anti")


def capped_stream(
    stream: DataFrame, cap: int, keys: tuple[str, ...] = ("s",)
) -> DataFrame:
    """Drop every row of a key with more than ``cap`` rows (windowed
    form, see the module docstring), applied between the stream's one
    hash exchange and the bucket collect. WindowExec buffers one key
    group at a time in a spillable array, so an over-cap key is
    filtered before any collect_list can hold it: the downstream
    aggregation buffer is bounded by ``cap`` members."""
    w = Window.partitionBy(*keys)
    return (
        stream.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= cap)
        .drop("__df")
    )


def bucket_pairs(bkt: DataFrame, seg: int = PAIR_SEG) -> DataFrame:
    """i<j member-pair stream (columns pa, pb) of each bucket row's
    sorted member array ``ds`` (members unique within a bucket).

    A bucket of ≤ seg members is one diagonal unit of itself (no
    exchange). A larger one is cut into ≤ seg-element segments whose
    upper-triangular (segᵢ, segⱼ) unit grid is exploded and
    hash-repartitioned (xxhash64 of the unit payload, not rand(): retry
    safety) so each unit lands on its own task. ``ds`` sorted and
    unique ⇒ an off-diagonal unit's cross product already has pa < pb
    and a diagonal unit keeps its pa < pb half, so the union over all
    units is exactly the bucket's i<j pair multiset.

    Measured constraints (round 12): the two unit streams union BELOW
    one shared enumeration chain — unioning the enumerated pair streams
    runs the generates without whole-stage codegen (30× per pair). The
    spread exchange pins an explicit partition count
    (defaultParallelism): units are byte-tiny but work-quadratic, and
    AQE's byte-based coalescing merged 120 units back onto one task. A
    1-row max-size probe to skip the empty oversized branch splits the
    cache-build pipeline for more than it saves. ``bkt`` is scanned
    twice (small + oversized filter) — callers persist it."""
    small_units = bkt.filter(F.size("ds") <= seg).select(
        F.col("ds").alias("ua"), F.col("ds").alias("ub"), F.lit(True).alias("diag")
    )
    k = F.ceil(F.size("ds") / F.lit(seg)).cast("int")
    big_units = (
        bkt.filter(F.size("ds") > seg)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), k - F.lit(1)),
                        lambda i: F.transform(
                            F.sequence(i, k - F.lit(1)),
                            lambda j: F.struct(
                                F.slice(
                                    F.col("ds"), i * F.lit(seg) + F.lit(1), F.lit(seg)
                                ).alias("ua"),
                                F.slice(
                                    F.col("ds"), j * F.lit(seg) + F.lit(1), F.lit(seg)
                                ).alias("ub"),
                                (i == j).alias("diag"),
                            ),
                        ),
                    )
                )
            ).alias("u")
        )
        .select("u.*")
        .repartition(
            bkt.sparkSession.sparkContext.defaultParallelism,
            F.xxhash64("ua", "ub"),
        )
    )
    units = small_units.unionByName(big_units)
    # diag unit: slice from i+2 ⇒ exactly the i<j half (ua ≡ ub);
    # off-diag unit: whole ub ⇒ the full cross, pa < pb already true
    return units.select(F.posexplode("ua").alias("i", "pa"), "ub", "diag").select(
        "pa",
        F.explode(
            F.slice(
                F.col("ub"),
                F.when(F.col("diag"), F.col("i") + F.lit(2)).otherwise(F.lit(1)),
                F.size("ub"),
            )
        ).alias("pb"),
    )


def inplace_pairs(bkt: DataFrame) -> DataFrame:
    """i<j pairs of each sorted ``ds`` array, enumerated on the task
    holding the bucket row (posexplode + slice; for fused lanes, see
    the module docstring)."""
    return bkt.select(F.posexplode("ds").alias("i", "pa"), "ds").select(
        "pa",
        F.explode(F.slice(F.col("ds"), F.col("i") + F.lit(2), F.size("ds"))).alias("pb"),
    )


def shingle_overlap(sh0: DataFrame, keys: tuple[str, ...] = ("s",)):
    """Same-source shingle overlap of every document pair sharing a
    capped shingle → ((da, db, j), caches), da < db and j the Jaccard
    |A∩B| / |A∪B| of the two documents' capped shingle sets.

    ``sh0`` is one row per (doc_id, source, shingle) with the shingle in
    ``keys`` (a raw string, or one or two hash lanes). One groupBy into
    per-(source, shingle) sorted doc-id buckets replaces a shingle
    self-join that exchanged the stream twice: ``bucket_pairs`` emits
    exactly that join's (same shingle ∧ same source ∧ da < db) pair
    multiset, so the counts and Jaccard values are the ones the duckdb
    oracles' self-join computes. The cap is global per shingle (across
    sources), as in the oracles. ``caches`` are the persisted stream
    and bucket relation; the caller releases them after materializing
    its output."""
    # two consumers: the cap's count pass + the bucket build
    sh0 = sh0.persist()
    bkt = (
        cap_hot_keys(sh0, BUCKET_CAP, keys=keys)
        .groupBy("source", *keys)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .select(*keys, "ds")
    )
    # three consumers: sizes + both branches of bucket_pairs
    bkt = bkt.persist()
    sizes = (
        bkt.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    inter = (
        bucket_pairs(bkt)
        .groupBy(F.col("pa").alias("da"), F.col("pb").alias("db"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # doc-cardinality size lookups scale with the corpus — no forced
    # broadcast; AQE picks broadcast at test scale, shuffle at 100 TB
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    j = F.col("n_inter") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter"))
    out = (
        inter.join(sa, F.col("da") == F.col("sa.doc_id"))
        .join(sb, F.col("db") == F.col("sb.doc_id"))
        .select("da", "db", j.alias("j"))
    )
    return out, [sh0, bkt]
