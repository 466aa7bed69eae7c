#!/usr/bin/env python
"""Round-11 fourth scale decade: 1× → 10× → 40× on the heaviest dedup
and refinery lanes (VERDICT-r10 ask #3).

The 100 TB claims rested on 10× probes; this pushes the four headline
lanes one more decade on a 40× ROTATE-bijected corpus (tmp_sf4_live —
live quality funnel; affine char-bijection continuation past the
26-replica Caesar wrap, see sf1_probe._rotate_map):

  d_prefix_filter_jaccard   PPJoin prefix-filtered exact Jaccard join
  t_dedup_best_keep         blocked pairs → CC → survivor pick
  d_lsh_candidates          banded MinHash (bucket cap active)
  t_refinery_linear         the linear production funnel

Before timing the funnel, a CENSUS of the semantic stage's blocked
pair mass is printed at each scale: the LSH planes are FIXED, so bucket
occupancy grows linearly with corpus and within-bucket pair mass grows
QUADRATICALLY — the census quantifies the bend the fixed-plane
configuration must eventually hit, and SCALE.md records the production
remedy (scale the plane count with the corpus so occupancy stays
bounded). A lane ratio ≲ 4 for 10×→40× is linear-or-better.

Usage: python tools/scale40_probe.py [--census-only]
Clean up with: rm -rf tmp_sf4_live (in the checkout)
"""

from __future__ import annotations

import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import tools.sf1_probe as sp  # noqa: E402

BASE = "/root/testdata/sf0.1"
DIR10 = f"{REPO}/tmp_sf1_live"
DIR40 = f"{REPO}/tmp_sf4_live"
LANES = [
    "d_prefix_filter_jaccard",
    "t_dedup_best_keep",
    "d_lsh_candidates",
    "t_refinery_linear",
    # round-12 extension (VERDICT-r11 ask #7): the remaining rewritten
    # dedup bucket lanes, measured through the fourth decade with the
    # memory-safe caps in place
    "d_simhash_neardup",
    "t_dedup_agreement",
    "t_containment_dedup",
    "t_dedup_clusters_lane2",
]


def semantic_pair_census(
    spark, sf_dir: str, bits: int | None = None
) -> tuple[int, int, int]:
    """(embedded docs, blocked candidate pairs, similar pairs found) of
    the funnel's semantic stage — the quadratic term the fixed-plane
    LSH blocking carries as the corpus grows. ``bits`` overrides the
    plane count (production = similarity.LSH_BITS) so the plane-scaling
    remedy can be MEASURED: pairs is the cost, similar-found is the
    recall proxy a bigger plane count may pay with."""
    from pyspark.sql import functions as F

    from daxos_spark.functions.similarity import lsh_planes
    from daxos_spark.plans.docpipe import _semantic_pairs

    planes = None if bits is None else lsh_planes(bits=bits)
    b, s, caches = _semantic_pairs(spark, sf_dir, planes=planes)
    n_docs = b.count()
    agg = s.agg(
        F.count(F.lit(1)).alias("n"), F.sum("sim").alias("ns")
    ).first()
    # the business metric: how many docs the keep-list would EVICT
    # (distinct higher-id endpoints of similar pairs) — pair recall can
    # drop without losing evictions when a dup doc sits in many pairs
    n_evicted = s.filter(F.col("sim") == 1).select("db").distinct().count()
    for c in caches:
        c.unpersist()
    return n_docs, int(agg["n"]), int(agg["ns"] or 0), n_evicted


def main() -> int:
    from daxos_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark()
    qs = E.queries()

    import os

    if not os.path.exists(os.path.join(DIR10, "documents.parquet")):
        sp.synthesize(spark, DIR10, bijection="rotate")
    if not os.path.exists(os.path.join(DIR40, "documents.parquet")):
        t0 = time.time()
        sp.synthesize(spark, DIR40, bijection="rotate", n_rep=40)
        print(f"synthesized 40x in {time.time()-t0:.0f}s", flush=True)

    print("== semantic-stage pair census (docs, pairs, similar, evicted)")
    census = {}
    for label, d in (("1x", BASE), ("10x", DIR10), ("40x", DIR40)):
        census[label] = semantic_pair_census(spark, d)
        n, p, ns, ne = census[label]
        print(
            f"  {label:4s} docs={n:>8d} pairs={p:>12d} similar={ns:>8d} evicted={ne:>7d}",
            flush=True,
        )

    # the plane-scaling remedy, measured: +2 planes at 10x, +4 at 40x
    # (planes ∝ log4(corpus growth)) should pull pair mass back toward
    # linear; similar-found is the recall proxy the extra planes may pay
    print("== plane-scaling remedy at the same corpora")
    from daxos_spark.functions.similarity import LSH_BITS

    for label, d, extra in (("10x", DIR10, 2), ("40x", DIR40, 4)):
        n, p, ns, ne = semantic_pair_census(spark, d, bits=LSH_BITS + extra)
        print(
            f"  {label:4s} bits={LSH_BITS + extra} docs={n:>8d} "
            f"pairs={p:>12d} similar={ns:>8d} evicted={ne:>7d}",
            flush=True,
        )
    if "--census-only" in sys.argv:
        return 0

    t1 = {}
    t10 = {}
    t40 = {}
    for label, d, acc in (("1x", BASE, t1), ("10x", DIR10, t10), ("40x", DIR40, t40)):
        print(f"== {label} ({d})")
        acc.update(sp.bench(spark, qs, d, LANES))

    print("\nname, t1x, t10x, r10, t40x, r40/10")
    for n in LANES:
        a, b, c = t1.get(n), t10.get(n), t40.get(n)
        r10 = round(b / a, 1) if isinstance(a, float) and isinstance(b, float) and a > 0 else "-"
        r40 = round(c / b, 1) if isinstance(b, float) and isinstance(c, float) and b > 0 else "-"
        print(f"{n:28s} {a} {b} {r10} {c} {r40}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
