#!/usr/bin/env python
"""Scale-up probe: run the heaviest graph/dedup queries on an N× corpus.

Small-SF gates prove correctness; this probe measures the *scaling
direction* of the operators whose cost is super-linear in the worst
case (pair joins, connected components, postings joins). It synthesizes
an N× `documents` table by unioning the base corpus with doc_id
offsets — which also MULTIPLIES the duplicate structure (every doc
gains N-1 exact near-dup partners), so the dup graph grows in both
node count and edge density: a deliberately-adversarial scale-up, not
a friendly one. (The round-3 pointer-jumping fix in connected
components was exactly the class of cliff this probe exists to catch —
label propagation converged at sf0.01 and hit the iteration cap at
sf0.1.)

Usage:
    python tools/scale_probe.py [N] [base_sf_dir]

Writes the synthetic corpus under tmp_scale_probe/ in the checkout (removed
afterwards), prints per-query wall times at 1x and Nx, and flags any
query whose time grows faster than N^2 (pair-producing ops are allowed
up to ~N^2 because the planted dup structure is itself quadratic).
"""

from __future__ import annotations

import pathlib
import shutil
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

PROBES = [
    "d_exact_dedup",
    "d_lsh_candidates",
    "d_dedup_clusters",
    "t_leakage_split",
    "t_bm25_topk",
    "q_trade_pagerank",  # reads lineitem/orders — unaffected by the Nx
    "m_cdc_chunks",
    # round 5: under this probe EVERY doc gains N-1 exact copies, so
    # every K-gram window is corpus-repeated and the dedup has to cover
    # (and cut) nearly the whole corpus — the worst case for the
    # covered-token explode and the canon groupBy-min
    "t_substring_spans",
    "t_substring_dedup",
]


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    out = f"{REPO}/tmp_scale_probe"

    import __spark_entry__ as E
    from daxos_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark()
    docs = spark.read.parquet(f"{base}/documents.parquet")
    n_docs = docs.count()
    big = docs
    for i in range(1, n):
        big = big.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + i * 1_000_000)
        )
    shutil.rmtree(out, ignore_errors=True)
    big.write.parquet(f"{out}/documents.parquet")
    # other tables: symlink-free copy of the small versions (only
    # documents scales in this probe)
    import os

    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "embeddings",
    ]:
        shutil.copy(f"{base}/{t}.parquet", f"{out}/{t}.parquet")

    qs = E.queries()
    flagged = 0
    print(f"probe: {n_docs} docs -> {n_docs * n} ({n}x, adversarial dup structure)")
    for name in PROBES:
        t0 = time.time()
        qs[name](spark, base).write.format("noop").mode("overwrite").save()
        t1 = time.time() - t0
        # the 1x run's leaked caches must not pressure the Nx run — the
        # ratio's numerator (see bench.py)
        spark.catalog.clearCache()
        t0 = time.time()
        qs[name](spark, out).write.format("noop").mode("overwrite").save()
        tn = time.time() - t0
        ratio = tn / max(t1, 0.05)
        verdict = "OK" if ratio <= n * n else "SUPERQUADRATIC"
        if verdict != "OK":
            flagged += 1
        print(f"{name:24s} 1x {t1:6.1f}s  {n}x {tn:6.1f}s  ratio {ratio:5.1f}  {verdict}")
        spark.catalog.clearCache()
    shutil.rmtree(out, ignore_errors=True)
    print(f"== {flagged} flagged")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
