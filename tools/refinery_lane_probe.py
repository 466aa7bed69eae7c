#!/usr/bin/env python
"""Spark-side 10× equality proof for the refinery lane pair
(round-10, VERDICT-r9 ask #1).

GATE_SF1_HEAVY_r9 hash-proved the heavy dedup/graph/refinery family at
the 10× corpus EXCEPT t_refinery_linear / t_refinery_lane2, where the
duckdb oracle hits the box memory ceiling past 3×. But the claim that
matters for those two — the 112-bit two-lane ExactSubstr key widening
is value-invariant below the collision horizon — is provable WITHOUT
duckdb: run BOTH funnels at the 10× corpus inside Spark and require

  1. the two 5-row funnel outputs are row-identical, and
  2. per STAGE, the survivor SETS are identical — compared by an
     order-independent in-engine digest of each stage's surviving
     doc_ids (n, Σ md5_long('rl#'||doc_id) as DECIMAL(38,0) — the
     prefix_digest_probe construction: exact, associative, no driver
     collect of the survivor sets), plus the stage token masses.

Any doc the extra lane admitted or dropped at ANY stage flips a digest;
equal digests + equal counts pin the survivor sets themselves, closing
the only hash gap left in the heavy gate.

The default corpus is tmp_sf1_live — the ROTATE-bijected 10× synthesis
(tools/sf1_probe.synthesize(bijection="rotate")): length-preserving
per-replica Caesar rotation of content tokens keeps every Gopher
feature replica-invariant, so the funnel has REAL survivor mass at 10×
(the standard suffix-bijected tmp_sf1 has zero quality-gate survivors —
the r9 caveat — which would make stages 2-5 vacuously equal).

Usage: python tools/refinery_lane_probe.py [sf_dir]
       (default tmp_sf1_live; synthesized from sf0.1 if missing)
"""

from __future__ import annotations

import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F


def stage_summary(verdicts):
    """One row: per stage s2..s5 — survivor count, token mass, and the
    order-independent survivor-set digest. All exact integers/decimals."""
    from daxos_spark.functions.hashing import md5_long

    h = md5_long(F.concat(F.lit("rl#"), F.col("doc_id").cast("string"))).cast(
        "decimal(38,0)"
    )
    s2 = F.col("p_gopher")
    s3 = s2 * F.col("p_ppl")
    s4 = s3 * F.col("p_sub")
    s5 = s4 * F.col("p_sem")
    aggs = []
    for i, s in ((2, s2), (3, s3), (4, s4), (5, s5)):
        aggs += [
            F.sum(s).cast("bigint").alias(f"n{i}"),
            F.sum(s * F.col("n_tok")).cast("bigint").alias(f"t{i}"),
            F.sum(h * s).alias(f"d{i}"),
        ]
    return verdicts.agg(*aggs).first()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else f"{REPO}/tmp_sf1_live"
    from daxos_spark.session import get_spark

    spark = get_spark()

    import os

    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        from tools.sf1_probe import synthesize

        synthesize(
            spark, sf_dir, bijection="rotate" if sf_dir.endswith("_live") else "suffix"
        )

    from daxos_spark.plans.textpipe import (
        _refinery_linear_lazy,
        _refinery_verdicts,
        t_refinery_lane2,
        t_refinery_linear,
    )

    rows = {}
    summaries = {}
    for label, two_lane in (("linear", False), ("lane2", True)):
        t0 = time.time()
        v, caches = _refinery_linear_lazy(spark, sf_dir, two_lane=two_lane, tail=_refinery_verdicts)
        summaries[label] = stage_summary(v)
        for c in caches:
            c.unpersist()
        spark.catalog.clearCache()
        t_v = time.time() - t0

        t0 = time.time()
        fn = t_refinery_lane2 if two_lane else t_refinery_linear
        rows[label] = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        spark.catalog.clearCache()
        print(
            f"{label}: verdict digests {t_v:.0f}s, funnel {time.time()-t0:.0f}s",
            flush=True,
        )

    ok = True
    s_lin, s_l2 = summaries["linear"], summaries["lane2"]
    for i in (2, 3, 4, 5):
        same = all(s_lin[f"{k}{i}"] == s_l2[f"{k}{i}"] for k in ("n", "t", "d"))
        ok &= same
        print(
            f"stage {i}: linear n={s_lin[f'n{i}']} tok={s_lin[f't{i}']} "
            f"digest={s_lin[f'd{i}']} | lane2 n={s_l2[f'n{i}']} "
            f"tok={s_l2[f't{i}']} digest={s_l2[f'd{i}']} "
            f"-> {'MATCH' if same else 'DIVERGE'}"
        )
    rows_same = rows["linear"] == rows["lane2"]
    ok &= rows_same
    print(f"funnel outputs row-identical: {rows_same}")
    print(f"funnel rows: {rows['linear']}")
    print(
        f"{'PASS' if ok else 'FAIL'} t_refinery_linear == t_refinery_lane2 @ {sf_dir} "
        "(survivor-set digests + counts + token mass per stage, "
        "plus the registered 5-row outputs)"
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
