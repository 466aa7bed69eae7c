#!/usr/bin/env python
"""Round-6 scale probes: third scale point + fixed-panel verification.

Three measurements the round-5 verdict asked for:
1. (ask #1) the new FIXED-panel kNN screens (v_label_noise_panel,
   q_trajectory_knn_panel) must probe ≤ ~1.5x at 10x data — their
   fraction-panel originals measured 6.0x / 9.2x.
2. (ask #3) a THIRD scale point (30x) for the two vocabulary-argued
   outliers t_source_overlap (3.9x at 10x) and t_bigram_ppl (3.8x at
   10x): if the 10x→30x ratio falls below 3, the curves are flattening
   as the vocabulary saturates (both queries' cost is dominated by
   gram/bigram TYPE cardinality, which the replica construction grows
   sub-linearly past the base corpus).
3. (ask #5) t_dedup_best_keep isolated timing for the profile work.

Synthesis reuses tools/sf1_probe.py's replica machinery (token-bijected
documents, offset keys) at N_REP=10 (tmp_sf1) and N_REP=30 (tmp_sf3).

Usage: python tools/scale3_probe.py [--skip-30x]
Clean up with: rm -rf tmp_sf1 tmp_sf3 (in the checkout)
"""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import tools.sf1_probe as sp  # noqa: E402

BASE = "/root/testdata/sf0.1"
PANEL_PROBES = [
    "v_label_noise_panel",
    "q_trajectory_knn_panel",
    "v_label_noise",
    "q_trajectory_knn",
    "t_dedup_best_keep",
    "t_kneser_ney_ppl",
    "t_refinery_e2e",
    "v_nprobe_sweep",
    "q_changepoint_revenue",
    "q_l_diversity",
    "t_weighted_sample",
]
THIRD_POINT = ["t_source_overlap", "t_bigram_ppl"]


def main() -> None:
    from daxos_spark.session import get_spark

    import __spark_entry__ as E

    skip30 = "--skip-30x" in sys.argv
    spark = get_spark()
    qs = E.queries()

    sp.N_REP = 10
    sp.synthesize(spark, f"{REPO}/tmp_sf1")
    if not skip30:
        sp.N_REP = 30
        sp.synthesize(spark, f"{REPO}/tmp_sf3")

    names = PANEL_PROBES + THIRD_POINT
    print("== 1x (sf0.1)")
    t1 = sp.bench(spark, qs, BASE, names)
    print("== 10x (tmp_sf1)")
    t10 = sp.bench(spark, qs, f"{REPO}/tmp_sf1", names)
    t30 = {}
    if not skip30:
        print("== 30x (tmp_sf3)")
        t30 = sp.bench(spark, qs, f"{REPO}/tmp_sf3", THIRD_POINT)

    print("\nname, t1x, t10x, ratio10, t30x, ratio30/10")
    for n in names:
        a, b = t1.get(n), t10.get(n)
        c = t30.get(n)
        r10 = round(b / a, 1) if isinstance(a, float) and isinstance(b, float) and a > 0 else "-"
        r30 = round(c / b, 1) if isinstance(b, float) and isinstance(c, float) and b > 0 else "-"
        print(f"{n:28s} {a} {b} {r10} {c} {r30}")


if __name__ == "__main__":
    main()
