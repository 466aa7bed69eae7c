#!/usr/bin/env python
"""Live-10× equality proof for the HTML-composed refinery
(round-11, VERDICT-r10 ask #1).

t_refinery_html_e2e claims that running the WHOLE pipeline — raw crawl
HTML → extract → Gopher → bigram fluency → ExactSubstr → linear
semantic keep — as ONE plan is equivalent to the two-job production
alternative: run extraction, MATERIALIZE the extracted corpus to
parquet, then run the text refinery (t_refinery_linear's machinery)
over it. The duckdb oracle proves the composed plan cross-engine at the
gate SFs; this probe proves the composed-vs-staged equivalence at the
live 10× corpus, where the duckdb oracle hits the box memory ceiling:

  lane A (composed): _refinery_html_parts verdicts at sf_dir
  lane B (staged):   extraction written to a tmp sf dir as its
                     documents table (extracted text, empty-extraction
                     docs dropped; other tables symlinked), then
                     _refinery_linear_lazy verdicts over that dir

and requires, per text-funnel stage 2..5 (= composed stages 3..6):
survivor COUNT, token mass, and the order-independent survivor-SET
digest (Σ md5_long('rl#'||doc_id) as DECIMAL(38,0) — the
refinery_lane_probe construction) to be identical, plus the composed
6-row funnel tail (rows 3-6) to row-match lane B's registered 5-row
funnel (rows 2-5).

Equality is non-trivial: the lanes share gate CODE but run it through
different plan shapes (one checkpointed in-plan frame vs a parquet
round-trip), so any nondeterminism in the extraction chain, a schema
drift in the materialization, or a doc-set mismatch in the semantic
stage (the docs=exd restriction) would flip a digest.

Default corpus is tmp_sf1_live (rotate-bijected 10× of sf0.1 — real
survivor mass; synthesized if missing).

Usage: python tools/html_lane_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from tools.refinery_lane_probe import stage_summary


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else f"{REPO}/tmp_sf1_live"
    from daxos_spark.session import get_spark

    spark = get_spark()

    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        from tools.sf1_probe import synthesize

        synthesize(
            spark, sf_dir, bijection="rotate" if sf_dir.endswith("_live") else "suffix"
        )

    from daxos_spark.catalog import TABLES
    from daxos_spark.plans.htmlpipe import _refinery_html_parts, t_refinery_html_e2e
    from daxos_spark.plans.textpipe import (
        _refinery_linear_lazy,
        _refinery_verdicts,
        t_refinery_linear,
    )

    # ---- lane A: the composed plan ------------------------------------
    t0 = time.time()
    ext, verdicts_a, caches = _refinery_html_parts(spark, sf_dir)
    sum_a = stage_summary(verdicts_a)
    # materialize lane B's input FROM THE SAME checkpointed extraction
    # frame (the staged deployment writes exactly what its extract job
    # produced; empty extractions are already dropped from it)
    import shutil

    # per-corpus dir, recreated from scratch: stale symlinks from a
    # previous run against a DIFFERENT corpus would silently feed lane B
    # the wrong embeddings (measured: the semantic stage goes vacuous)
    mat_dir = f"{REPO}/tmp_html_lane_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(mat_dir, ignore_errors=True)
    os.makedirs(mat_dir)
    for t in TABLES:
        if t == "documents":
            continue
        os.symlink(
            os.path.join(sf_dir, f"{t}.parquet"), os.path.join(mat_dir, f"{t}.parquet")
        )
    ext.select(
        "doc_id", "text", "lang", "source", F.length("text").alias("n_chars")
    ).write.mode("overwrite").parquet(os.path.join(mat_dir, "documents.parquet"))
    for c in caches:
        c.unpersist()
    rows_a = sorted(tuple(r) for r in t_refinery_html_e2e(spark, sf_dir).collect())
    spark.catalog.clearCache()
    print(f"lane A (composed): {time.time()-t0:.0f}s", flush=True)

    # ---- lane B: the staged two-job deployment ------------------------
    t0 = time.time()
    verdicts_b, caches_b = _refinery_linear_lazy(spark, mat_dir, tail=_refinery_verdicts)
    sum_b = stage_summary(verdicts_b)
    for c in caches_b:
        c.unpersist()
    rows_b = sorted(tuple(r) for r in t_refinery_linear(spark, mat_dir).collect())
    spark.catalog.clearCache()
    print(f"lane B (staged): {time.time()-t0:.0f}s", flush=True)

    ok = True
    for i in (2, 3, 4, 5):
        same = all(sum_a[f"{k}{i}"] == sum_b[f"{k}{i}"] for k in ("n", "t", "d"))
        ok &= same
        print(
            f"stage {i}: composed n={sum_a[f'n{i}']} tok={sum_a[f't{i}']} "
            f"digest={sum_a[f'd{i}']} | staged n={sum_b[f'n{i}']} "
            f"tok={sum_b[f't{i}']} digest={sum_b[f'd{i}']} "
            f"-> {'MATCH' if same else 'DIVERGE'}"
        )
    # composed funnel rows 3..6 must equal staged funnel rows 2..5
    # (stage ids shift by 1; names identical)
    tail_a = [(s - 1, name, n, t) for (s, name, n, t) in rows_a if s >= 3]
    tail_b = [(s, name, n, t) for (s, name, n, t) in rows_b if s >= 2]
    rows_same = tail_a == tail_b
    ok &= rows_same
    print(f"funnel tails row-identical (A rows 3-6 == B rows 2-5): {rows_same}")
    print(f"composed funnel: {rows_a}")
    print(f"staged funnel:   {rows_b}")
    print(
        f"{'PASS' if ok else 'FAIL'} t_refinery_html_e2e (one plan) == "
        f"extract-materialize + t_refinery_linear (two jobs) @ {sf_dir}"
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
