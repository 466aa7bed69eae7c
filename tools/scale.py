#!/usr/bin/env python
"""One scale tool: synthesize an N× corpus from a base sf dir, time
queries at 1× and at each N×, and prove the scaled lanes equal.

Synthesis (`synthesize`) replicates every fact table F times with each
replica's keys offset by the key's span (max + 1 in the base), so the
replicas never share a key; the dims (region, nation) pass through.
Document text is made replica-disjoint in one of two ways:

- rotate (default): content tokens are letter-bijected per replica
  (`_rotate_map`: Caesar rotation, then an affine continuation past
  26), stopwords untouched. The bijection is length-preserving, so
  every Gopher feature (word count, mean word length, alpha ratio,
  stopword hits, repetition) is replica-invariant: each replica keeps
  the base's internal duplicate/shingle structure, duplicate mass
  grows LINEARLY with F, and the quality funnel stays live (survivor
  mass scales with the corpus).
- copies (``--copies``): every replica keeps the base text verbatim,
  so every document gains F-1 exact duplicates and the dup graph grows
  in node count AND edge density — the adversarial, quadratic corpus.
  A query whose time grows faster than F² is flagged and the tool
  exits 1 (pair-producing operators may reach ~F² because the planted
  dup structure is itself quadratic).

Embedding replicas perturb dim0 by 1e-3·replica so kNN has no
degenerate exact ties across replicas.

A corpus lives under ``tmp_scale/`` in the checkout, one directory per
(base, factor, mode). It is reused only when the marker written after
its last table matches; a partial or mismatched directory is rebuilt.

Timing: each query runs once warm, then once timed, at 1× (the base)
and at every factor, as a noop write of its full output, with the
session's cache cleared between queries. The default query set is
bench.PINNED_QUERIES; names given on the command line replace it.
``--digest`` runs the three equality proofs below at every factor
instead of the default timing set (named queries are still timed):

- d_prefix_filter_jaccard, Spark vs a prefix-filtered duckdb twin, by
  an order-independent digest of the full result (`prefix_digest`;
  SKIP when the twin would outgrow the host, e.g. sf0.1 ×10);
- t_refinery_linear vs t_refinery_lane2, survivor-set digests per
  funnel stage plus the 5-row outputs (`refinery_lane_digest`);
- t_refinery_html_e2e as one plan vs extraction materialized to parquet
  then the text refinery (`html_lane_digest`).

Progress and proof lines go to stderr; stdout is one JSON document of
per-factor times, ratios and proof verdicts.

Usage:
    python tools/scale.py [--base DIR] --factor F [--factor F2 ...]
                          [--copies] [--digest] [query ...]
Clean up with: rm -rf tmp_scale (in the checkout)
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from daxos_spark.catalog import DEFAULT_SF_DIR, TABLES  # noqa: E402

TMP = REPO / "tmp_scale"
MARKER = "_SCALE.json"

# key columns offset per replica (offset = replica * span, span = max+1)
FACT_KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# rotate leaves these untouched so the stopword features stay live
# (bijecting them zeroed the stopword ratio corpus-wide and every
# replica failed the quality gate)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
ALPHA = "abcdefghijklmnopqrstuvwxyz"
MAX_ROTATE_FACTOR = 52


def say(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _rotate_map(r: int) -> str:
    """Length-preserving letter bijection for replica ``r``: Caesar
    rotation for r < 26; past the wrap (where r % 26 would collide with
    replica r-26 and plant quadratic cross-replica duplicate mass) the
    affine cipher x -> 3x + (r-26). 3 is coprime with 26 and no affine
    map with a=3 equals a rotation (a=1), so the 52 maps r in [0, 52)
    are pairwise distinct bijections."""
    if not 0 <= r < MAX_ROTATE_FACTOR:
        raise ValueError(f"no rotate bijection for replica {r}")
    if r < 26:
        return ALPHA[r:] + ALPHA[:r]
    b = r - 26
    return "".join(ALPHA[(3 * i + b) % 26] for i in range(26))


def check_factor(factor: int, copies: bool = False) -> None:
    if not isinstance(factor, int) or factor < 1:
        raise ValueError(f"factor must be an integer >= 1, got {factor!r}")
    if not copies and factor > MAX_ROTATE_FACTOR:
        raise ValueError(
            f"rotate synthesis supports factor <= {MAX_ROTATE_FACTOR} "
            f"(one distinct letter bijection per replica), got {factor}"
        )


def corpus_dir(base: str, factor: int, copies: bool = False) -> str:
    """The tmp_scale/ directory of one (base, factor, mode) corpus."""
    base = os.path.abspath(base)
    tag = hashlib.md5(base.encode()).hexdigest()[:6]
    mode = "copies" if copies else "rotate"
    return str(TMP / f"{os.path.basename(base)}-{tag}_x{factor}_{mode}")


def _is_built(out_dir: str, want: dict) -> bool:
    try:
        with open(os.path.join(out_dir, MARKER)) as f:
            return json.load(f) == want
    except (OSError, ValueError):
        return False


def _clear(out_dir: str) -> None:
    """Remove a stale or partial corpus; refuse a directory holding
    anything a synthesis would not have written."""
    if not os.path.exists(out_dir):
        return
    ours = {f"{t}.parquet" for t in TABLES} | {MARKER}
    foreign = set(os.listdir(out_dir)) - ours
    if foreign:
        raise ValueError(f"{out_dir} holds non-corpus files {sorted(foreign)}")
    shutil.rmtree(out_dir)


def _replica(df, name: str, r: int, spans: dict, copies: bool):
    for k, span in spans.get(name, {}).items():
        df = df.withColumn(k, F.col(k) + F.lit(r * span))
    if name == "documents" and not copies:
        rot = _rotate_map(r)
        df = df.withColumn(
            "text",
            F.concat_ws(
                " ",
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.when(t.isin(*STOPWORDS), t).otherwise(
                        F.translate(t, ALPHA, rot)
                    ),
                ),
            ),
        ).withColumn("n_chars", F.length("text"))
    if name == "embeddings":
        df = df.withColumn(
            "embedding",
            F.concat(
                F.array((F.element_at("embedding", 1) + F.lit(r * 1e-3)).cast("float")),
                F.slice("embedding", 2, 10_000),
            ),
        )
    return df


def synthesize(spark, base: str, out_dir: str, factor: int, copies: bool = False) -> str:
    """Write the ``factor``× corpus of ``base`` to ``out_dir`` (see the
    module docstring) and return ``out_dir``. A directory whose marker
    matches (base, factor, mode) is reused as is."""
    from daxos_spark import catalog

    check_factor(factor, copies)
    if os.path.abspath(out_dir) == os.path.abspath(base):
        raise ValueError("out_dir must differ from base")
    want = {
        "base": os.path.abspath(base),
        "factor": factor,
        "mode": "copies" if copies else "rotate",
    }
    if _is_built(out_dir, want):
        return out_dir
    _clear(out_dir)
    # a rebuilt dir must not be served from the session's table cache
    catalog._CACHE.pop((spark.sparkContext.applicationId, out_dir), None)
    os.makedirs(out_dir)
    tables = catalog.load_tables(spark, base)
    spans = {}
    for name, keys in FACT_KEYS.items():
        row = tables[name].agg(*[F.max(k).alias(k) for k in keys]).first()
        spans[name] = {k: int(row[k]) + 1 for k in keys}
    for name in TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name not in FACT_KEYS:
            tables[name].write.parquet(dst)
            continue
        out = _replica(tables[name], name, 0, spans, copies)
        for r in range(1, factor):
            out = out.unionByName(_replica(tables[name], name, r, spans, copies))
        out.repartition(32).write.parquet(dst)
        say(f"synthesized {name} x{factor}")
    with open(os.path.join(out_dir, MARKER), "w") as f:
        json.dump(want, f)
    return out_dir


def bench(spark, qs, sf_dir: str, names) -> dict:
    """Warm run, then timed run, of each query as a noop write."""
    times = {}
    for name in names:
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[name] = round(time.time() - t0, 2)
        except Exception as e:  # noqa: BLE001 — record, keep probing
            times[name] = f"ERR {type(e).__name__}"
        say(f"  {name:30s} {times[name]}")
        # queries persist() intermediates and rely on the harness to
        # clear between queries (see bench.py); leaked caches would
        # pressure the larger corpora
        spark.catalog.clearCache()
    return times


# ---- equality proofs -------------------------------------------------
#
# All three compare ORDER-INDEPENDENT digests computed inside each
# engine: n rows (or survivors) and Σ md5_long(key) summed as
# DECIMAL(38,0) — exact and associative, and 56-bit summands over
# ≤ 2^31 rows cannot overflow 38 digits — so no result set is
# collected out of the engine.

def _prefix_twin() -> str:
    """Prefix-filtered duckdb twin of d_prefix_filter_jaccard (τ = 0.6)
    — the same algorithm, not the O(n²) brute-force oracle, whose
    losslessness the sf0.01/sf0.1 gates prove. jaccard_micro =
    ROUND(jaccard * 1e6): the query's jaccard is FLOOR-truncated to 6
    decimals, so nearest-int rounding is engine-identical."""
    from daxos_spark.functions.hashing import md5_long_sql

    key = "concat(da, '|', db, '|', CAST(ROUND(jaccard * 1000000.0) AS BIGINT))"
    toks = "string_split_regex(lower(trim(text)), '\\s+')"
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({toks})) AS t FROM documents
), dfreq AS (
  SELECT t, COUNT(*) AS df FROM tok GROUP BY t
), sorted_tk AS (
  SELECT doc_id, list(t ORDER BY df, t) AS tk, COUNT(*) AS n
  FROM tok JOIN dfreq USING (t) GROUP BY doc_id
), pref AS (
  SELECT doc_id, n, unnest(tk[1 : CAST(n - CEIL(0.6 * n) + 1 AS BIGINT)]) AS t
  FROM sorted_tk
), cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM pref a JOIN pref b
    ON a.t = b.t AND a.doc_id < b.doc_id
   AND LEAST(a.n, b.n) * 10 >= GREATEST(a.n, b.n) * 6
), inter AS (
  SELECT c.da, c.db, COUNT(*) AS ni
  FROM cand c
  JOIN tok x ON x.doc_id = c.da
  JOIN tok y ON y.doc_id = c.db AND y.t = x.t
  GROUP BY c.da, c.db
), pairs AS (
  SELECT i.da, i.db,
         FLOOR((i.ni / (sa.n + sb.n - i.ni)) * 1000000.0) / 1000000.0 AS jaccard
  FROM inter i
  JOIN sorted_tk sa ON sa.doc_id = i.da
  JOIN sorted_tk sb ON sb.doc_id = i.db
  WHERE 10 * i.ni >= 6 * (sa.n + sb.n - i.ni)
)
SELECT COUNT(*) AS n_rows,
       SUM(CAST({md5_long_sql(key)} AS DECIMAL(38,0))) AS digest
FROM pairs
"""


def spark_digest(df, key) -> tuple[int, int]:
    """(n rows, Σ md5_long(key) as DECIMAL(38,0)) of a Spark frame."""
    from daxos_spark.functions.hashing import md5_long

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(md5_long(key).cast("decimal(38,0)")).alias("d"),
    ).first()
    return int(row["n"]), int(row["d"] or 0)


# The twin's inter-join hash tables are not bounded by duckdb's
# memory_limit: at sf0.1 ×10 (71M result pairs) it reached 126 GB RSS
# under a 32 GB limit, about 1.8 KB per pair.
_TWIN_BYTES_PER_PAIR = 1800


def prefix_digest(spark, sf_dir: str) -> bool | None:
    """PASS/FAIL as a bool; None when the Spark result is too large for
    the duckdb twin on this host (the Spark digest is still printed)."""
    import __spark_entry__ as E
    from tools.check_oracle import duckdb_mem_mb, duckdb_views

    t0 = time.time()
    out = E.queries()["d_prefix_filter_jaccard"](spark, sf_dir)
    key = F.concat_ws(
        "|",
        F.col("da"),
        F.col("db"),
        F.round(F.col("jaccard") * F.lit(1000000.0)).cast("bigint"),
    )
    s_n, s_d = spark_digest(out, key)
    spark.catalog.clearCache()
    say(f"spark : n={s_n} digest={s_d} ({time.time()-t0:.0f}s)")
    need_mb = s_n * _TWIN_BYTES_PER_PAIR // 2**20
    if need_mb > duckdb_mem_mb():
        say(
            f"SKIP d_prefix_filter_jaccard digest @ {sf_dir}: the duckdb twin "
            f"needs ~{need_mb} MB, the host gives it {duckdb_mem_mb()} MB"
        )
        return None
    t0 = time.time()
    o = duckdb_views(sf_dir).execute(_prefix_twin()).fetchone()
    o_n, o_d = int(o[0]), int(o[1] or 0)
    say(f"duckdb: n={o_n} digest={o_d} ({time.time()-t0:.0f}s)")
    ok = (s_n, s_d) == (o_n, o_d)
    say(f"{'PASS' if ok else 'FAIL'} d_prefix_filter_jaccard digest @ {sf_dir}")
    return ok


def stage_summary(verdicts):
    """One row: per funnel stage 2..5 the survivor count n, token mass
    t and survivor-set digest d (Σ md5_long('rl#'||doc_id))."""
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


def _compare_stages(a, b, la: str, lb: str) -> bool:
    ok = True
    for i in (2, 3, 4, 5):
        same = all(a[f"{k}{i}"] == b[f"{k}{i}"] for k in ("n", "t", "d"))
        ok &= same
        say(
            f"stage {i}: {la} n={a[f'n{i}']} tok={a[f't{i}']} "
            f"digest={a[f'd{i}']} | {lb} n={b[f'n{i}']} "
            f"tok={b[f't{i}']} digest={b[f'd{i}']} "
            f"-> {'MATCH' if same else 'DIVERGE'}"
        )
    return ok


def _verdict_summary(spark, sf_dir: str, two_lane: bool = False):
    from daxos_spark.plans.textpipe import _refinery_linear_lazy, _refinery_verdicts

    v, caches = _refinery_linear_lazy(spark, sf_dir, two_lane=two_lane, tail=_refinery_verdicts)
    summary = stage_summary(v)
    for c in caches:
        c.unpersist()
    spark.catalog.clearCache()
    return summary


def _rows(spark, fn, sf_dir: str) -> list:
    rows = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    spark.catalog.clearCache()
    return rows


def refinery_lane_digest(spark, sf_dir: str) -> bool:
    """The 112-bit two-lane ExactSubstr key widening is value-invariant:
    both funnels give identical survivor SETS at every stage and
    row-identical 5-row outputs. Any doc the extra lane admitted or
    dropped at any stage flips a digest."""
    from daxos_spark.plans.textpipe import t_refinery_lane2, t_refinery_linear

    summaries, rows = {}, {}
    for label, two_lane, fn in (
        ("linear", False, t_refinery_linear),
        ("lane2", True, t_refinery_lane2),
    ):
        t0 = time.time()
        summaries[label] = _verdict_summary(spark, sf_dir, two_lane)
        t_v = time.time() - t0
        t0 = time.time()
        rows[label] = _rows(spark, fn, sf_dir)
        say(f"{label}: verdict digests {t_v:.0f}s, funnel {time.time()-t0:.0f}s")
    ok = _compare_stages(summaries["linear"], summaries["lane2"], "linear", "lane2")
    rows_same = rows["linear"] == rows["lane2"]
    ok &= rows_same
    say(f"funnel outputs row-identical: {rows_same}")
    say(f"funnel rows: {rows['linear']}")
    say(
        f"{'PASS' if ok else 'FAIL'} t_refinery_linear == t_refinery_lane2 @ {sf_dir} "
        "(survivor-set digests + counts + token mass per stage, "
        "plus the registered 5-row outputs)"
    )
    return ok


def html_lane_digest(spark, sf_dir: str, mat_dir: str) -> bool:
    """t_refinery_html_e2e as one plan (lane A) equals the staged
    two-job deployment (lane B): extraction materialized to ``mat_dir``
    as its documents table (other tables symlinked), then the text
    refinery over it. Text-funnel stages 2..5 (= composed stages 3..6)
    must match survivor count, token mass and survivor-set digest, and
    composed rows 3-6 must equal staged rows 2-5. The lanes share gate
    code but not plan shape, so nondeterminism in the extraction chain,
    schema drift in the materialization or a doc-set mismatch in the
    semantic stage would flip a digest."""
    from daxos_spark.plans.htmlpipe import _refinery_html_parts, t_refinery_html_e2e
    from daxos_spark.plans.textpipe import t_refinery_linear

    t0 = time.time()
    ext, verdicts_a, caches = _refinery_html_parts(spark, sf_dir)
    sum_a = stage_summary(verdicts_a)
    # recreated from scratch: stale symlinks from a run against another
    # corpus would feed lane B the wrong embeddings
    shutil.rmtree(mat_dir, ignore_errors=True)
    os.makedirs(mat_dir)
    for t in TABLES:
        if t != "documents":
            os.symlink(
                os.path.abspath(os.path.join(sf_dir, f"{t}.parquet")),
                os.path.join(mat_dir, f"{t}.parquet"),
            )
    # lane B's input is the SAME checkpointed extraction frame (empty
    # extractions already dropped)
    ext.select(
        "doc_id", "text", "lang", "source", F.length("text").alias("n_chars")
    ).write.parquet(os.path.join(mat_dir, "documents.parquet"))
    for c in caches:
        c.unpersist()
    rows_a = _rows(spark, t_refinery_html_e2e, sf_dir)
    say(f"lane A (composed): {time.time()-t0:.0f}s")

    t0 = time.time()
    sum_b = _verdict_summary(spark, mat_dir)
    rows_b = _rows(spark, t_refinery_linear, mat_dir)
    say(f"lane B (staged): {time.time()-t0:.0f}s")

    ok = _compare_stages(sum_a, sum_b, "composed", "staged")
    tail_a = [(s - 1, name, n, t) for (s, name, n, t) in rows_a if s >= 3]
    tail_b = [(s, name, n, t) for (s, name, n, t) in rows_b if s >= 2]
    rows_same = tail_a == tail_b
    ok &= rows_same
    say(f"funnel tails row-identical (A rows 3-6 == B rows 2-5): {rows_same}")
    say(f"composed funnel: {rows_a}")
    say(f"staged funnel:   {rows_b}")
    say(
        f"{'PASS' if ok else 'FAIL'} t_refinery_html_e2e (one plan) == "
        f"extract-materialize + t_refinery_linear (two jobs) @ {sf_dir}"
    )
    return ok


def _ratio(big, small):
    if isinstance(big, float) and isinstance(small, float):
        return round(big / max(small, 0.05), 1)
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default=DEFAULT_SF_DIR, help="base sf dir (1x)")
    ap.add_argument("--factor", type=int, action="append", required=True,
                    help="scale factor; repeat for several (1 = the base itself)")
    ap.add_argument("--copies", action="store_true",
                    help="exact-copy replica text (adversarial, quadratic dup mass)")
    ap.add_argument("--digest", action="store_true",
                    help="run the equality proofs at every factor")
    ap.add_argument("queries", nargs="*", help="queries to time (default: bench.PINNED_QUERIES)")
    args = ap.parse_args(argv)
    for f in args.factor:  # before any write
        try:
            check_factor(f, args.copies)
        except ValueError as e:
            ap.error(str(e))

    import __spark_entry__ as E
    from bench import PINNED_QUERIES
    from daxos_spark.session import get_spark

    # the console progress bar would interleave with the stderr report
    spark = get_spark("scale", extra_conf={"spark.ui.showConsoleProgress": "false"})
    names = args.queries or ([] if args.digest else PINNED_QUERIES)
    qs = E.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    factors = sorted(set(args.factor))
    scaled = [f for f in factors if f > 1]
    dirs = {1: args.base}
    for f in scaled:
        t0 = time.time()
        dirs[f] = synthesize(spark, args.base, corpus_dir(args.base, f, args.copies), f, args.copies)
        say(f"x{f} corpus at {dirs[f]} ({time.time()-t0:.0f}s)")

    report = {
        "base": args.base,
        "mode": "copies" if args.copies else "rotate",
        "corpora": {str(f): d for f, d in dirs.items()},
        "times": {},
        "ratios": {},
    }
    failed = False
    if names:
        times = {}
        for f, d in sorted(dirs.items()):
            say(f"== {f}x ({d})")
            times[f] = report["times"][str(f)] = bench(spark, qs, d, names)
        for f in scaled:
            report["ratios"][str(f)] = {n: _ratio(times[f][n], times[1][n]) for n in names}
        if args.copies:
            flagged = sorted(
                f"{n}@{f}x"
                for f in scaled
                for n, r in report["ratios"][str(f)].items()
                if r is not None and r > f * f
            )
            report["superquadratic"] = flagged
            failed |= bool(flagged)
    if args.digest:
        report["digest"] = {}
        for f in factors:
            d = dirs[f]
            proofs = {
                "prefix": prefix_digest(spark, d),
                "refinery_lane": refinery_lane_digest(spark, d),
                "html_lane": html_lane_digest(
                    spark, d, str(TMP / f"html_lane_{os.path.basename(os.path.normpath(d))}")
                ),
            }
            report["digest"][str(f)] = {
                k: {True: "PASS", False: "FAIL", None: "SKIP"}[v] for k, v in proofs.items()
            }
            failed |= False in proofs.values()
    print(json.dumps(report, indent=1))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
