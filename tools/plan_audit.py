#!/usr/bin/env python
"""Automated physical-plan audit across the whole registered surface.

For every `queries()` entry, builds the DataFrame at a small SF and
inspects the physical plan string for plan-quality violations:

1. CartesianProduct — an unkeyed O(n*m) join that AQE cannot save.
   Broadcast nested-loop joins over tiny/1-row relations (the scalar
   crossJoin pattern) are fine and NOT flagged.
2. Duplicated Python-UDF evaluation — the same ArrowEvalPython /
   BatchEvalPython expression appearing in two stacked nodes means
   Catalyst's projection collapse made the UDF run more than once per
   row (caught live on v_ivfpq_knn in round 3; see PLANS.md).
3. Row-at-a-time BatchEvalPython — every Python crossing in this repo
   is supposed to be Arrow-batched.
4. Rank-filter without WindowGroupLimit (round 9) — a
   ``row_number()/rank() ... FILTER (rk <= N)`` site that does NOT get
   the WindowGroupLimit Partial→Final pushdown full-sorts every
   partition group at scale instead of keeping N-row map-side heaps.
   Every rank-filter site must either show a matching WindowGroupLimit
   node, be over a bounded input (WGL_BOUNDED_INPUT, e.g. a rank
   re-derivation over an already-TakeOrdered panel), or compare the
   rank to a COLUMN (WGL_COLUMN_VALUED — the exact-rank audit class
   the pushdown cannot express, accepted as documented drop-at-scale
   branches per the round-7 q_hdr_latency convention). Unfiltered rank
   windows (rank consumed as a value: gaps-and-islands offsets,
   Spearman/Zipf ranks, attribution positions) are reported by
   ``--wgl-table`` but not flagged — there is nothing to push down.

Usage:
    python tools/plan_audit.py [sf_dir] [name ...]
    python tools/plan_audit.py --wgl-table [sf_dir]   # classification table

Exit 1 on any violation; prints one line per query otherwise.
The audit runs each registered callable exactly as production does
(construction-time actions such as codebook collects and Newton steps
run at the given SF, so it doubles as a construction smoke test). A
query that caches intermediates returns a checkpoint
(registry.checkpoint_release), whose own plan is only
``Scan ExistingRDD``; the audit therefore also records the plan of
every DataFrame the query checkpoints (``query_plans``) and checks
the recorded plans together.
"""

from __future__ import annotations

import pathlib
import re
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


# rank-filter sites where the rank is re-derived over an input a
# TakeOrderedAndProject already bounded to a fixed panel — the group
# fits one partition, nothing to push down
WGL_BOUNDED_INPUT = {
    "q_kmv_set_ops": "global rank over the TakeOrdered-256 KMV synopsis",
    "ml_prs_score": "global rank over the TakeOrdered-8 score panel",
    "q_itemcf_topk": "rank over the TakeOrdered-25 hot-item probe panel",
    "t_zipf_fit": "global rank over the TakeOrdered-200 frequency head",
    "q_touch_attribution": (
        "rn=1 filter sits ABOVE a same-partition count(*) window that "
        "needs every row (n_touches), so the pushdown is semantically "
        "impossible; the sorted group is touches-per-conversion "
        "(domain-bounded, not corpus-bounded)"
    ),
    "ml_prune_replay_fixed": (
        "prune decision (rk <= K consumed as a COLUMN of the output, "
        "not a filter) over the p-length feature-position relation — "
        "p-bounded like the reference's driver-side prune vector "
        "(refit.py:66), not corpus-bounded"
    ),
}

# rank compared to a COLUMN (not a literal): WindowGroupLimit cannot
# express these — each is a documented drop-at-scale audit branch
# (PLANS.md unpartitioned-window table / SCALE.md q_hdr convention)
WGL_COLUMN_VALUED = {
    "q_hdr_latency": "exact-rank accuracy audit (rank == column target)",
    "q_conformal_interval": "calibration quantile index (rank == ceil(q*n))",
    "q_changepoint_revenue": (
        "binary-seg split enumeration (k < n) over the DAY-grain revenue "
        "series — date-cardinality-bounded input, rank consumed as the "
        "prefix index"
    ),
    "t_crawl_budget": (
        "largest-remainder apportionment (rank <= leftover column) over "
        "the HOST-cardinality relation — hosts, not pages, so the "
        "single-partition sort is census-sized by construction"
    ),
}

_RANK_ATTR = re.compile(
    r"(row_number|rank|dense_rank)\(\) windowspecdefinition.*? AS (\w+#\d+)"
)


def _wgl_sites(plan: str):
    """Classify every distinct rank-window attribute in the plan text.
    Returns {attr: (func, kind, detail)} with kind one of
    'pushed' / 'literal-miss' / 'column-valued' / 'value-only'."""
    out = {}
    funcs = {}
    for m in _RANK_ATTR.finditer(plan):
        funcs.setdefault(m.group(2), m.group(1))
    for attr, func in funcs.items():
        a = re.escape(attr)
        lit = re.search(rf"\({a} (<=|<|=) (\d+)\)", plan)
        # column-valued comparisons render with the rank cast-wrapped,
        # e.g. Filter (cast(rn#186 as bigint) <= CEIL(0.9 * ...))
        col = re.search(
            rf"(?:\(|\b)(?:cast\()?{a}(?: as \w+\))? (<=|<|=|>=|>) ([^)\n]+?)[),]",
            plan,
        )
        if lit:
            op, n = lit.group(1), int(lit.group(2))
            limit = n - 1 if op == "<" else n
            pushed = re.search(
                rf"WindowGroupLimit \[.*{func}\(\), {limit}(,|\s|$)", plan
            )
            out[attr] = (
                func,
                "pushed" if pushed else "literal-miss",
                f"{op} {n}",
            )
        elif col and not re.fullmatch(r"\d+", col.group(2)):
            out[attr] = (func, "column-valued", f"{col.group(1)} {col.group(2)[:40]}")
        else:
            out[attr] = (func, "value-only", "")
    return out


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def query_plans(fn, spark, sf_dir: str, render=executed_plan) -> list[str]:
    """Build one query through its registered callable and return
    ``render(df)`` for every DataFrame it localCheckpoints, then for the
    DataFrame it returns. pyspark's DataFrame.localCheckpoint is wrapped
    from outside the package for the length of the build, so the
    library carries no audit-only code path."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []
    checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(render(self))
        return checkpoint(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording
    try:
        df = fn(spark, sf_dir)
    finally:
        DataFrame.localCheckpoint = checkpoint
    return plans + [render(df)]


def audit_plan(plan: str, name: str = "") -> list[str]:
    problems = []
    if "CartesianProduct" in plan:
        problems.append("CartesianProduct node")
    if "BatchEvalPython" in plan:
        problems.append("row-at-a-time BatchEvalPython (not Arrow)")
    # same UDF evaluated in more than one ArrowEvalPython node
    udfs = re.findall(r"ArrowEvalPython \[([a-zA-Z0-9_]+)\(", plan)
    dups = {u for u in udfs if udfs.count(u) > 1}
    if dups:
        problems.append(f"duplicated ArrowEvalPython: {sorted(dups)}")
    for attr, (func, kind, detail) in _wgl_sites(plan).items():
        if kind == "literal-miss" and name not in WGL_BOUNDED_INPUT:
            problems.append(
                f"rank-filter without WindowGroupLimit: {func}() {attr} {detail}"
            )
        elif kind == "column-valued" and name not in WGL_COLUMN_VALUED:
            problems.append(
                f"undocumented column-valued rank target: {func}() {attr} {detail}"
            )
    return problems


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--wgl-table"]
    wgl_table = "--wgl-table" in sys.argv
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    import __spark_entry__ as E
    from daxos_spark.session import get_spark

    spark = get_spark()
    qs = E.queries()
    bad = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        try:
            plan = "\n".join(query_plans(qs[name], spark, sf_dir))
        except Exception as e:  # construction failure is itself a finding
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:140]}")
            bad += 1
            continue
        finally:
            spark.catalog.clearCache()  # a failed build may leave persists
        if wgl_table:
            sites = _wgl_sites(plan)
            if sites:
                for attr, (func, kind, detail) in sorted(sites.items()):
                    why = (
                        WGL_BOUNDED_INPUT.get(name, "")
                        if kind == "literal-miss"
                        else WGL_COLUMN_VALUED.get(name, "")
                        if kind == "column-valued"
                        else ""
                    )
                    print(
                        f"| {name} | {func}() {attr} | {kind} | {detail} | {why} |"
                    )
            continue
        problems = audit_plan(plan, name)
        if problems:
            print(f"FLAG {name}: {'; '.join(problems)}")
            bad += 1
        else:
            print(f"ok   {name}")
    print(f"== {bad} flagged of {len(only) if only else len(qs)}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
