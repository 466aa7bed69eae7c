#!/usr/bin/env python
"""Dump .explain("formatted") for named registered queries.

Usage: python tools/dump_plan.py [--normalize] OUT_DIR SUFFIX [sf_dir] name [name ...]

Writes OUT_DIR/<name>_<SUFFIX>.txt per query. The registered callable
runs as in production; a query that checkpoints (the cache-lifetime
pattern) gets one section per checkpointed DataFrame before the plan of
the DataFrame it returns, so the file shows the real pipeline and not
only the post-checkpoint RDD scan (plan_audit.query_plans).
Construction-time actions (collect-driven iterative builds) run at the
given SF, so prefer a small sf_dir.

``--normalize`` rewrites what depends on the process rather than the
query (see ``normalize``), so dumps from two trees, or from two points
of one process, compare with ``diff``.
"""

from __future__ import annotations

import pathlib
import re
import sys


def formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _split(s: str) -> list[str]:
    """Split ``s`` at its commas outside brackets and parentheses."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        depth += (ch in "([") - (ch in ")]")
        if depth == 0 and ch == ",":
            items.append(s[start:i].strip())
            start = i + 1
    return items + [s[start:].strip()]


def _canonical_expand(block: str) -> str:
    """Rewrite one formatted ``Expand`` node, and the nodes listed after
    it, as if its distinct-aggregate groups had been built in one fixed
    order.

    Spark orders those groups by a hash of their expressions, so the
    group order, the ``gid`` each group gets and the order of the
    Expand's output columns vary with expression ids. Here the output
    columns (all but the trailing ``gid``) are sorted by name, the
    projection lists are sorted, each ``gid`` is renumbered by its
    list's rank, and every later ``gid# = n`` and every comma-separated
    run of those columns follows."""
    head, rest = block.split("Arguments: ", 1)
    line, _, tail = rest.partition("\n")
    *lists, out = _split(line)
    cols = _split(out[1:-1])
    attrs, gid = cols[:-1], cols[-1]
    if not gid.startswith("gid#"):  # a grouping-sets Expand: its ids are values
        return block
    order = sorted(range(len(attrs)), key=attrs.__getitem__)
    projections = [_split(x[1:-1]) for x in _split(", ".join(lists)[1:-1])]
    rows = sorted(([p[k] for k in order], p[-1]) for p in projections)
    new_gid = {old: str(n) for n, (_, old) in enumerate(rows)}
    line = "[%s], [%s]" % (
        ", ".join("[" + ", ".join(r + [new_gid[old]]) + "]" for r, old in rows),
        ", ".join([attrs[k] for k in order] + [gid]),
    )
    tail = re.sub(
        r"gid# = (\d+)", lambda m: "gid# = " + new_gid.get(m.group(1), m.group(1)), tail
    )
    name = "|".join(re.escape(a) for a in attrs)
    run = rf"(?<![\w#])(?:{name})(?:, (?:{name}))+(?![\w#])"
    tail = re.sub(run, lambda m: ", ".join(sorted(m.group(0).split(", "))), tail)
    return head + "Arguments: " + line + "\n" + tail


def normalize(plan: str) -> str:
    """Plan text without what the process, not the query, decides:

    - expression ids (``doc_id#123L`` → ``doc_id#L``), exchange plan ids
      (``plan_id=31``) and RDD ids (``MapPartitionsRDD[118]``), which
      count what the session has built;
    - operator and codegen-stage numbers (``(12)``, ``[codegen id : 3]``),
      which shift when a node is added upstream: without them, one added
      node shows as one changed line, not as a renumbered plan;
    - Spark's lambda-variable names (``lambda x_45``), whose suffix is a
      process-global counter, renumbered by first appearance;
    - the group order of distinct-aggregate ``Expand`` nodes
      (``_canonical_expand``).
    """
    plan = re.sub(r"(?<=[\w)\]`])#\d+", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    names: dict[str, str] = {}

    def rename(m: re.Match) -> str:
        var = m.group(1)
        if var not in names:
            names[var] = f"{m.group(2)}_{len(names) + 1}"
        return "lambda " + names[var]

    plan = re.sub(r"lambda ((\w+?)_\d+)\b", rename, plan)
    # one part per formatted "(n) Expand" node, up to the next such node
    # or the next "== ... ==" header
    parts = re.split(r"(?m)^(?=\(\d+\) Expand$|== )", plan)
    plan = "".join(
        _canonical_expand(p) if re.match(r"\(\d+\) Expand\n", p) else p for p in parts
    )
    plan = re.sub(r"(?m)^\(\d+\) | \(\d+\)$", "", plan)
    plan = re.sub(r"(operator id[:=] |codegen id : )\d+", r"\1", plan)
    return re.sub(r"RDD\[\d+\]", "RDD[]", plan)


def dump(spark, name: str, sf_dir: str) -> str:
    """One registered query's plans as one text, a section per
    checkpointed DataFrame before the plan of the returned one."""
    from plan_audit import query_plans

    from daxos_spark.plans.registry import get_specs

    plans = query_plans(get_specs()[name].spark, spark, sf_dir, render=formatted_plan)
    sections = [
        f"== checkpoint {i + 1} of {len(plans) - 1} ==\n{p}" for i, p in enumerate(plans[:-1])
    ]
    return "\n".join(sections + [("== returned ==\n" if sections else "") + plans[-1]])


def main() -> None:
    args = sys.argv[1:]
    norm = "--normalize" in args
    args = [a for a in args if a != "--normalize"]
    out_dir = pathlib.Path(args[0])
    suffix = args[1]
    args = args[2:]
    if args and "/" in args[0]:
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.001", args
    out_dir.mkdir(parents=True, exist_ok=True)

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    from daxos_spark.session import get_spark

    spark = get_spark()
    for name in names:
        plan = dump(spark, name, sf_dir)
        if norm:
            plan = normalize(plan)
        p = out_dir / f"{name}_{suffix}.txt"
        p.write_text(plan)
        print(f"wrote {p} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
