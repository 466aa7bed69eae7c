#!/usr/bin/env python
"""Dump .explain("formatted") for named registered queries.

Usage: python tools/dump_plan.py OUT_DIR SUFFIX [sf_dir] name [name ...]

Writes OUT_DIR/<name>_<SUFFIX>.txt per query. The registered callable
runs as in production; a query that checkpoints (the cache-lifetime
pattern) gets one section per checkpointed DataFrame before the plan of
the DataFrame it returns, so the file shows the real pipeline and not
only the post-checkpoint RDD scan (plan_audit.query_plans).
Construction-time actions (collect-driven iterative builds) run at the
given SF, so prefer a small sf_dir.
"""

from __future__ import annotations

import pathlib
import sys


def formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    out_dir = pathlib.Path(sys.argv[1])
    suffix = sys.argv[2]
    args = sys.argv[3:]
    if args and "/" in args[0]:
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.001", args
    out_dir.mkdir(parents=True, exist_ok=True)

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    from plan_audit import query_plans

    from daxos_spark.plans.registry import get_specs
    from daxos_spark.session import get_spark

    spark = get_spark()
    specs = get_specs()
    for name in names:
        plans = query_plans(specs[name].spark, spark, sf_dir, render=formatted_plan)
        sections = [
            f"== checkpoint {i + 1} of {len(plans) - 1} ==\n{p}" for i, p in enumerate(plans[:-1])
        ]
        plan = "\n".join(sections + [("== returned ==\n" if sections else "") + plans[-1]])
        p = out_dir / f"{name}_{suffix}.txt"
        p.write_text(plan)
        print(f"wrote {p} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
