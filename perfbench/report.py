"""Per-layer report for one workload.

    python3 perfbench/report.py --workload neardup --seed 1

Runs the benchmark once untraced and twice traced (each a fresh process),
then prints the per-layer table of the first traced run, the tracing
overhead (traced pass_s − untraced pass_s), and whether ``calls``, ``jobs``
and ``tasks`` repeat exactly between the two traced runs. Exits 1 if they
do not, or if any run reports incorrect output.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

from tracing import BASE_METRICS, DATA_METRICS, LAYERS

HERE = Path(__file__).resolve().parent

EXACT = ("calls", "jobs", "tasks")


def bench(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.exit(f"{' '.join(cmd)} failed:\n{proc.stderr[-4000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    return {"correct": out["correct"], **{k: v["value"] for k, v in out["metrics"].items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()

    plain = bench(args.workload, args.seed, args.seconds, 0)
    traced = [bench(args.workload, args.seed, args.seconds, 1) for _ in range(2)]

    print(f"workload {args.workload}, seed {args.seed}")
    for k in ("setup_s", "pass_s", "items_per_s", "quality"):
        print(f"  {k:12s} {plain[k]:.4f}")
    cols = [m for m, _ in BASE_METRICS + DATA_METRICS]
    print("\n" + f"{'layer':26s}" + "".join(f"{c:>13s}" for c in cols))
    for layer in LAYERS:
        vals = [traced[0].get(f"{layer}.{c}") for c in cols]
        if not vals[0]:
            continue  # not called on this workload
        print(f"{layer:26s}" + "".join(f"{'':>13s}" if v is None else f"{v:13.3f}" for v in vals))

    overhead = traced[0]["traced.pass_s"] - plain["pass_s"]
    print(f"\ntracing overhead: {overhead:+.3f} s per pass ({overhead / plain['pass_s']:+.1%} of untraced pass_s)")
    diffs = [
        f"{layer}.{m}: {traced[0][f'{layer}.{m}']} vs {traced[1][f'{layer}.{m}']}"
        for layer in LAYERS for m in EXACT
        if traced[0][f"{layer}.{m}"] != traced[1][f"{layer}.{m}"]
    ]
    print("calls/jobs/tasks repeat exactly across two traced runs:", "yes" if not diffs else "NO")
    for d in diffs:
        print("  " + d)
    ok = not diffs and plain["correct"] and all(t["correct"] for t in traced)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
