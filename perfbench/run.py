"""Benchmark entry point.

    python3 perfbench/run.py --workload neardup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts a Spark session through ``daxos_spark.session.get_spark``,
runs one pass of the workload's pipeline in that fresh session (what one
invocation of the program costs), checks every output, and prints one JSON
object as the last line of stdout. With ``--trace 1`` the metrics are the
per-layer ones (see tracing.py); without, the end-to-end ones. Everything
the run writes goes to a scratch directory under ``.bench_work/`` in the
checkout, removed on exit; a traced run keeps its spans in
``.bench_work/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from tracing import Tracer, layer_metrics, metric_units  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEM = "2g"


def pin_environment(work: Path) -> dict:
    """Settings ``daxos_spark.session`` reads at import time, so this runs
    before it is imported: task slots one fewer than the process's CPUs, a
    driver heap well under the box's RAM, and Spark scratch space inside the
    run's directory. The spare CPU runs the Python driver, the JIT compiler
    and GC threads, which otherwise queue behind tasks on a cold pass."""
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters of the host (``/proc/stat``), empty if
    unavailable; the steal share between two readings is recorded with each
    run, because host contention is this benchmark's main source of noise."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(start: list[int], end: list[int]) -> float | None:
    if not start or not end:
        return None
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else None


def shutdown(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, work: Path) -> dict:
    env = pin_environment(work)
    sys.path.insert(0, str(ROOT))
    import daxos_spark.session

    cls = WORKLOADS[args.workload]
    tracer = Tracer()
    wl = cls(args.seed, str(work))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    event_dir = work / "events"
    if args.trace:
        event_dir.mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    with tracer.span("session", "daxos_spark.session.get_spark"):
        spark = daxos_spark.session.get_spark("perfbench", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer.attach(spark.sparkContext)
            wl.trace(tracer)
        ops = wl.ops()
        gc.collect()
        setup_s = time.monotonic() - T_START
        tracer.phase = "pass"
        ticks = cpu_ticks()

        failed = 0
        out, op_s = {}, {}
        for name, layer, op in ops:
            t0 = time.monotonic()
            try:
                with tracer.span(layer, name):
                    out[name] = op(spark, out)
            except Exception:
                traceback.print_exc()
                failed += 1
            op_s[name] = time.monotonic() - t0
        pass_s = sum(op_s.values())
        steal = steal_share(ticks, cpu_ticks())
        if failed:
            quality, problems, recorded = 0.0, [f"{failed} of {len(ops)} operations failed"], {}
        else:
            quality, problems, recorded = wl.check(out)
    finally:
        shutdown(spark)

    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    if args.trace:
        (ROOT / ".bench_work" / f"spans-{args.workload}-{args.seed}.json").write_text(json.dumps(tracer.spans))
        (event_log,) = event_dir.iterdir()
        values = layer_metrics(tracer.spans, str(event_log))
        metrics = {k: {"value": values[k], "unit": u} for k, u in metric_units().items()}
        metrics["traced.pass_s"] = {"value": pass_s, "unit": "s"}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "items_per_s": {"value": wl.items / pass_s, "unit": "1/s"},
            "quality": {"value": quality, "unit": "score"},
        }
    print(json.dumps({"env": env | {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "passes": 1,
        "items": wl.items, "item": cls.item, "op_s": op_s, "host_cpu_steal_share": steal,
    } | recorded}))
    return {
        "correct": not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (ROOT / "daxos_spark").is_dir():
        print(f"no daxos_spark package under {ROOT}: run from the root of a checkout", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
