"""Spans around the program's layer functions, and the Spark event-log
parser that charges each job's task metrics to the innermost open span.

Spans are recorded from outside the program: ``Tracer.wrap`` replaces a
function where the composing module binds it, so no program file changes.
Each span sets a Spark job group naming it, so the event log ties every
job to the span whose call triggered it. Spark is lazy: a job is charged
to the call that *triggered* it, not to the call that built its plan.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

# The layer whose work happens while the run sets up; its metrics cover the
# setup phase. Every other layer's metrics cover the measured pass.
SETUP_LAYERS = ("session",)
PASS_LAYERS = (
    "catalog",
    "pipeline",
    "sources.plink",
    "sources.tables",
    "operators.splits",
    "operators.subset",
    "operators.components",
    "ml.deconfound",
    "ml.crossvalidate",
    "ml.train",
    "ml.scoring",
    "ml.scale",
    "ml.explain",
    "plans.t_dedup_best_keep",
    "plans.d_lsh_candidates",
)
LAYERS = SETUP_LAYERS + PASS_LAYERS
# layers that move real data also report spill, GC and peak execution memory
DATA_LAYERS = ("sources.plink", "ml.deconfound", "plans.t_dedup_best_keep", "plans.d_lsh_candidates")

BASE_METRICS = (
    ("calls", "count"),
    ("wall_s", "s"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_s", "s"),
    ("shuffle_mb", "MB"),
)
DATA_METRICS = (("spill_mb", "MB"), ("gc_s", "s"), ("peak_exec_mb", "MB"))

_GROUP_PREFIX = "span-"
_MB = 1024.0 * 1024.0


def metric_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    out = {}
    for layer in LAYERS:
        for m, unit in BASE_METRICS + (DATA_METRICS if layer in DATA_LAYERS else ()):
            out[f"{layer}.{m}"] = unit
    return out


class Tracer:
    """Records spans (name, layer, start, end, parent, phase) in memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Start tagging jobs with span job groups on this SparkContext."""
        self._sc = sc
        self._set_group()

    def _set_group(self) -> None:
        if self._sc is None:
            return
        if self._stack:
            sid = self._stack[-1]
            self._sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", self.spans[sid]["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, layer: str, name: str):
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "layer": layer,
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "phase": self.phase,
                "start": time.time(),
                "end": None,
            }
        )
        self._stack.append(sid)
        self._set_group()
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.time()
            self._stack.pop()
            self._set_group()

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` with a version that runs inside a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, f"{module.__name__}.{attr}"):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


def _read_event_log(path: str) -> dict[int, dict]:
    """Per span id: jobs, tasks and summed task metrics from a Spark event
    log (uncompressed, not rolling). Jobs outside any span land under -1."""
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_span: dict[tuple[int, int], int] = {}

    def span_of(props: dict | None) -> int:
        gid = (props or {}).get("spark.jobGroup.id") or ""
        return int(gid[len(_GROUP_PREFIX):]) if gid.startswith(_GROUP_PREFIX) else -1

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                out[span_of(ev.get("Properties"))]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = span_of(ev.get("Properties"))
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]), -1)
                m = ev.get("Task Metrics") or {}
                acc = out[sid]
                acc["tasks"] += 1
                acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                acc["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
                acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
                acc["peak_exec_mb"] = max(acc["peak_exec_mb"], m.get("Peak Execution Memory", 0) / _MB)
    return out


def layer_metrics(spans: list[dict], event_log: str) -> dict[str, float]:
    """Aggregate spans and their charged jobs into ``<layer>.<metric>``.

    Pass layers: sums over the spans of the measured pass. Setup layers:
    sums over the setup spans. ``wall_s``
    counts a span only when no ancestor has the same layer; ``self_s`` is
    each span's duration minus the time its child spans cover.
    """
    by_id = {s["id"]: s for s in spans}
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    jobs = _read_event_log(event_log)

    def outermost(s: dict) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["layer"] == s["layer"]:
                return False
            p = by_id[p]["parent"]
        return True

    units = metric_units()
    out = {name: 0.0 for name in units}
    for s in spans:
        layer = s["layer"]
        if s["phase"] != ("setup" if layer in SETUP_LAYERS else "pass"):
            continue
        dur = s["end"] - s["start"]
        out[f"{layer}.calls"] += 1
        if outermost(s):
            out[f"{layer}.wall_s"] += dur
        out[f"{layer}.self_s"] += dur - child_time[s["id"]]
        for key, v in jobs.get(s["id"], {}).items():
            name = f"{layer}.{key}"
            if name not in out:
                continue
            if key == "peak_exec_mb":
                out[name] = max(out[name], v)
            else:
                out[name] += v
    return out
