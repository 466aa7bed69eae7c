"""Round-over-round bench regression guard.

Diffs two bench.py JSON outputs (BENCH_r{N}.json vs r{N-1}, or any two
files/paths) and fails on per-query regressions beyond a threshold, so a
slowdown is caught locally before the external driver records it.

Renames are tolerated: round 3 moved the SURVEY-core queries into the
a1_/a2_ namespace (daxos_spark/plans/registry.py::RENAMES), so the old
name is consulted when the new one is absent from the older run.

Usage:
    python tools/bench_compare.py NEW.json OLD.json [--threshold 1.5]

Exit 1 if any shared query regressed by more than the threshold, or if
the new run has errors the old one didn't. Queries faster than 300 ms in
both runs are exempt (shared-box noise dominates at that size).
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

NOISE_FLOOR_SEC = 0.3


def load(path: str) -> dict:
    """Accept bench.py's bare JSON line, a log ending with it, or the
    driver's BENCH_r{N}.json wrapper ({"rc", ..., "parsed": {...}})."""
    with open(path) as f:
        txt = f.read()
    try:
        d = json.loads(txt)
        if isinstance(d, dict):
            if "queries" in d:
                return d
            if isinstance(d.get("parsed"), dict):
                return d["parsed"]
            if isinstance(d.get("tail"), str):
                # driver wrapper with parsed=null: the tail is a (possibly
                # front-truncated) fragment of the JSON line — recover the
                # per-query pairs it still contains. The pinned section is
                # emitted near the END of the line precisely so it survives
                # front-truncation; pull it out structurally first so its
                # isolated numbers don't get mixed into the suite dict.
                import re

                tail = d["tail"]
                pinned: dict[str, float] = {}
                m = re.search(r'"pinned":\s*\{([^}]*)\}', tail)
                if m:
                    pinned = {
                        k: float(v)
                        for k, v in re.findall(
                            r'"([a-z0-9_]+)":\s*([0-9.]+)', m.group(1)
                        )
                    }
                    tail = tail[: m.start()] + tail[m.end() :]
                elif '"complete"' in tail:
                    # truncation cut INSIDE the pinned object (its
                    # '"pinned": {' opener is gone): everything after the
                    # "complete" key is pinned/pinned_errors fragments -
                    # drop them rather than mixing isolated times into
                    # the suite dict (they are not recoverable as pinned
                    # either, since the section is incomplete)
                    tail = tail[: tail.rindex('"complete"')]
                cal = re.search(r'"calibration_s":\s*([0-9.]+)', tail)
                pairs = re.findall(r'"([a-z0-9_]+)":\s*([0-9.]+)', tail)
                qs = {
                    k: float(v)
                    for k, v in pairs
                    if k not in ("value", "sf", "n_failed", "calibration_s")
                }
                out = {
                    "queries": qs,
                    "errors": {},
                    "pinned": pinned,
                    "partial_tail": True,
                }
                if cal:
                    out["calibration_s"] = float(cal.group(1))
                return out
    except json.JSONDecodeError:
        pass
    for line in reversed(txt.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise ValueError(f"no bench JSON found in {path}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("new")
    ap.add_argument("old")
    ap.add_argument("--threshold", type=float, default=1.5)
    args = ap.parse_args()

    new, old = load(args.new), load(args.old)

    # Round-8: when BOTH runs carry a pinned section (isolated heavy-set
    # numbers measured before the suite), THAT is the round-over-round
    # comparison surface — the full suite's per-query times drift with
    # suite growth (three rounds of phantom regressions, each costing an
    # isolated-A/B session to refute). Suite diffs are still printed,
    # informationally, below.
    pinned_mode = bool(new.get("pinned")) and bool(old.get("pinned"))
    if pinned_mode:
        new_q, old_q = new["pinned"], old["pinned"]
        print(f"pinned mode: scoring {len(new_q)} isolated heavy-set queries")
    else:
        if (
            new.get("pinned_errors")
            or old.get("pinned")
            or old.get("pinned_errors")
        ):
            # a run that HAS a pinned section but produced no numbers
            # (all entries failed) must not silently fall back to the
            # drift-prone suite surface
            print(
                "  WARNING: pinned section empty or missing on one side - "
                "falling back to suite comparison (suite-load drift applies)"
            )
        new_q, old_q = new.get("queries", {}), old.get("queries", {})

    try:
        from daxos_spark.plans.registry import RENAMES
    except Exception:  # pragma: no cover — tool must work standalone
        RENAMES = {}
    back = {v: k for k, v in RENAMES.items()}

    # Round-10 (VERDICT-r9 ask #3): when both runs carry the
    # data-independent calibration workload, its ratio IS the box/JVM
    # shift (the workload never changes) — divide per-query ratios by
    # it before flagging, so a uniform box slowdown is auto-attributed
    # instead of needing fresh-process ab_probe adjudication. Only a
    # SLOWDOWN is normalized away (cal_ratio floored at 1.0): a faster
    # box must never mask a genuine code regression.
    cal_new, cal_old = new.get("calibration_s"), old.get("calibration_s")
    cal_ratio = 1.0
    if cal_new and cal_old:
        cal_ratio = max(1.0, float(cal_new) / float(cal_old))
        print(
            f"calibration: {cal_old:.2f}s -> {cal_new:.2f}s "
            f"(box shift {float(cal_new)/float(cal_old):.2f}x; "
            f"normalizing ratios by {cal_ratio:.2f}x)"
        )

    failures: list[str] = []
    checked = 0
    for name, t_new in sorted(new_q.items()):
        t_old = old_q.get(name, old_q.get(back.get(name, name)))
        if t_old is None:
            print(f"  new query (no baseline): {name} {t_new:.2f}s")
            continue
        checked += 1
        if t_new <= NOISE_FLOOR_SEC and t_old <= NOISE_FLOOR_SEC:
            continue
        ratio = (t_new / t_old if t_old > 0 else float("inf")) / cal_ratio
        if ratio > args.threshold:
            failures.append(
                f"{name}: {t_old:.2f}s -> {t_new:.2f}s "
                f"({ratio:.2f}x box-normalized)"
            )

    if pinned_mode:
        # suite times: informational only (suite-load drift is expected)
        suite_new, suite_old = new.get("queries", {}), old.get("queries", {})
        drifted = []
        for name, t_new in sorted(suite_new.items()):
            t_old = suite_old.get(name, suite_old.get(back.get(name, name)))
            if t_old is None or (t_new <= NOISE_FLOOR_SEC and t_old <= NOISE_FLOOR_SEC):
                continue
            if t_old > 0 and t_new / t_old > args.threshold:
                drifted.append(f"{name} {t_old:.2f}->{t_new:.2f}s")
        if drifted:
            print(
                f"  note: {len(drifted)} suite-load drifts (NOT scored; "
                f"check pinned/isolated first): {', '.join(drifted[:10])}"
            )

    new_errs = set(new.get("errors", {}))
    old_errs = set(old.get("errors", {}))
    for q in sorted(new_errs - old_errs):
        failures.append(f"{q}: NEW ERROR {new.get('errors', {})[q][:120]}")
    # a query that fails only in the isolated pinned run must surface
    # too - it would otherwise vanish from the scored surface entirely
    new_perrs = set(new.get("pinned_errors", {}))
    old_perrs = set(old.get("pinned_errors", {}))
    for q in sorted(new_perrs - old_perrs):
        failures.append(
            f"{q}: NEW PINNED ERROR {new.get('pinned_errors', {})[q][:120]}"
        )

    dropped = [
        n for n in old_q if n not in new_q and RENAMES.get(n, n) not in new_q
    ]
    if dropped:
        print(f"  note: {len(dropped)} queries in old run absent from new: {dropped}")

    print(
        f"compared {checked} shared queries "
        f"(threshold {args.threshold}x, noise floor {NOISE_FLOOR_SEC}s): "
        f"{len(failures)} regression(s)"
    )
    for f_ in failures:
        print(f"  REGRESSION {f_}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
