"""Tracing overhead: traced against untraced runs, per workload.

Reads ``perfbench/out/runs.jsonl`` (one record per benchmark run) and
prints, for each workload and end-to-end metric, the median of the
untraced runs, the median of the traced runs and their difference as a
share of the untraced median. Run it after at least one run of each kind:

    python3 perfbench/overhead.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys

RUNS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out", "runs.jsonl")


def overhead(records: list[dict]) -> dict[str, dict[str, dict[str, float]]]:
    by: dict[tuple[str, int], list[dict]] = {}
    for r in records:
        if r["end_to_end"] and not r["errors"]:
            by.setdefault((r["workload"], r["trace"]), []).append(r["end_to_end"])
    out: dict[str, dict[str, dict[str, float]]] = {}
    for (workload, trace), runs in by.items():
        if trace or (workload, 1) not in by:
            continue
        traced = by[(workload, 1)]
        out[workload] = {}
        metrics = set.intersection(*(set(r) for r in runs + traced))
        for metric in sorted(metrics):
            base = statistics.median(r[metric] for r in runs)
            with_trace = statistics.median(r[metric] for r in traced)
            out[workload][metric] = {
                "untraced": base, "traced": with_trace,
                "overhead_share": (with_trace - base) / base if base else 0.0,
                "runs": [len(runs), len(traced)],
            }
    return out


def main() -> int:
    if not os.path.exists(RUNS):
        print(f"no run records at {RUNS}", file=sys.stderr)
        return 1
    with open(RUNS) as f:
        records = [json.loads(line) for line in f if line.strip()]
    result = overhead(records)
    if not result:
        print("need traced and untraced runs of one workload", file=sys.stderr)
        return 1
    print(json.dumps(result, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
