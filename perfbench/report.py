"""Summarize the result records runs left under ``.bench_work/results``.

    python3 perfbench/report.py

For each workload: the median and quartile spread of every end-to-end
metric over the untraced runs, and the tracing overhead, i.e. the
traced run's end-to-end numbers minus the untraced run's of the same
seed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(results_dir: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        with open(path) as f:
            out.append(json.load(f))
    return out


def summarize(records: list[dict]) -> dict:
    by_wl: dict = {}
    for r in records:
        by_wl.setdefault(r["workload"], {}).setdefault(r["trace"], {})[r["seed"]] = r
    report = {}
    for wl, runs in sorted(by_wl.items()):
        plain, traced = runs.get(0, {}), runs.get(1, {})
        entry: dict = {"runs": len(plain), "metrics": {}, "tracing_overhead": {}}
        for name in sorted({k for r in plain.values() for k in r["end_to_end"]}):
            vals = [r["end_to_end"][name] for r in plain.values()]
            med = statistics.median(vals)
            spread = None
            if len(vals) >= 2 and med:
                q = statistics.quantiles(vals, n=4)
                spread = (q[2] - q[0]) / med
            entry["metrics"][name] = {"median": med, "iqr_over_median": spread}
        for seed, t in traced.items():
            p = plain.get(seed)
            if p is not None:
                entry["tracing_overhead"][str(seed)] = {
                    k: t["end_to_end"][k] - p["end_to_end"][k] for k in p["end_to_end"]
                }
        report[wl] = entry
    return report


def main() -> int:
    records = load(os.path.join(ROOT, ".bench_work", "results"))
    if not records:
        print("no results under .bench_work/results", file=sys.stderr)
        return 1
    print(json.dumps(summarize(records), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
