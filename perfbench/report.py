#!/usr/bin/env python3
"""Summarize benchmark runs: per workload and metric, the median, the
quartiles and the spread (interquartile distance as a share of the median,
``statistics.quantiles(values, n=4)``), against the bound in BENCHMARK.json;
and, where traced and untraced runs of a workload are both given, the
tracing overhead on each end-to-end metric.

    python3 perfbench/report.py RUN_OUTPUT...

Each RUN_OUTPUT file holds the standard output of one ``run.py`` call (its
last two lines are read: the run record and the result).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths: list[str]) -> list[tuple[dict, dict]]:
    runs = []
    for p in paths:
        with open(p) as f:
            lines = [line for line in f.read().splitlines() if line.strip()]
        runs.append((json.loads(lines[-2])["record"], json.loads(lines[-1])))
    return runs


def spread(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(paths: list[str]) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    by: dict[tuple[str, int], list] = {}
    for rec, res in load(paths):
        by.setdefault((rec["workload"], rec["trace"]), []).append((rec, res))
    untraced_medians: dict[tuple[str, str], float] = {}
    for (workload, trace), runs in sorted(by.items()):
        failed = sum(r["failed"] for _, r in runs)
        attempted = sum(r["attempted"] for _, r in runs)
        print(f"{workload} trace={trace}: {len(runs)} runs, seeds "
              f"{sorted(rec['seed'] for rec, _ in runs)}, failed {failed}/{attempted}")
        for name in runs[0][1]["metrics"]:
            vals = [r["metrics"][name]["value"] for _, r in runs]
            med, q1, q3, sp = spread(vals)
            bound = bounds.get(name) if not trace else None
            flag = ""
            if bound is not None:
                untraced_medians[(workload, name)] = med
                flag = "ok" if name == "setup_s" or sp < bound / 3 else (
                    "within bound" if sp <= bound else "TOO WIDE")
                flag = f" bound {bound:.2f} {flag}"
            print(f"  {name:38s} median {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} "
                  f"spread {sp:6.3f}{flag}")
    for (workload, trace), runs in sorted(by.items()):
        if not trace:
            continue
        print(f"{workload} tracing overhead (traced median - untraced median):")
        for name in runs[0][0].get("traced_end_to_end", {}):
            base = untraced_medians.get((workload, name))
            if base is None:
                continue
            med = statistics.median(rec["traced_end_to_end"][name] for rec, _ in runs)
            print(f"  {name:38s} {med - base:+12.4f} ({(med - base) / base:+.1%} of {base:.4f})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
