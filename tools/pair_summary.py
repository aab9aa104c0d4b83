"""Paired parent/change summary of perfbench run records.

Reads the untraced run records (``<workload>-seed<N>-trace0.json``) of
two result directories -- the parent commit's and the change's
``.perfbench_results/`` -- pairs the runs by (workload, seed), and
prints, per workload and end-to-end metric of BENCHMARK.json:

- each side's median and quartiles over the paired runs;
- the number of pairs the change wins (ties count for neither side);
- the parent's interquartile range, and whether the medians differ by
  more than it.

Usage: python tools/pair_summary.py PARENT_RESULTS CHANGE_RESULTS [workload ...]

Quartiles are ``statistics.quantiles(n=4)`` (exclusive method).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORD = re.compile(r"(?P<workload>.+)-seed(?P<seed>-?\d+)-trace0\.json$")


def load_runs(results_dir: str) -> dict[tuple[str, int], dict[str, float]]:
    """(workload, seed) -> end-to-end metric values of one untraced run."""
    runs = {}
    for path in glob.glob(os.path.join(results_dir, "*-trace0.json")):
        m = RECORD.search(os.path.basename(path))
        if m is None:
            continue
        with open(path) as fh:
            result = json.load(fh)["result"]
        if not result.get("correct", False):
            print(f"skipping incorrect run {path}", file=sys.stderr)
            continue
        runs[(m["workload"], int(m["seed"]))] = {
            k: v["value"] for k, v in result["metrics"].items()
        }
    return runs


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def summarize(parent: dict, change: dict, metrics: list[dict],
              workloads: list[str]) -> list[str]:
    lines = [
        "| workload | metric | pairs | parent median [q1, q3] | change median [q1, q3] "
        "| change wins | parent IQR | |median diff| > IQR |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for wl in workloads:
        seeds = sorted(s for w, s in parent if w == wl and (w, s) in change)
        if not seeds:
            continue
        for metric in metrics:
            name, lower = metric["name"], metric["better"] == "lower"
            p = [parent[(wl, s)][name] for s in seeds]
            c = [change[(wl, s)][name] for s in seeds]
            wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
            pq1, pmed, pq3 = quartiles(p)
            cq1, cmed, cq3 = quartiles(c)
            iqr = pq3 - pq1
            lines.append(
                f"| {wl} | {name} ({metric['unit']}) | {len(seeds)} "
                f"| {pmed:.4g} [{pq1:.4g}, {pq3:.4g}] | {cmed:.4g} [{cq1:.4g}, {cq3:.4g}] "
                f"| {wins}/{len(seeds)} | {iqr:.4g} | {'yes' if abs(cmed - pmed) > iqr else 'no'} |"
            )
    return lines


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = argv[2:] or [w["name"] for w in bench["workloads"]]
    parent, change = load_runs(argv[0]), load_runs(argv[1])
    print("\n".join(summarize(parent, change, bench["end_to_end"], workloads)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
