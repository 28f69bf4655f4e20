#!/usr/bin/env python3
"""Compare the untraced runs of two commits, one row per (workload, metric).

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds the run records ``perfbench/run.py`` writes to
``.perfbench/results/``. For every workload and end-to-end metric the table
gives each side's median and quartiles, the share of pairs the change won
(runs are paired by seed, else in order), and a verdict:

- ``better``: the change won at least 9 of every 10 pairs and its median
  differs from the base's by more than the base's own quartile spread;
- ``worse``: the change's median is worse than the base's by more than the
  metric's bound in ``BENCHMARK.json``;
- ``unresolved``: either side's quartile spread, as a share of its median,
  exceeds the bound, unless every run of one side beats every run of the other;
- ``unchanged``: otherwise.

Workloads are never combined into one score.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(directory: str) -> dict[str, list[dict]]:
    runs: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path, encoding="utf-8") as f:
            r = json.load(f)
        if not r.get("trace"):
            runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def pairs(base: list[dict], change: list[dict]) -> list[tuple[dict, dict]]:
    by_seed = {r["seed"]: r for r in change}
    matched = [(b, by_seed[b["seed"]]) for b in base if b["seed"] in by_seed]
    return matched if matched else list(zip(base, change))


def verdict(a: list[float], b: list[float], won: int, n_pairs: int, better: str,
            bound: float) -> str:
    qa, qb = quartiles(a), quartiles(b)
    sign = 1 if better == "lower" else -1
    worse_by = sign * (qb[1] - qa[1]) / abs(qa[1]) if qa[1] else 0.0
    spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0 for q in (qa, qb))
    b_beats_all = all(sign * (y - x) < 0 for x in a for y in b)
    a_beats_all = all(sign * (y - x) > 0 for x in a for y in b)
    if n_pairs and won / n_pairs >= 0.9 and sign * (qa[1] - qb[1]) > qa[2] - qa[0]:
        return "better"
    if spread > bound and not (b_beats_all or a_beats_all):
        return "unresolved"
    if worse_by > bound:
        return "worse"
    return "unchanged"


def compare(base_dir: str, change_dir: str, spec: dict) -> list[dict]:
    base, change = load_runs(base_dir), load_runs(change_dir)
    rows = []
    for workload in sorted(set(base) & set(change)):
        matched = pairs(base[workload], change[workload])
        for m in spec["end_to_end"]:
            name, better = m["name"], m["better"]
            a = [r["result"]["metrics"][name]["value"] for r in base[workload]]
            b = [r["result"]["metrics"][name]["value"] for r in change[workload]]
            sign = 1 if better == "lower" else -1
            won = sum(sign * (y["result"]["metrics"][name]["value"]
                              - x["result"]["metrics"][name]["value"]) < 0 for x, y in matched)
            rows.append({
                "workload": workload, "metric": name, "unit": m["unit"],
                "base": quartiles(a), "change": quartiles(b), "n": (len(a), len(b)),
                "won": f"{won}/{len(matched)}",
                "verdict": verdict(a, b, won, len(matched), better, m["bound"]),
            })
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    rows = compare(argv[0], argv[1], spec)
    if not rows:
        print("no workload has untraced runs on both sides", file=sys.stderr)
        return 1
    print(f"{'workload':<22} {'metric':<18} {'base q1/med/q3':<30} "
          f"{'change q1/med/q3':<30} {'n':<7} {'won':<6} verdict")
    for r in rows:
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
        print(f"{r['workload']:<22} {r['metric']:<18} {fmt(r['base']):<30} "
              f"{fmt(r['change']):<30} {r['n'][0]}/{r['n'][1]:<5} {r['won']:<6} {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
