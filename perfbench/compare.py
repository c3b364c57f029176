#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE CHANGE
    python3 perfbench/compare.py RUNS --overhead

BASE, CHANGE and RUNS are directories of result files written by run.py
(``perfbench/results/*.json``) or lists of such files separated by commas:
for instance the parent commit's runs against the change's, or the same code
run twice. Per workload and end-to-end metric it prints each side's median
and quartiles and a verdict (the rule of the choosing-metrics guide, §8):

- ``improved``: the change wins at least 9 in 10 pairs (runs paired by seed,
  else in order; ties count for neither side) and the medians differ by more
  than the base's interquartile distance;
- ``worse``: the change's median is worse than the base's by more than the
  metric's bound in BENCHMARK.json;
- ``unresolved``: the base's own spread (interquartile distance over median)
  is wider than the bound, unless every change run beats every base run;
- ``same``: within the bound.

``--overhead`` reads one set holding runs with and without tracing and
prints, per workload, the traced run's end-to-end medians minus the
untraced ones: the cost of tracing.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def load(spec: str) -> list[dict]:
    paths: list[str] = []
    for part in spec.split(","):
        if os.path.isdir(part):
            paths.extend(sorted(glob.glob(os.path.join(part, "*.json"))))
        else:
            paths.append(part)
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    return runs


def by_workload(runs: list[dict], traced: bool) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in runs:
        if bool(r["meta"]["trace"]) == traced:
            out.setdefault(r["meta"]["workload"], []).append(r)
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(base: list[dict], change: list[dict], metric: dict) -> tuple[str, list, list]:
    name, lower, bound = metric["name"], metric["better"] == "lower", metric["bound"]
    b = [r["e2e"][name] for r in base]
    c = [r["e2e"][name] for r in change]
    bq, cq = quartiles(b), quartiles(c)
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    seeds_b = {r["meta"]["seed"]: r["e2e"][name] for r in base}
    pairs = [(seeds_b[r["meta"]["seed"]], r["e2e"][name]) for r in change if r["meta"]["seed"] in seeds_b]
    if len(pairs) < min(len(b), len(c)):
        pairs = list(zip(b, c))
    wins = sum(better(y, x) for x, y in pairs)
    spread = (bq[2] - bq[0]) / bq[1] if bq[1] else float("inf")
    worse_by = (cq[1] - bq[1]) / bq[1] * (1 if lower else -1) if bq[1] else 0.0
    all_better = all(better(y, x) for y in c for x in b)
    if pairs and wins >= 0.9 * len(pairs) and abs(cq[1] - bq[1]) > bq[2] - bq[0]:
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return v, bq, cq


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    lines: list[str] = []
    if args.overhead:
        runs = load(args.base)
        plain, traced = by_workload(runs, False), by_workload(runs, True)
        lines.append("| workload | metric | untraced median | traced median | traced - untraced |")
        lines.append("|---|---|---|---|---|")
        for wl in sorted(set(plain) & set(traced)):
            for m in metrics:
                u = statistics.median(r["e2e"][m["name"]] for r in plain[wl])
                t = statistics.median(r["e2e"][m["name"]] for r in traced[wl])
                lines.append(f"| {wl} | {m['name']} ({m['unit']}) | {u:.6g} | {t:.6g} | {t - u:+.6g} |")
    else:
        if args.change is None:
            ap.error("CHANGE is required unless --overhead is given")
        base, change = by_workload(load(args.base), False), by_workload(load(args.change), False)
        lines.append("| workload | metric | base q1 / median / q3 (n) | change q1 / median / q3 (n) | verdict |")
        lines.append("|---|---|---|---|---|")
        for wl in sorted(set(base) & set(change)):
            for m in metrics:
                v, bq, cq = verdict(base[wl], change[wl], m)
                lines.append(
                    f"| {wl} | {m['name']} ({m['unit']}, bound {m['bound']:.0%}) | "
                    f"{bq[0]:.6g} / {bq[1]:.6g} / {bq[2]:.6g} ({len(base[wl])}) | "
                    f"{cq[0]:.6g} / {cq[1]:.6g} / {cq[2]:.6g} ({len(change[wl])}) | {v} |")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
