#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 graftbench/compare.py A.jsonl B.jsonl

Each file holds one run per line as steady.py writes it. For every
workload and end-to-end metric the tool prints each side's median and
quartiles, the run-to-run spread (inter-quartile distance over median)
beside the metric's bound from BENCHMARK.json, how many of the runs paired
in file order B won, and a verdict. A metric is "unresolved" when either
side's spread exceeds its bound: the runs cannot tell a change of that
size from noise.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def load(path):
    runs = [json.loads(ln) for ln in open(path) if ln.strip()]
    return [r for r in runs if not r.get("trace")]


def metric_specs():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    return {m["name"]: m for m in bench["end_to_end"]}


def verdict(spec, a, b):
    """'unresolved', 'same', 'better' or 'worse' for side B against A."""
    if stats.spread(a) > spec["bound"] or stats.spread(b) > spec["bound"]:
        return "unresolved"
    change = statistics.median(b) / statistics.median(a) - 1
    if spec["better"] == "higher":
        change = -change
    if abs(change) <= spec["bound"]:
        return "same"
    return "worse" if change > 0 else "better"


def compare(a_runs, b_runs, specs):
    lines = []
    for wl in sorted({r["workload"] for r in a_runs} & {r["workload"] for r in b_runs}):
        a = [r for r in a_runs if r["workload"] == wl]
        b = [r for r in b_runs if r["workload"] == wl]
        lines.append(f"== {wl}: {len(a)} vs {len(b)} runs")
        for name, spec in specs.items():
            va = [r["result"]["metrics"][name]["value"] for r in a]
            vb = [r["result"]["metrics"][name]["value"] for r in b]
            if len(va) < 2 or len(vb) < 2:
                continue
            qa, qb = statistics.quantiles(va, n=4), statistics.quantiles(vb, n=4)
            pairs = list(zip(va, vb))
            won = sum(1 for x, y in pairs
                      if (y < x if spec["better"] == "lower" else y > x))
            lines.append(
                f"  {name:15s} A {qa[1]:10.4g} [{qa[0]:.4g}, {qa[2]:.4g}] "
                f"spread {stats.spread(va):6.1%} | B {qb[1]:10.4g} "
                f"[{qb[0]:.4g}, {qb[2]:.4g}] spread {stats.spread(vb):6.1%} | "
                f"bound {spec['bound']:.0%} | B won {won}/{len(pairs)} | "
                f"{verdict(spec, va, vb)}")
        fails = sum(r["result"]["failed"] for r in a + b)
        lines.append(f"  failed operations over both sets: {fails}")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    print(compare(load(sys.argv[1]), load(sys.argv[2]), metric_specs()))
