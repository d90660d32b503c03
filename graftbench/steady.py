#!/usr/bin/env python3
"""Run the benchmark several times and append each run to a JSONL record.

    python3 graftbench/steady.py OUT.jsonl --runs 10 [--workloads olap,live]
        [--first-seed 1] [--seconds 16] [--trace 0]

Run from the root of a graft checkout. Each line is {"workload", "seed",
"trace", "result", "host", "info"}: `result` is run.py's last output line,
`info` the lines before it, and `host` the external-CPU and
memory-pressure readings taken at the start and end of the run, kept to
explain a noisy run (they are not a gate).
At the end it prints every end-to-end metric's spread beside its bound.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="olap,live")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", default="16")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    for wl in a.workloads.split(","):
        for i in range(a.runs):
            seed = a.first_seed + i
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
                capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{wl} seed {seed} failed:\n{p.stdout}\n{p.stderr}")
            res = json.load(open(os.path.join(HERE, ".work", "run", wl, "result.json")))
            rec = {"workload": wl, "seed": seed, "trace": int(a.trace),
                   "result": json.loads(lines[-1]),
                   "host": {"start": res["host_start"], "end": res["host_end"]},
                   "info": lines[:-1]}
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(wl, seed, json.dumps(rec["result"]["metrics"]), flush=True)
    if a.trace == "0":
        runs = compare.load(a.out)
        for wl in a.workloads.split(","):
            for name, spec in compare.metric_specs().items():
                vals = [r["result"]["metrics"][name]["value"]
                        for r in runs if r["workload"] == wl]
                if len(vals) >= 2:
                    print(f"{wl:7s} {name:15s} median {stats.median(vals):10.4g} "
                          f"spread {stats.spread(vals):6.2%} bound {spec['bound']:.0%}")


if __name__ == "__main__":
    main()
