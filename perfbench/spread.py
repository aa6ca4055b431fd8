#!/usr/bin/env python3
"""Steadiness check: runs the benchmark ten times on every workload of
BENCHMARK.json, with seeds 1 to 10, and prints, for each end-to-end
metric, the median and the spread (inter-quartile range as a share of the
median, by statistics.quantiles(values, n=4)) next to the metric's bound,
flagging any spread over a third of its bound. With
--traced it also makes one traced run per workload and reports the tracing
overhead: the traced unit's wall time over the median untraced wall_s.

    python3 perfbench/spread.py [--traced]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUNS = 10
HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    last = p.stdout.rstrip("\n").split("\n")[-1] if p.stdout else ""
    if p.returncode != 0 or not last.startswith("{"):
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(last)


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        values = {name: [] for name in bounds}
        for seed in range(1, RUNS + 1):
            r = run(w, seed, bench["run_seconds"], 0)
            ok &= r["correct"] and r["failed"] == 0
            for name in bounds:
                values[name].append(r["metrics"][name]["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v[-1]:.4f}" for k, v in values.items()), flush=True)
        for name, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med if med else float("inf")
            flag = "" if spread < bounds[name] / 3 else "  <-- over a third of bound"
            print(f"{w} {name}: median {med:.4f} spread {spread:.4f} bound {bounds[name]}{flag}")
        if a.traced:
            t = run(w, 1, bench["run_seconds"], 1)
            traced = t["metrics"]["trace.wall_s"]["value"]
            print(f"{w} tracing overhead: traced unit {traced:.3f} s vs median wall_s "
                  f"{statistics.median(values['wall_s']):.3f} s "
                  f"({traced / statistics.median(values['wall_s']) - 1:+.1%})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
