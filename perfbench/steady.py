#!/usr/bin/env python3
"""Run one workload on several seeds and report each metric's spread:
the distance between the first and third quartile of its values, as a
share of their median. A steady benchmark keeps every end-to-end spread
(setup_s aside) well under the metric's bound in BENCHMARK.json.

Usage: python3 perfbench/steady.py WORKLOAD [--seeds 1-10] [--trace 0]
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    """(median, (q3 - q1) / median) with Python's default quartiles."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, ((q3 - q1) / med if med else 0.0)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", a.trace]
        r = subprocess.run(cmd, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines() or ["{}"]
        res = json.loads(lines[-1])
        env = json.loads(lines[-2]).get("env", {}) if len(lines) > 1 else {}
        print("seed %d exit %d in %.0f s, correct %s %s" % (
            seed, r.returncode, env.get("run_s", 0), res.get("correct"),
            {k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()}),
            flush=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        med, sp = spread(vs)
        b = bounds.get(k)
        note = "" if b is None else "  bound %.2f, %s" % (
            b, "ok" if sp < b / 3 else "TOO WIDE")
        print("%-32s median %12.4f  spread %.3f%s" % (k, med, sp, note))


if __name__ == "__main__":
    main()
