#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced with the same
seed and print, per named end-to-end metric, traced / untraced - 1.

Usage: python3 perfbench/overhead.py --workload service_read --seed 1 [--seconds 15]
"""
import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def report(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"overhead: run with --trace {trace} failed ({p.returncode})")
    line = next(l for l in p.stdout.splitlines() if l.startswith("report "))
    return json.loads(line[len("report "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    off = report(a.workload, a.seed, a.seconds, 0)
    on = report(a.workload, a.seed, a.seconds, 1)
    out = {}
    for name, m in off.items():
        base, traced = m["value"], on.get(name, {}).get("value")
        if traced is not None and base:
            out[name] = {"untraced": base, "traced": traced, "change": traced / base - 1, "unit": m["unit"]}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "overhead": out}))


if __name__ == "__main__":
    main()
