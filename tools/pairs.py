#!/usr/bin/env python3
"""Compare a parent commit with the working tree on one benchmark workload.

Usage (from the repository root):

    python3 tools/pairs.py --parent <git rev> --workload service_mixed --seed 7 --pairs 10

The parent revision is extracted with `git archive` into a scratch
directory (`--work`, default a new temporary directory); the change side
is this checkout as it stands (`--change` to point elsewhere). Each side
runs its own, unchanged `perfbench/run.py --trace 0`, so each builds and
runs its own code. The N pairs are interleaved and alternate which side
runs first, because host speed drifts between minutes.

For every end-to-end metric that BENCHMARK.json declares, it prints each
side's median and quartiles, how many pairs the change won (ties count
for neither side) and a verdict by the small-sandbox rule:

  gain       the change won at least 9/10 of the pairs and the medians
             differ, in the metric's better direction, by more than the
             parent's interquartile distance;
  worse      the change's median is worse than the parent's by more than
             the metric's declared bound;
  unresolved the parent's own spread is wider than the bound, so the
             difference cannot be told from noise;
  same       none of the above.

Every run's correct/failed outcome is printed too; a run that is not
correct or has failed operations makes the comparison exit non-zero.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(rev, dest):
    """Write the tree of `rev` into `dest` (no git metadata)."""
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], stdout=subprocess.PIPE, check=True)
    subprocess.run(["tar", "-x", "-C", dest], input=archive.stdout, check=True)


def run_once(checkout, workload, seed, seconds):
    """One `perfbench/run.py --trace 0` in `checkout`; returns its result object."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.strip().splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"pairs: run in {checkout} failed (exit {proc.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent, change, better, bound):
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    gain = sign * (pm - cm)
    if wins * 10 >= 9 * len(parent) and gain > p3 - p1:
        return wins, "gain"
    if pm and -gain / abs(pm) > bound:
        return wins, "worse"
    if pm and (p3 - p1) / abs(pm) > bound:
        return wins, "unresolved"
    return wins, "same"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--work", default=None, help="scratch directory for the parent tree")
    ap.add_argument("--change", default=ROOT, help="checkout of the change side")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench.get("run_seconds", 20)
    work = args.work or tempfile.mkdtemp(prefix="graft-pairs-")
    parent_dir = os.path.join(work, "parent")
    if not os.path.isdir(parent_dir):
        extract(args.parent, parent_dir)

    sides = {"parent": parent_dir, "change": args.change}
    results = {"parent": [], "change": []}
    ok = True
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], args.workload, args.seed, seconds)
            results[side].append(r)
            ok &= bool(r.get("correct")) and not r.get("failed")
            print(f"pair {i + 1} {side}: correct={r.get('correct')} failed={r.get('failed')} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r.get("metrics", {}).items())),
                  flush=True)

    print(f"\n{args.workload} seed {args.seed}, {args.pairs} pairs, {seconds} s runs, parent {args.parent}")
    print(f"{'metric':<16} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} {'wins':>6}  verdict")
    for m in bench["end_to_end"]:
        name = m["name"]
        p = [r["metrics"][name]["value"] for r in results["parent"] if name in r.get("metrics", {})]
        c = [r["metrics"][name]["value"] for r in results["change"] if name in r.get("metrics", {})]
        if len(p) != args.pairs or len(c) != args.pairs:
            continue
        wins, v = verdict(p, c, m["better"], m["bound"])
        fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))
        print(f"{name:<16} {fmt(p):>28} {fmt(c):>28} {wins:>3}/{args.pairs}  {v}")
    if not ok:
        raise SystemExit("pairs: a run was not correct or had failed operations")


if __name__ == "__main__":
    main()
