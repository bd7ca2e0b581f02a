#!/usr/bin/env python3
"""Paired perfbench runs of two checkouts: a parent and a change.

Usage:
  python3 tools/perf_pairs.py <parent_dir> <change_dir> --workload W --pairs N
      [--seed0 S]

Runs `python3 perfbench/run.py --workload W --seed s --seconds T` in each
checkout (each builds its own sources), one seed per pair (s = S, S+1, ...),
alternating which side runs first. Prints every run, then per end-to-end
metric: both medians, the ratio change/parent, the pairs the change won
(ties count for neither side) and the parent's interquartile range, and the
failed calls of each side. A gain holds when the change wins at least nine
tenths of the pairs and the medians differ by more than the parent's IQR.
The metric names, their direction and the run length T (run_seconds) come
from the change's BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """One perfbench run; returns its result object (the last stdout line)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [x for x in p.stdout.splitlines() if x.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"perf_pairs: perfbench failed in {checkout} (seed {seed}, "
                 f"exit {p.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    if a.pairs < 2:
        ap.error("--pairs must be at least 2")
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    better = {m["name"]: m.get("better", "lower") for m in bench["end_to_end"]}

    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run(getattr(a, side), a.workload, seed, seconds)
            runs[side].append(r)
            vals = " ".join(f"{k}={v['value']:.3f}"
                            for k, v in sorted(r["metrics"].items()))
            print(f"pair {i + 1} seed {seed} {side}: {vals} "
                  f"failed {r['failed']}/{r['attempted']}", flush=True)

    print(f"\n{a.workload}, {a.pairs} pairs, seeds {a.seed0}.."
          f"{a.seed0 + a.pairs - 1}, {seconds:g} s runs")
    print(f"{'metric':<14}{'parent':>10}{'change':>10}{'ratio':>8}"
          f"{'wins':>8}{'parent IQR':>12}")
    for name in better:
        par = [r["metrics"][name]["value"] for r in runs["parent"]]
        chg = [r["metrics"][name]["value"] for r in runs["change"]]
        sign = 1 if better[name] == "lower" else -1
        wins = sum(sign * (p - c) > 0 for p, c in zip(par, chg))
        q1, q3 = quartiles(par)
        mp, mc = statistics.median(par), statistics.median(chg)
        print(f"{name:<14}{mp:>10.3f}{mc:>10.3f}{mc / mp:>8.3f}"
              f"{wins:>5}/{a.pairs:<2}{q3 - q1:>12.3f}")
    for side in ("parent", "change"):
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        print(f"failed calls, {side}: {failed}/{attempted}")


if __name__ == "__main__":
    main()
