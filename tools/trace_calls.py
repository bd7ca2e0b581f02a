#!/usr/bin/env python3
"""Per-call table of a traced perfbench run.

Usage:
  python3 tools/trace_calls.py <trace.json>

`trace.json` is what `python3 perfbench/run.py --workload W --seed S
--trace 1` writes into .bench_build/perfbench/out/W-S/. Prints one line per
call, in run order: the pass (cold, or warm1, warm2, ... by position), the
query, its construct, write and plan seconds, its Spark jobs, their tasks,
the summed task CPU seconds and the codegen compiles. A last line per pass
sums the columns.
"""
import json
import sys

COLS = ("construct_s", "write_s", "plan_s", "jobs", "tasks", "task_cpu_s",
        "compiles")


def rows(trace):
    per = trace["calls_per_pass"]
    for i, c in enumerate(trace["calls"]):
        k = i // per
        stages = [g for j in c["jobs"] for g in j["stages"]]
        yield ("cold" if k == 0 else f"warm{k}", c["query"], dict(
            construct_s=c["spans"]["construct_s"],
            write_s=c["spans"]["write_s"], plan_s=c["spans"]["plan_s"],
            jobs=len(c["jobs"]), tasks=sum(g["tasks"] for g in stages),
            task_cpu_s=sum(g["cpu_s"] for g in stages),
            compiles=c["compiles"]))


def fmt(pass_, query, v):
    return (f"{pass_:<7}{query:<28}" + "".join(
        f"{v[k]:>13.3f}" if k.endswith("_s") else f"{v[k]:>10d}"
        for k in COLS))


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as fh:
        trace = json.load(fh)
    print(f"{'pass':<7}{'query':<28}" + "".join(
        f"{k:>13}" if k.endswith("_s") else f"{k:>10}" for k in COLS))
    totals = {}
    for pass_, query, v in rows(trace):
        print(fmt(pass_, query, v))
        t = totals.setdefault(pass_, dict.fromkeys(COLS, 0))
        for k in COLS:
            t[k] += v[k]
    for pass_, t in totals.items():
        print(fmt(pass_, "(total)", t))


if __name__ == "__main__":
    main()
