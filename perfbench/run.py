#!/usr/bin/env python3
"""Cold and warm end-to-end benchmark of the program's query modules.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --summary [--seed <n>]

One run builds the program from the checkout's sources (when they differ
from the last build; sbt, offline), generates the tables (gen.py, once)
and runs the workload in a fresh JVM (perfbench.Harness): session set-up
and warm-up, a cold pass, an untimed pass that writes every result for
the DuckDB oracle compare (check.py), then warm passes sized by
--seconds. The seed permutes the workload's query order. The last stdout
line is one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. --summary runs every workload once untraced and prints
the end-to-end figures with the wall times, the resident cache and the
failed share.
--dual times every query of the program once cold by count() and once by
the noop sink and prints both. See README.md for the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["relational", "algebra_llm"]
HEAP = "3g"
DATA_SEED = 1
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
# What spark-submit adds on JDK 17 (the program's build.sbt sets the same).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

sys.path.insert(0, HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, what, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group,
    waits for it and fails."""
    p = subprocess.Popen(cmd, start_new_session=True,
                         stdin=subprocess.DEVNULL, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{what} timed out after {timeout} s")
    return p.returncode, out


def source_files():
    """Every file the build reads: all of both source trees, and the build
    definitions (build.sbt, project/*.scala|sbt|properties) of both builds."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    roots = [(os.path.join(ROOT, "src", "main"), True),
             (os.path.join(HERE, "src"), True),
             (os.path.join(ROOT, "project"), False),
             (os.path.join(HERE, "project"), False)]
    for r, every_file in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if every_file or n.endswith((".scala", ".sbt",
                                                   ".properties"))]
    return files


def build():
    """Compile the program and the client; returns the run classpath.

    Every build writes to the same target directories, so one stamp holds
    the source hash of the last successful build and its classpath. sbt
    runs whenever the sources differ from that build; the stamp is removed
    first, so a failed or cut build never leaves a matching one behind."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no program sources next to perfbench/ (build.sbt, src/main)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(WORK, "last-build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            last = json.load(fh)
        if last["sources"] == digest:
            return last["classpath"]
        os.remove(stamp)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log("building the program and the benchmark client (sbt)")
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log_file:
        code, out = run_proc(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
            f"build (log in {log_path})", cwd=HERE, env=env,
            stdout=subprocess.PIPE, stderr=log_file)
        log_file.write(out)
    lines = [x for x in out.splitlines() if x.strip()]
    cp = lines[-1].strip() if lines else ""
    if code != 0 or os.path.join(HERE, "target") not in cp:
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    with open(stamp, "w") as fh:
        json.dump({"sources": digest, "classpath": cp}, fh)
    return cp


def tables():
    """The tables every run reads. Like the reference data they are the
    same for every seed; the seed permutes the query order. Work that
    depends on the data (dedup and BPE iteration counts, memo sizes) then
    does not vary from run to run."""
    import gen
    d = os.path.join(WORK, "data", f"seed-{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write(d, DATA_SEED)
        open(os.path.join(d, "done"), "w").close()
    return d


def harness(cp, args, logname, timeout=JVM_TIMEOUT_S):
    """Runs perfbench.Harness in a fresh JVM; returns its result object."""
    run_dir = os.path.join(WORK, "jvm")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Harness",
                          "--scratch", run_dir,
                          "--launched-ms", str(int(time.time() * 1000))]
           + args)
    errlog = os.path.join(WORK, logname)
    with open(errlog, "w") as err:
        code, out = run_proc(cmd, timeout, f"harness (log in {errlog})",
                             cwd=run_dir, stdout=subprocess.PIPE, stderr=err)
    lines = [x for x in out.splitlines() if x.startswith("PERFBENCH ")]
    if code != 0 or not lines:
        with open(errlog) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {code}, log in {errlog}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def unit(name):
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("frac"):
        return "fraction"
    return "count"


def run(workload, seed, seconds, trace):
    cp = build()
    data = tables()
    out = os.path.join(WORK, "out", f"{workload}-{seed}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    r = harness(cp, ["--data", data, "--mode", "run", "--workload", workload,
                     "--seed", str(seed), "--seconds", str(seconds),
                     "--trace", str(trace), "--out", out], "run.log")
    jvm_s = time.time() - t0

    import check
    con = check.connect(data)
    wrong = {}
    for q in r["queries"]:
        why = check.mismatch(con, q["oracle"], os.path.join(out, q["name"]))
        if why:
            wrong[q["name"]] = why
    check_s = time.time() - t0 - jvm_s
    calls_per_query = 1 + r["warm_passes"]
    failed_queries = sorted(set(r["failed_queries"]) | set(wrong))
    failed = r["failed_calls"] + calls_per_query * len(
        set(wrong) - set(r["failed_queries"]))
    attempted = r["attempted"]

    log(f"{workload} seed={seed} order={' '.join(r['order'])}")
    log(f"{workload}: setup_s={r['setup_s']:.3f} "
        f"cold_e2e_s={r['cold_e2e_s']:.3f} "
        f"warm_e2e_s={r['warm_e2e_s']:.3f} cold_cpu_s={r['cold_cpu_s']:.3f} "
        f"warm_cpu_s={r['warm_cpu_s']:.3f} (passes "
        f"{' '.join(f'{x:.3f}' for x in r['warm_pass_s'])}) "
        f"resident_cache_mb={r['resident_cache_mb']:.2f} "
        f"failed_frac={failed / attempted:.4f} heap_mb={r['heap_mb']} "
        f"memo_budget_mb={r['memo_budget_mb']:.1f} cores={r['cores']}")
    log(f"{workload}: jvm {jvm_s:.1f} s (untimed check pass "
        f"{r['verify_s']:.1f} s), oracle compare {check_s:.1f} s")
    log(f"{workload}: checked " + ", ".join(
        f"{q['name']} {'WRONG' if q['name'] in wrong else 'ok'} "
        f"({'oracle' if q['oracle'] else 'non-empty'})"
        for q in r["queries"]))
    for name, why in sorted(wrong.items()):
        log(f"{workload}: WRONG {name}: {why}")
    for name in r["failed_queries"]:
        log(f"{workload}: FAILED {name} (threw, see {WORK}/run.log)")

    if trace:
        metrics = {k: {"value": v, "unit": unit(k)}
                   for k, v in r["layers"].items()}
        trace_path = os.path.join(out, "trace.json")
        with open(trace_path) as fh:
            calls = json.load(fh)["calls"]
        # planning is clipped to the write's span (millisecond clocks)
        over = [f"{c['pass']} {c['query']}" for c in calls
                if c["spans"]["plan_s"] > c["spans"]["write_s"] + 0.002]
        if over:
            fail(f"plan_s exceeds the write span for: {', '.join(over)}")
        log(f"trace written to {trace_path}")
    else:
        metrics = {k: {"value": r[k], "unit": "s"}
                   for k in ("setup_s", "cold_cpu_s", "warm_cpu_s")}
    summary = dict(cold_e2e_s=r["cold_e2e_s"], warm_e2e_s=r["warm_e2e_s"],
                   failed_queries=failed_queries,
                   resident_cache_mb=r["resident_cache_mb"],
                   failed_frac=failed / attempted)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--summary", action="store_true",
                    help="run every workload once and print a table")
    ap.add_argument("--dual", action="store_true",
                    help="time every query cold by count() and by noop")
    a = ap.parse_args()
    if a.dual:
        cp, data = build(), tables()
        r = {s: harness(cp, ["--data", data, "--mode", "dual", "--sink", s],
                        f"dual-{s}.log", timeout=900)["seconds"]
             for s in ("count", "noop")}
        print(json.dumps({
            "data_seed": DATA_SEED, "cores": os.cpu_count(), "heap": HEAP,
            "queries": {q: {"count_s": r["count"][q], "noop_s": r["noop"][q]}
                        for q in r["noop"]},
            "total_count_s": sum(v for v in r["count"].values() if v >= 0),
            "total_noop_s": sum(v for v in r["noop"].values() if v >= 0)},
            indent=1))
        return
    if a.summary:
        print(f"{'workload':<15}{'setup_s':>10}{'cold_cpu_s':>12}"
              f"{'warm_cpu_s':>12}{'cold_e2e_s':>12}{'warm_e2e_s':>12}"
              f"{'resident_cache_mb':>19}{'failed_frac':>13}  failed queries")
        for w in WORKLOADS:
            res, s = run(w, a.seed, a.seconds, 0)
            m = res["metrics"]
            print(f"{w:<15}{m['setup_s']['value']:>10.3f}"
                  f"{m['cold_cpu_s']['value']:>12.3f}"
                  f"{m['warm_cpu_s']['value']:>12.3f}"
                  f"{s['cold_e2e_s']:>12.3f}{s['warm_e2e_s']:>12.3f}"
                  f"{s['resident_cache_mb']:>19.2f}{s['failed_frac']:>13.4f}"
                  f"  {' '.join(s['failed_queries']) or '-'}", flush=True)
        print("units: setup_s and the _cpu_s and _e2e_s columns in s; "
              "resident_cache_mb in MB; failed_frac is a fraction of calls")
        return
    if a.workload is None:
        ap.error("--workload is required")
    res, _ = run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
