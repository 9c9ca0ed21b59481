#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload wc_zipf --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Workloads (BENCHMARK.json declares the first two and gives the reasons):
  wc_zipf     WordCount.fromDirectory -> writeCsv over a seeded Zipf corpus
  dedup_iter  persist-heavy dedup and graph queries
  olap_star   relational control queries that persist nothing; runnable,
              but outside the declared set to keep the run budget

The first run in a checkout compiles the engine and the harness
(perfbench/build.sbt) and generates the tables; later runs reuse both.
Each job is timed from plan construction to its sink with every cached
intermediate dropped first, after a cold pass that also warms the JIT.
Every job's output is checked: the word-count CSV against a byte-walk
reference inside the JVM, query outputs against the DuckDB oracle here.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer ones with --trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("wc_zipf", "dedup_iter", "olap_star")
# dedup_iter's oracle is all-pairs SQL, so the tables stay small
TABLE_SF = 0.01
HEAP = "4g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(1)


# ── build ────────────────────────────────────────────────────────────────

def _source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compiles engine + harness once per source state; returns the
    classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at src/main/scala next to perfbench/")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("compiling engine + harness (first run in this checkout)")
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not run: {e}")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and classes in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), stamp


TABLES = os.path.join(WORK, f"tables-sf{TABLE_SF}-v{gen_tables.VERSION}")


def prepare(classpath, stamp):
    """Once per build: generates the tables and computes the DuckDB oracle
    digests of every query job, so no timed run waits for the oracle."""
    done = os.path.join(WORK, "build", "prepared")
    if os.path.exists(done) and open(done).read() == stamp:
        return
    import oracle
    sql_file = os.path.join(WORK, "build", "oracle_sql.json")
    p = subprocess.run(java_cmd(classpath) + ["perfbench.Main", "--oracles", sql_file],
                       cwd=WORK, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=300)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("could not list the oracle SQL")
    with open(sql_file) as f:
        sqls = json.load(f)
    gen_tables.ensure(TABLES, TABLE_SF)
    con = oracle.connect(TABLES, cores())
    for workload, by_job in sqls.items():
        log(f"computing DuckDB oracle digests for {workload}")
        oracle.oracle_digests(con, by_job,
                              os.path.join(TABLES, "oracle-digests.json"))
    with open(done, "w") as f:
        f.write(stamp)


# ── the JVM run ──────────────────────────────────────────────────────────

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v[:8])
    except OSError:
        return None


def java_cmd(classpath, tmp=None):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    if tmp:
        cmd.append(f"-Djava.io.tmpdir={tmp}")
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def run_jvm(args, classpath, run_dir, tables, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    cmd = java_cmd(classpath, tmp) + ["perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--cores", str(cores()), "--tables", tables or "", "--out", result]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
               SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("JVM run exceeded its time limit")
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM run failed with exit code {p.returncode}")
    with open(result) as f:
        return json.load(f)


def check_outputs(res, run_dir, tables):
    """Compares every query output with the DuckDB oracle; marks mismatches
    as errors on the run records."""
    import oracle
    with open(os.path.join(WORK, "build", "oracle_sql.json")) as f:
        sqls = json.load(f)[res["workload"]]
    con = oracle.connect(tables, 1)
    want = oracle.oracle_digests(con, sqls,
                                 os.path.join(tables, "oracle-digests.json"))
    for r in res["runs"]:
        if r["kind"] != "job" or r["error"] or not r.get("out"):
            continue
        try:
            got = oracle.output_digest(con, os.path.join(run_dir, r["out"]))
        except Exception as e:  # unreadable output is a failed job
            r["error"] = f"output unreadable: {e}"
            continue
        if got != tuple(want[r["job"]]):
            r["error"] = (f"digest mismatch: {got[1]} rows vs oracle "
                          f"{want[r['job']][1]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="'all' runs every workload BENCHMARK.json declares")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        codes = [subprocess.run(
            [sys.executable, __file__, "--workload", w["name"], "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace",
             str(args.trace)]).returncode for w in declared("workloads")]
        sys.exit(max(codes))

    classpath, stamp = build()
    prepare(classpath, stamp)
    tables = TABLES if args.workload != "wc_zipf" else None
    deadline = time.time() + JVM_TIMEOUT_S
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    load_1m = os.getloadavg()[0]
    cpu0 = cpu_times()
    res = run_jvm(args, classpath, run_dir, tables, deadline)
    cpu1 = cpu_times()
    if tables:
        check_outputs(res, run_dir, tables)

    jobs = [r for r in res["runs"] if r["kind"] == "job"]
    failures = [r for r in jobs if r["error"]]
    for r in failures[:5]:
        log(f"FAILED {r['job']} (pass {r['pass']}): {r['error']}")
    if args.trace:
        host = {"host.load_1m": load_1m,
                "host.steal_pct": (100.0 * (cpu1[0] - cpu0[0])
                                   / max(1, cpu1[1] - cpu0[1])) if cpu0 else 0.0}
        values = metrics.per_layer(res, host)
    else:
        values = metrics.end_to_end(res)
    units = {m["name"]: m["unit"]
             for m in declared("per_layer" if args.trace else "end_to_end")}
    report(args, res, values, units, len(jobs), len(failures))
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)
    print(json.dumps({
        "correct": not failures, "attempted": len(jobs), "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))


def declared(section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[section]


def report(args, res, values, units, attempted, failed):
    """Human-readable summary, every metric by name and unit."""
    print(f"workload {args.workload}  seed {args.seed}  cores {res['cores']}  "
          f"trace {args.trace}")
    if not args.trace:
        extra = {"cold_wall_s": (metrics.cold_wall_s(res), "s"),
                 "setup.first_s": (res["setup_s"][0], "s"),
                 "failed_ratio": (failed / attempted, "ratio"),
                 "retained_mb": (metrics.retained_mb(res), "MB")}
        rows = [(k, values[k], u) for k, u in units.items()]
        rows += [(k, v, u) for k, (v, u) in extra.items()]
    else:
        na = set(metrics.WC_KEYS) if not res.get("wc") else set()
        rows = [(k, "n/a" if k in na else values[k], u) for k, u in units.items()]
    for k, v, u in rows:
        shown = f"{v:.4f}" if isinstance(v, float) else str(v)
        print(f"  {k:28s} {shown:>14s} {u}")


if __name__ == "__main__":
    main()
