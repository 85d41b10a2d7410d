#!/usr/bin/env python3
"""Benchmark of the bicis engine: one warm local[nproc] JVM per run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <bicis_forecast|query_session> \
      --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --baseline-check

Builds the engine and the benchmark's JVM code from source on first use
(sbt, into `.bench_build/` and the sbt target directories), generates the
workload's inputs from the seed, runs the benchmark JVM, checks the outputs
and prints one JSON result as the last line of stdout. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("bicis_forecast", "query_session")
TRIPS = 10000          # bicis_forecast input trips
DOCS = 300             # traced corpus DAG: base docs (plus a 10% batch)
DEADLINE_S = 175       # a run (not counting a first-use build) ends within 180 s
JVM_HEAP = "2g"


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Compiles the engine and the benchmark code unless this source tree
    was already built; returns the runtime classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                             "-J-XX:-UsePerfData",
                             "compile", "export Runtime/fullClasspath"],
                            cwd=HERE, stdout=fh, stderr=subprocess.STDOUT, timeout=850).returncode
    lines = open(log).read().splitlines()
    cps = [l for l in lines if l.startswith(os.path.join(HERE, "target"))]
    if rc != 0 or not cps:
        die(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cps[-1]


def java_cmd(cp, work):
    opens = [f"java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    return (["java"] + [a for p in opens for a in ("--add-opens", p)] +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
             "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "graft.perfbench.Main"])


def run_jvm(cmd, work, timeout):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"benchmark JVM exceeded {timeout:.0f} s", 3)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def oracle_check(tables, oracle_dir, n_queries, work):
    """The DuckDB compare of tools/check.py over the dumped results."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), tables, oracle_dir],
                       cwd=work, capture_output=True, text=True, timeout=120)
    m = re.search(r"== (\d+) pass / (\d+) fail ==", p.stdout)
    passed = int(m.group(1)) if m else 0
    bad = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    return p.returncode == 0 and passed == n_queries, passed, bad


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def main():
    # a terminated run still stops its JVM (see run_jvm) and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=13)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--baseline-check", action="store_true",
                    help="reproduce PipeBench's 1M-trip record (seed 13) instead")
    a = ap.parse_args()
    if not a.workload and not a.baseline_check:
        ap.error("--workload is required")
    for f in ("build.sbt", os.path.join("src", "main", "scala"), os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, f)):
            die(f"{f} not found next to the benchmark: run it from a checkout of the repository")

    cp = classpath()
    t_start = time.time()
    workload = "baseline" if a.baseline_check else a.workload
    name = f"{workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work, logs = os.path.join(BUILD, "work", name), os.path.join(BUILD, "logs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        tables = os.path.join(work, "tables")
        if workload == "query_session" or a.trace:
            sys.path.insert(0, HERE)
            import gen_tables
            gen_tables.write(tables, a.seed)
        trips = 1000000 if a.baseline_check else TRIPS
        args = [workload, str(a.seed), str(a.seconds), str(a.trace), work, tables, str(trips), str(DOCS)]
        t_jvm = time.time()
        rc = run_jvm(java_cmd(cp, work) + args, work, DEADLINE_S - (time.time() - t_start))
        t_check = time.time()
        res_file = os.path.join(work, "result.json")
        if not os.path.exists(res_file):
            die(f"benchmark JVM exited {rc} without a result; see {logs}/jvm.log", 3)
        res = json.load(open(res_file))
        notes = res["notes"]
        correct = res["correct"] and rc == 0
        if "oracle_dir" in res:
            ok, passed, bad = oracle_check(tables, res["oracle_dir"], len(res["queries"]), work)
            notes.append(f"{'ok' if ok else 'FAILED'} check: DuckDB oracle compare, "
                         f"{passed}/{len(res['queries'])} queries match")
            notes += bad
            correct = correct and ok
        res["harness_s"] = {"inputs": round(t_jvm - t_start, 2), "jvm": round(t_check - t_jvm, 2),
                            "oracle_check": round(time.time() - t_check, 2)}
        report(workload, a, res, notes)
        m = res["metrics"]
        if a.baseline_check:
            metrics = {"wall_s": {"value": m.get("wall_s"), "unit": "s"}}
        else:
            kind = "per_layer" if a.trace else "end_to_end"
            metrics = {n: {"value": m[n], "unit": u} for n, u in declared(kind)
                       if isinstance(m.get(n), (int, float)) and math.isfinite(m[n])}
            missing = [n for n, _ in declared(kind) if n not in metrics]
            if missing:
                print(f"missing metrics: {missing}")
                correct = False
        print(json.dumps({"correct": bool(correct), "attempted": max(1, res["attempted"]),
                          "failed": res["failed"], "metrics": metrics}))
        sys.exit(0)
    finally:
        os.makedirs(logs, exist_ok=True)
        for f in ("jvm.log", "result.json", "spans.jsonl"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), logs)
        shutil.rmtree(work, ignore_errors=True)


def report(workload, a, res, notes):
    """Human-readable summary: the per-workload metric names,
    warm-up evidence next to the timed passes, every check."""
    m = res["metrics"]
    print(f"== {workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    for n in notes:
        print(f"  {n}")
    print(f"  attempted={res['attempted']} failed={res['failed']} "
          f"failed_share={res['failed'] / max(1, res['attempted']):.3f}")
    skip = {"correct", "attempted", "failed", "metrics", "notes", "queries"}
    for k, v in res.items():
        if k not in skip:
            print(f"  {k}: {json.dumps(v)}")
    if a.trace or a.baseline_check:
        for k in sorted(m):
            print(f"  {k} = {m[k]:.4f}")
        return
    names = {"bicis_forecast": [("wall_s", "s"), ("rows_per_s", "rows/s"), ("rerun_s", "s")],
             "query_session": [("wall_s", "s"), ("queries_per_s", "1/s"), ("query_p50_s", "s")]}[workload]
    for (n, u), v in zip(names, (m["wall_s"], m["items_per_s"], m["op_p50_s"])):
        print(f"  {workload}/{n} = {v:.4f} {u}")
    if "query_tail" in res:
        t = res["query_tail"]
        print(f"  {workload}/query_tail_s = {t['value_s']:.4f} s "
              f"(p{t['percentile']} of {t['samples']} samples)")
    print(f"  {workload}/setup_s = {m['setup_s']:.4f} s")
    print(f"  {workload}/peak_rss_mb = {m['peak_rss_mb']:.1f} MB")
    print(f"  {workload}/retained_heap_mb = {m['retained_heap_mb']:.1f} MB")


if __name__ == "__main__":
    main()
