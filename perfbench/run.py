#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload, check its outputs, report.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline|fixpoint|knn --seed N \
        --seconds S --trace 0|1 [--tiny] [--corrupt]

The first run in a checkout compiles the program and the benchmark with
sbt (offline) into .bench_build/; later runs reuse that build while the
sources are unchanged. The workload runs in one JVM on local[nproc]; the
query workloads' results are then compared with DuckDB running each
query's oracle SQL (tools/check.py). The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json when --trace 0 and every
per-layer metric when --trace 1. The full record of the run (box, setup
repetitions, fingerprint, failures, all metrics) goes to
.bench_build/results/, the spans of a traced run next to it.

--tiny runs at sf0.001 with a small index (the self-test's scale);
--corrupt falsifies one result before the checks, which must then fail.
Test data comes from $GRAFT_TESTDATA, default ~/testdata.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
HEAP = ["-Xms4g", "-Xmx4g"]
# test data by workload; knn generates its vectors and reads none
SF = {"pipeline": "sf0.1", "fixpoint": "sf0.01", "knn": "sf0.01"}
# rows of each knn index; a multiple of the 10 add calls
NV = {False: 5000, True: 2000}

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def cpu_seconds():
    """CPU seconds of all CPUs since boot, from /proc/stat: (stolen by the
    hypervisor, busy, total), and the CPU seconds of this process's waited
    children."""
    t = os.times()
    ours = t.children_user + t.children_system
    try:
        with open("/proc/stat") as f:
            v = [int(x) / os.sysconf("SC_CLK_TCK") for x in f.readline().split()[1:9]]
        return v[7], sum(v) - v[3] - v[4] - v[7], sum(v), ours
    except (OSError, IndexError, ValueError):
        return 0.0, 0.0, 0.0, ours


def source_stamp():
    h = hashlib.sha256()
    roots = ["src/main", "project/build.properties", "build.sbt",
             "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"]
    for r in roots:
        path = os.path.join(ROOT, r)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless .bench_build holds a build of these sources."""
    for need in ("build.sbt", "src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a full checkout of the repository")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp_file
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, cp_file):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       BUILD_TIMEOUT_S, cwd=os.path.join(ROOT, "perfbench"), env=env,
                       stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}); see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp_file


def oracle_check(sf, verify_dir, queries):
    """tools/check.py over the verify pass's outputs. Every query must get
    an OK line; a FAIL line, a missing line or a failed check.py fails."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), sf, verify_dir],
                       cwd=ROOT, capture_output=True, text=True, timeout=120)
    status = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("OK", "FAIL"):
            status[rest.strip().split(":")[0]] = (word, line)
    fails = [line for word, line in status.values() if word == "FAIL"]
    if not queries:
        fails.append("FAIL the verify pass named no query to check")
    fails += [f"FAIL {q}: no oracle check line" for q in queries if q not in status]
    if r.returncode != 0 and not fails:
        fails.append(f"FAIL oracle check exited {r.returncode}: {r.stderr.strip()[-300:]}")
    return len(queries), fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found")
    with open(bench_file) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    cp_file = build()
    with open(cp_file) as f:
        classpath = f.read().strip()

    data = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
    sf = os.path.join(data, "sf0.001" if a.tiny else SF[a.workload])
    if a.workload != "knn" and not os.path.exists(os.path.join(sf, "lineitem.parquet")):
        fail(f"test data not found at {sf}")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-tiny" if a.tiny else "")
    out = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    load_at_start = os.getloadavg()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, *HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--sf", sf,
            "--fp-dir", os.path.join(data, "sf0.001"), "--nv", str(NV[a.tiny]),
            "--corrupt", "1" if a.corrupt else "0"]
    t0 = time.time()
    cpu0 = cpu_seconds()
    with open(os.path.join(out, "jvm.log"), "w") as log:
        rc = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    steal, busy, total, ours = (b - a for a, b in zip(cpu0, cpu_seconds()))
    # shares of the box's CPU time, while the run was on, that the
    # hypervisor gave to other guests, and that other processes used
    steal_frac = steal / max(total, 1e-9)
    other_busy_frac = max(0.0, busy - ours) / max(total, 1e-9)
    result_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        fail(f"workload run failed (exit {rc}); see {os.path.join(out, 'jvm.log')}", 4)
    with open(result_file) as f:
        res = json.load(f)

    attempted, failures = res["attempted"], list(res["failures"])
    if a.workload != "knn":
        n, fails = oracle_check(sf, os.path.join(out, "verify"), res["oracle_queries"])
        attempted += n
        failures += fails

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or got["value"] is None:
            failures.append(f"metric {m['name']} missing or not in {m['unit']}")
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "tiny": a.tiny, "wall_s": time.time() - t0,
              "box": dict(res["box"], nproc=len(os.sched_getaffinity(0)), load_at_start=load_at_start,
                         steal_frac=steal_frac, other_busy_frac=other_busy_frac),
              "attempted": attempted, "failed": len(failures),
              "failed_frac": len(failures) / max(attempted, 1),
              "failures": failures, "metrics": res["metrics"]}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    box = record["box"]
    print("box: " + json.dumps({k: box.get(k) for k in
          ("nproc", "max_heap_mb", "jdk", "spark", "load_at_start", "steal_frac",
           "other_busy_frac", "fingerprint_s")}))
    for x in failures:
        print(f"FAILED: {x}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
