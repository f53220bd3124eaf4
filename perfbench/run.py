#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the benchmark
from source with sbt (once per source state; the classpath is kept in
.bench_build/), runs one benchmark JVM on local[N] with N = min(4, cores),
checks the program's outputs against computations made apart from it,
and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. The line before it is a detail record
(per-query times, set-up steps, host steal share). See README.md.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
# the repository's fixed, read-only test tables (TESTDATA.md)
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", os.path.expanduser("~/testdata"))
JVM_TIMEOUT_S = 165
HEAP = "3g"

sys.path.insert(0, BENCH_DIR)
import checks  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for d, _, fs in os.walk(top):
            files.extend(os.path.join(d, f) for f in fs)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp_file = os.path.join(BUILD_DIR, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def cpu_jiffies():
    """(busy, steal) jiffies from /proc/stat's aggregate line."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[0] + v[1] + v[2], v[7]
    except (OSError, ValueError, IndexError):
        return None


def steal_pct(a, b):
    if a is None or b is None:
        return None
    busy, steal = b[0] - a[0], b[1] - a[1]
    return round(100.0 * steal / (busy + steal), 2) if busy + steal > 0 else None


def run_jvm(cp, args, work):
    """Runs the benchmark JVM; returns (exit code, WARN lines, stderr tail)."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, errors="replace", start_new_session=True)
    warn = [0]
    tail = collections.deque(maxlen=60)

    def pump():
        for line in proc.stdout:
            if " WARN " in line:
                warn[0] += 1
            else:
                tail.append(line)

    t = threading.Thread(target=pump, daemon=True)
    t.start()
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = "timeout"
    t.join()
    return rc, warn[0], "".join(tail)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["station_archive", "sql_analytics", "corpus_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources at {ROOT}: run from the root of a checkout")
    if not os.path.isdir(os.path.join(TESTDATA, "sf0.1")):
        fail(f"test tables not found under {TESTDATA}")

    cp = build()
    work = os.path.join(BUILD_DIR, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = min(4, os.cpu_count() or 1)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--data", TESTDATA,
            "--work", work, "--bench", BENCH_DIR, "--stations", f"{work}/stations"]
    j0 = cpu_jiffies()
    rc, warn_lines, tail = run_jvm(cp, args, work)
    steal = steal_pct(j0, cpu_jiffies())
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        sys.stderr.write(tail)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM failed (exit {rc})")
    with open(result_file) as f:
        res = json.load(f)

    facts = res["facts"]
    if a.workload == "station_archive":
        verdict = checks.station(facts, f"{work}/stations")
    else:
        verdict = checks.queries(facts)
    for msg in verdict.messages:
        print(f"perfbench: check: {msg}", file=sys.stderr)

    attempted = int(res["attempted"])
    failed = int(res["failed"]) + verdict.failed_ops * int(facts.get("passes", 1))
    metrics = res["metrics"]
    if a.trace:
        metrics["log.warn_lines"] = {"value": warn_lines, "unit": "count"}
    detail = dict(res["detail"], steal_pct=steal, warn_lines=warn_lines,
                  cores=cores, workload=a.workload, seed=a.seed)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": verdict.correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
