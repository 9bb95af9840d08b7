#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the benchmark from source, runs one
workload in its own local[4] Spark JVM, and prints the result as the last line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run it from the repository root. See perfbench/README.md for the workloads and
metrics.
"""
import argparse
import glob
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
WORKLOADS = ("pipeline", "query_suite")
# A run must end within 180 s; leave room for teardown. Compiling takes ~30 s.
RUN_DEADLINE_S = 165
BUILD_DEADLINE_S = 600
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        fail(f"program sources not found under {os.path.relpath(prog)}")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return files


def build(jars):
    """Compiles program + benchmark with scalac into a directory named by the
    hash of every input, so a changed source always rebuilds."""
    srcs = sources()
    res = os.path.join(ROOT, "src", "main", "resources")
    inputs = srcs + sorted(p for p in glob.glob(os.path.join(res, "**"), recursive=True)
                           if os.path.isfile(p))
    h = hashlib.sha256()
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    base = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                        "perfbench")
    classes = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp,
           "@" + argfile]
    if run_child("compilation", cmd, t0 + BUILD_DEADLINE_S, stdout=sys.stderr) != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.remove(argfile)
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    os.rename(tmp, classes)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_child(what, cmd, deadline, stdout=None):
    """Runs `cmd` in its own process group and returns its exit code, or None
    when it outlives `deadline`; the group is always gone on return."""
    proc = subprocess.Popen(cmd, stdout=stdout, start_new_session=True)
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        print(f"perfbench: {what} exceeded its time limit", file=sys.stderr)
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    # SIGTERM from outside must still stop the children and clean up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    classes = build(jars)
    deadline = time.time() + RUN_DEADLINE_S
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    try:
        cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseParallelGC"]
               + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
               + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                  f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                  "-Dspark.sql.session.timeZone=UTC",
                  "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
                  "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--data", os.path.join(HERE, "data", "sf0.01"),
                  "--out", os.path.join(ROOT, ".bench_out"), "--result", result])
        code = run_child("the benchmark run", cmd, deadline)
        if code != 0 or not os.path.isfile(result):
            fail(f"benchmark JVM exited with {code}")
        with open(result) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    missing = set(metric_names(a.trace)) - set(out["metrics"])
    if missing:
        fail(f"metrics missing from the run: {sorted(missing)}")
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
