#!/usr/bin/env python3
"""Run one kgbench workload and print its result as the last stdout line.

Usage (from the repository root):
    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Compiles the benchmark (the repository's library sources plus kgbench/src) with
the Scala compiler among the Spark jars when a source changed since the last
build, then runs the workload in a fresh JVM at local[k], k = min(nproc, 4).
Writes only under .bench_build/ in the working directory.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "kgbench")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
COMPILE_TIMEOUT_S = 840
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java_bin():
    home = os.environ.get("JAVA_HOME", "")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no java found: set JAVA_HOME or put java on PATH", 3)
    return found


def spark_jars():
    """The Spark installation's jars directory: $SPARK_HOME/jars, else the one next to
    the spark-submit on PATH, else the directory the repository's own build.sbt names
    as its unmanagedBase."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))),
                                       "jars"))
    root_build = os.path.join(ROOT, "build.sbt")
    if os.path.exists(root_build):
        with open(root_build) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")) and \
                glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail(f"no Spark jars directory with spark-core and scala-compiler among {candidates}: "
         "set SPARK_HOME", 3)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(sources, jars):
    h = hashlib.sha256(jars.encode())
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(java, jars):
    """Compiles the repository's library sources together with the harness in
    kgbench/src into .bench_build/kgbench/classes, with the Scala compiler that ships
    among the Spark jars; skipped when no source changed since the last build."""
    sources = source_files()
    want = stamp(sources, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    print(f"kgbench: compiling {len(sources)} Scala sources", file=sys.stderr)
    t0 = time.time()
    out = CLASSES + ".new"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jar_cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ([java, "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
            "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
            "-nowarn", "-d", out, "-classpath", jar_cp] + sources)
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"compile exceeded {COMPILE_TIMEOUT_S} s and was stopped", 3)
    if r.returncode != 0:
        fail(f"compile failed (scalac exit {r.returncode})", 3)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(out, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want)
    print(f"kgbench: compiled in {time.time() - t0:.0f} s", file=sys.stderr)


def mem_total_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    fail("MemTotal not found in /proc/meminfo")


def no_duplicates(pairs):
    keys = [k for k, _ in pairs]
    dup = {k for k in keys if keys.count(k) > 1}
    if dup:
        raise ValueError(f"duplicate keys {sorted(dup)}")
    return dict(pairs)


def validate(line, spec, trace):
    res = json.loads(line, object_pairs_hook=no_duplicates)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    if [m["name"] for m in want] != list(got):
        raise ValueError("metric names differ from BENCHMARK.json")
    for m in want:
        if got[m["name"]]["unit"] != m["unit"] or set(got[m["name"]]) != {"value", "unit"}:
            raise ValueError(f"metric {m['name']} has the wrong shape or unit")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="Spark local[k] level; default min(nproc, 4); above nproc is refused")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft not found")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found in the working directory")
    with open(spec_path) as fh:
        spec = json.load(fh)

    nproc = len(os.sched_getaffinity(0))
    cores = a.cores or min(nproc, 4)
    if cores > nproc:
        fail(f"refusing to time local[{cores}] on a host with nproc={nproc}")
    mem_mb = mem_total_mb()
    heap_mb = max(1024, min(3072, mem_mb // 6))
    print(f"host: nproc={nproc} mem_total_mb={mem_mb} cores={cores} heap_mb={heap_mb}")
    sys.stdout.flush()

    java = java_bin()
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    build(java, jars)
    cp = os.pathsep.join([CLASSES, os.path.join(jars, "*")])

    work = os.path.join(BUILD, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed-size G1 heap: no size-adaptive growth, so VmHWM does not follow the
    # timing of heap expansion
    cmd = ([java, "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "kgbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
              "--work", work])
    result = None
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        deadline = time.time() + JVM_TIMEOUT_S
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                result = line.strip()
            else:
                print(line, end="")
                sys.stdout.flush()
            if time.time() > deadline:
                break
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    trace_file = os.path.join(work, "trace.jsonl")
    if os.path.exists(trace_file):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.move(trace_file, os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"JVM exceeded {JVM_TIMEOUT_S} s and was stopped", 4)
    if code != 0 or result is None:
        fail(f"JVM exit {code}, no result", 5)
    try:
        validate(result, spec, a.trace == 1)
    except ValueError as e:
        fail(f"invalid result line: {e}", 6)
    print(result)


if __name__ == "__main__":
    main()
