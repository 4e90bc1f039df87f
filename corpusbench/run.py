#!/usr/bin/env python3
"""Corpus benchmark: builds the engine and the benchmark from source with sbt
(once per source state), then runs one workload in a fresh JVM and prints its
result as the last line of standard output.

Usage, from the root of the repository:
    python3 corpusbench/run.py --workload featurize --seed 1 --seconds 30 --trace 0

Workloads: featurize, curate. A run times one pass over the benchmark corpus,
the first the JVM makes; --seconds is accepted for callers and does not
change the work. --docs N replaces the benchmark corpus size, for size
sweeps. With --trace 1 the run reports per-layer metrics and writes a span
file to corpusbench/out/spans/. The build writes a stamp to corpusbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
BUILD_STAMP = os.path.join(OUT, "build.json")
WORKLOADS = ("featurize", "curate")
# a first run builds and then runs; all of it must end within 900 s
SBT_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these module openings outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"corpusbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd():
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Dfile.encoding=UTF-8",
        # a run is short and its first pass JIT-bound: a throughput collector
        # and two compiler threads leave the cores to the work and cut
        # run-to-run spread on a 4-core host
        "-XX:+UseParallelGC", "-XX:CICompilerCount=2"]


def build():
    """Compiles engine and benchmark into jars; returns the classpath."""
    digest = source_digest()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)):
            return stamp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export corpusbench/Runtime/fullClasspathAsJars"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=SBT_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(BUILD_STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


def declared_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    # on SIGTERM, raise: subprocess.run then kills its child and waits for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources at {ROOT} (build.sbt, src/main/scala)")
    cp = build()

    work = os.path.join(OUT, f"work-{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spans = os.path.join(OUT, "spans", f"{a.workload}-seed{a.seed}.tsv")
    cmd = java_cmd() + [
        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "corpusbench.Bench",
        "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
        "--work", work, "--spans", spans]
    if a.docs:
        cmd += ["--docs", str(a.docs)]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                              capture_output=True, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-6000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    want = declared_metrics(a.trace)
    if want is not None and set(result["metrics"]) != want:
        fail(f"metrics differ from BENCHMARK.json: "
             f"{sorted(set(result['metrics']) ^ want)}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
