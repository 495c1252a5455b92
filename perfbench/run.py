#!/usr/bin/env python3
"""Connector and pipeline benchmark (see README.md next to this file).

    python3 perfbench/run.py --workload connector_local --seed 1 --seconds 20 --trace 0

Run from the repository root. The first call builds the program and the
benchmark from source with sbt (offline) into .bench_build/ and the
benchmark's target/; later calls reuse that build while no source changed.
The measurement itself runs in one JVM (perfbench.Main); its last stdout
line, a JSON object, is this script's last line. The JVM's log and the
traced run's spans go to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
OUT = os.path.join(BENCH, "out")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("connector_local", "connector_rest", "pipeline_publish")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src", "main")]
    for r in roots:
        for d, _, fs in os.walk(r):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def source_hash():
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    return env


def classpath():
    """Classpath of a build of the current sources; builds when stale."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail(f"program sources not found under {PROGRAM_SRC}")
    stamp_path = os.path.join(BUILD, "stamp")
    cp_path = os.path.join(BUILD, "classpath")
    want = source_hash()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as f:
            if f.read() == want:
                with open(cp_path) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines()
             if l.endswith(".jar") and os.pathsep in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    with open(cp_path, "w") as f:
        f.write(lines[-1])
    with open(stamp_path, "w") as f:
        f.write(want)
    return lines[-1]


def java(cp, main, args, log_path, timeout):
    """Run a benchmark main in its own JVM; returns its stdout lines."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, main] + args)
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                               stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{main} exceeded {timeout}s (log: {log_path})")
    if p.returncode != 0:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"{main} exited with {p.returncode} (log: {log_path})")
    return p.stdout.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    cp = classpath()
    os.makedirs(OUT, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    # set-up is timed from here: JVM start, Spark session, inputs, warm-up
    t0_ms = int(time.time() * 1000)
    lines = java(cp, "perfbench.Main",
                 ["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--t0-ms", str(t0_ms), "--data", os.path.join(BENCH, "data"),
                  "--digests", os.path.join(BENCH, "expected_digests.json"),
                  "--out", OUT, "--tag", tag],
                 os.path.join(OUT, tag + ".log"), RUN_TIMEOUT_S)
    result = next((l for l in reversed(lines) if l.startswith("{")), None)
    if result is None:
        fail("the benchmark printed no result")
    parsed = json.loads(result)
    if set(parsed) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {result}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    if {m["name"] for m in spec} != set(parsed["metrics"]):
        fail("the metrics printed differ from those BENCHMARK.json lists")
    with open(os.path.join(OUT, tag + ".json"), "w") as f:
        f.write(result + "\n")
    print(result)


if __name__ == "__main__":
    main()
