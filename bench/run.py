#!/usr/bin/env python3
"""Benchmark entry point.

    python3 bench/run.py --workload <tweets|lookup> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt on first use
(or when a source file is newer than the last build), then runs one
benchmark JVM and prints its result as the last line of stdout: one
JSON object with `correct`, `attempted`, `failed` and `metrics`.
Everything the run writes stays under bench/target.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in files:
        if os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    if os.path.isfile(CLASSPATH_FILE) and \
            os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime():
        with open(CLASSPATH_FILE) as f:
            cp = f.read().strip()
        if cp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise RuntimeError("no engine build next to the benchmark")
    out = subprocess.run(
        ["sbt", "-batch", "--no-server", "-Dsbt.log.noformat=true",
         "export Runtime / fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout)
        raise RuntimeError("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp + "\n")
    return cp


def run_jvm(cp, args):
    run_dir = os.path.join(TARGET, "run")
    tmp = os.path.join(TARGET, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "spark-warehouse"),
        "-Dspark.ui.enabled=false",
        "-cp", cp, "bench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", os.path.join(TARGET, "work"),
    ]
    if args.trace:
        cmd += ["--trace-file", os.path.join(
            TARGET, "traces", "%s-%d.json" % (args.workload, args.seed))]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("benchmark JVM exceeded %d s" % RUN_TIMEOUT_S)
    if proc.returncode != 0:
        raise RuntimeError("benchmark JVM exited with %d" % proc.returncode)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        raise RuntimeError("benchmark JVM printed no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["tweets", "lookup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        t0 = time.time()
        cp = build()
        sys.stderr.write("[bench] build ready in %.1f s\n" % (time.time() - t0))
        result = run_jvm(cp, args)
    except (RuntimeError, subprocess.TimeoutExpired, ValueError) as e:
        sys.stderr.write("[bench] error: %s\n" % e)
        return 1
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("[bench] malformed result: %r\n" % result)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
