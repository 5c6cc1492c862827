#!/usr/bin/env python3
"""Import-service benchmark runner.

Builds the benchmark package (which compiles the engine from this
checkout's ``src/main/scala``) when its sources changed, runs one
workload in a JVM, and relays the result:

    python3 importbench/run.py --workload bulk_shared_dir --seed 1 \
        --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it list the
same metrics for reading. Build output, JVM logs, work directories and
span traces all go under ``.bench_build/`` in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("bulk_shared_dir", "debug_repair")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
JVM_OPTS = ["-Xmx2g", "-Dspark.ui.enabled=false"] + [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code):
    print("importbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile when the engine or benchmark sources differ from the last
    build; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "importbench.stamp")
    cp_file = os.path.join(target, "run-classpath.txt")
    fp = source_fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == fp:
                with open(cp_file) as cp:
                    return cp.read().strip()
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.offline=true", "compile", "writeRunClasspath"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail("build failed (log: %s)" % log, 3)
    with open(stamp, "w") as fh:
        fh.write(fp)
    with open(cp_file) as cp:
        return cp.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        fail("engine sources not found at %s; run from a checkout of the "
             "repository" % os.path.relpath(ENGINE, ROOT), 2)
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at the Spark installation", 2)
    cp = build()

    tag = "%s-seed%d-trace%s" % (a.workload, a.seed, a.trace)
    work = os.path.join(OUT, "work-%s-%d" % (tag, os.getpid()))
    logs = os.path.join(OUT, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, tag + ".log")
    cmd = (["java"] + JVM_OPTS +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "importbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            out = None
    shutil.rmtree(work, ignore_errors=True)
    with open(log) as fh:
        for line in fh:
            if line.startswith(("[importbench]", "CHECK FAILED")):
                sys.stderr.write(line)
    if out is None:
        fail("run exceeded %d s (log: %s)" % (RUN_TIMEOUT_S, log), 4)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("no result from the benchmark JVM (exit %s, log: %s)"
             % (proc.returncode, log), 5)
    if proc.returncode != 0:
        fail("benchmark JVM exited %s (log: %s)" % (proc.returncode, log), 5)
    for name, m in result["metrics"].items():
        print("%-32s %16.6g %s" % (name, m["value"], m["unit"]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
