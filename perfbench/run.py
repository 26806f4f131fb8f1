#!/usr/bin/env python3
"""Run one workload of the graft engine benchmark and print its metrics.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine
(src/main) together with the harness (perfbench/src) with sbt; later runs
reuse the build while the sources are unchanged. Each run starts one JVM
with its own scratch directory (java.io.tmpdir, Spark local dirs, inputs,
tables), deletes the scratch at exit, and prints report lines followed by
one JSON result line. `--trace 1` reports the per-layer metrics instead of
the end-to-end ones; `--spans FILE` keeps the traced run's spans there.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("llm_dedup", "txn_mixed")
HEAP = "2g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600

# Spark on JDK 17 outside spark-submit needs these (the set build.sbt uses).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE, os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE)}; run from a checkout", 2)
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name the Spark distribution", 2)
    digest = source_digest()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
            ok = r.returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
    if not ok:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed", 3)
    with open(STAMP, "w") as f:
        f.write(digest)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(args, scratch, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # `sbt compile` does not copy resources, so the engine's (the data
    # source registrations under META-INF/services) join the classpath here
    cp = os.pathsep.join([CLASSES, os.path.join(ENGINE, "resources"),
                          os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    # a fixed, pre-touched heap: no heap resizing or first-touch page
    # faults inside the measured loop
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--scratch", scratch, "--out", out]
    if args.spans:
        cmd += ["--spans", os.path.abspath(args.spans)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    log = os.path.join(scratch, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    if code != 0:
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        fail("benchmark JVM timed out" if code is None else f"benchmark JVM exited with {code}", 4)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="keep the traced run's spans in this JSON-lines file")
    args = ap.parse_args()

    build()
    want = expected_metrics(args.trace)
    runs = os.path.join(ROOT, ".perfbench_run")
    scratch = os.path.join(runs, f"{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(scratch)
    try:
        out = os.path.join(scratch, "result.txt")
        run_jvm(args, scratch, out)
        lines = open(out).read().splitlines()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    result = json.loads(lines[-1])
    missing = [m for m in want if m not in result["metrics"]]
    extra = [m for m in result["metrics"] if m not in want]
    if missing or extra:
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, unexpected {extra}", 5)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
