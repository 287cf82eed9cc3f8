#!/usr/bin/env python3
"""Store-level benchmark for the graft vector store.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Builds the program from `src/main/scala` together with the benchmark's own
Scala sources (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution, then runs one workload in a fresh JVM with a private
`java.io.tmpdir` and working directory under `perfbench/work/`, which is
deleted afterwards. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 1` the
metrics are the per-layer ones and the span file is written to
`perfbench/traces/`. Workloads, sizes and metrics: `perfbench/WORKLOADS.md`.
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
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on PATH that sits in a distribution's bin/."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars):
            return os.path.join(jars, "*")
    fail("no Spark distribution found (set SPARK_HOME)")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, ROOT)}")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile program + benchmark into perfbench/build/classes, keyed by a
    hash of every source file so an unchanged tree is not rebuilt."""
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(HERE, "build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    staging = os.path.join(HERE, "build.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", jars] + srcs
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        fail("compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, staging, dirs_exist_ok=True)
    os.makedirs(out)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        fail("no BENCHMARK.json at the checkout root")
    with open(spec_file) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"workload {a.workload} is not declared in BENCHMARK.json")

    jars = spark_jars()
    classes = build(jars)

    work = os.path.join(HERE, "work", f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS")}
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Xmx3g", "-XX:+UseParallelGC", "-Xss16m",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([classes, jars]), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--out", result, "--data", os.path.join(HERE, "data", "sf0.001"),
              "--expected", os.path.join(HERE, "expected", "pipeline.txt"),
              "--traces", os.path.join(HERE, "traces")])
    code, out = 1, None
    try:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                             stderr=sys.stderr, start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("perfbench: run timed out", file=sys.stderr)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
        if code == 0 and os.path.exists(result):
            with open(result) as fh:
                out = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "work"))
        except OSError:
            pass
    if out is None:
        print(f"perfbench: workload failed (exit {code})", file=sys.stderr)
        sys.exit(1)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != declared:
        print(f"perfbench: metrics differ from BENCHMARK.json: "
              f"missing {sorted(set(declared) - set(got))}, "
              f"extra {sorted(set(got) - set(declared))}, "
              f"units {sorted(k for k in got if k in declared and got[k] != declared[k])}",
              file=sys.stderr)
        sys.exit(1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
