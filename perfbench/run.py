#!/usr/bin/env python3
"""Run one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (cached
under $CARGO_TARGET_DIR, default .bench_build, keyed by a hash of the
sources), then runs the workload in one JVM. The JVM prints a summary and,
as its last line, the result JSON; this script passes them through.

Extra flags, for the self-tests: --scale (input size factor), --mutate
drop|dup (corrupt one output line before each check), --gen-only 1 (print
a hash of the generated input and stop), --setups (set-up repeats).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

WORKLOADS = {
    # name: JVM heap
    "prepartition_1c": "2g",
    "split_gz": "3g",
    "stream_prepartition": "3g",
    "graph_rounds": "3g",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
BENCH_DIR = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = os.path.isfile("build.sbt") and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if not m:
            fail("set SPARK_HOME, or run from a checkout whose build.sbt sets unmanagedBase")
        jars = m.group(1)
    if not os.path.isdir(jars):
        fail(f"no Spark jars under {jars}")
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        fail(f"no scala-compiler jar under {jars}")
    return jars


def source_files():
    roots = ["src/main/scala", "src/main/resources", os.path.join(BENCH_DIR, "src")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"{r} not found: run from the root of a source checkout")
    out = []
    for r in roots:
        for d, _, names in os.walk(r):
            out += [os.path.join(d, n) for n in names]
    return sorted(out)


def build(work, jars):
    files = source_files()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()
    classes = os.path.join(work, "classes")
    os.makedirs(work, exist_ok=True)
    stamp = os.path.join(classes, ".source-sha256")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes, key
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [f for f in files if f.endswith(".scala")]
    cp = os.path.join(jars, "*")
    print(f"perfbench: compiling {len(scala)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={os.path.abspath(work)}", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp] + scala,
        timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed")
    with open(os.path.join(tmp, ".source-sha256"), "w") as fh:
        fh.write(key)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, key


def commit():
    if os.path.isdir(".git") and shutil.which("git"):
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return os.environ.get("PERFBENCH_COMMIT", "unknown")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--mutate", choices=["none", "drop", "dup"], default="none")
    ap.add_argument("--setups", type=int, default=3)
    ap.add_argument("--gen-only", choices=["0", "1"], default="0")
    ap.add_argument("--record-digests", choices=["0", "1"], default="0")
    a = ap.parse_args()

    jars = spark_jars()
    top = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    work = os.path.join(top, "perfbench")
    classes, key = build(work, jars)

    run_dir = os.path.abspath(os.path.join(work, "run", a.workload))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")}
    cmd = (["java", f"-Xmx{WORKLOADS[a.workload]}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, "src/main/resources", os.path.join(jars, "*")]),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--scale", str(a.scale), "--mutate", a.mutate,
              "--setups", str(a.setups), "--gen-only", a.gen_only,
              "--record-digests", a.record_digests,
              "--digests", os.path.join(BENCH_DIR, "graph_digests.json"),
              "--work", run_dir, "--records", os.path.abspath(work),
              "--commit", commit(), "--source-sha", key])
    log_path = os.path.join(work, f"{a.workload}.stderr.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{a.workload} ran past {RUN_TIMEOUT_S} s; log in {log_path}")
    lines = out.splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"{a.workload} exited with {p.returncode}")
    if a.gen_only == "0":
        json.loads(lines[-1])  # the last line must be the result
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
