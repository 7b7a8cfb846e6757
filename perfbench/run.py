#!/usr/bin/env python3
"""SDS benchmark launcher.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program's main sources and the benchmark's Scala sources with
the Scala compiler shipped among the Spark jars (no change to build.sbt),
caches the build under .bench_build/, runs the workload in one JVM and
prints the workload's JSON result as the last line of standard output.
Exits non-zero, printing no result, when the program cannot be built or
the run fails.

Extra options for the self-test: --param k=v overrides a workload
parameter, --corrupt <what> plants a fault the checks must catch, and
--jvm-opt passes an option to the JVM.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit (the same list build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the program's build.sbt compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("no build.sbt here: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt, encoding="utf-8").read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Scala compiler jar in {jars}")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, classpath, dest, srcs):
    os.makedirs(dest, exist_ok=True)
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-usejavacp",
           "-nowarn", "-d", dest] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compilation into {dest} failed")


def digest(files, seed=""):
    h = hashlib.sha256(seed.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile the program, then the benchmark, each once per source state."""
    prog = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(BENCH_DIR, "src"))
    if not prog:
        fail("no program sources under src/main/scala")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        prog_stamp = digest(prog)
        for sub, srcs, stamp, cp in (
                ("program", prog, prog_stamp, []),
                ("bench", bench, digest(bench, prog_stamp), [os.path.join(BUILD, "program")])):
            stamp_file = os.path.join(BUILD, sub + ".stamp")
            if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
                continue
            if os.path.exists(stamp_file):
                os.remove(stamp_file)
            subprocess.run(["rm", "-rf", os.path.join(BUILD, sub)], check=True)
            t0 = time.time()
            scalac(jars, cp, os.path.join(BUILD, sub), srcs)
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
            print(f"perfbench: built {sub} in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--param", action="append", default=[])
    ap.add_argument("--corrupt", action="append", default=[])
    ap.add_argument("--jvm-opt", action="append", default=[])
    a = ap.parse_args()

    with open(os.path.join(BENCH_DIR, "workloads.json"), encoding="utf-8") as fh:
        workloads = json.load(fh)["workloads"]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; known: {', '.join(sorted(workloads))}")
    params = dict(workloads[a.workload]["params"])
    for kv in a.param:
        k, _, v = kv.partition("=")
        params[k] = v

    jars = spark_jars()
    build(jars)

    out = os.path.join(ROOT, ".bench_build", "out")
    cp = os.pathsep.join([os.path.join(BUILD, "bench"), os.path.join(BUILD, "program"),
                          os.path.join(ROOT, "src", "main", "resources"), os.path.join(jars, "*")])
    cmd = ["java", "-Xmx3g", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += a.jvm_opt + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                        "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
                        "--out", out]
    for k, v in sorted(params.items()):
        cmd += ["--param", f"{k}={v}"]
    for c in a.corrupt:
        cmd += ["--corrupt", c]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"workload exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
