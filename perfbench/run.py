#!/usr/bin/env python3
"""End-to-end benchmark of the monthly batch and curation jobs.

Usage (from the repository root):

    python3 perfbench/run.py --workload monthly_batch --seed 1 --seconds 20 --trace 0

Builds the engine (src/main/scala) together with the benchmark driver
(perfbench/src) with the Scala compiler that ships in $SPARK_HOME/jars,
then runs perfbench.Main in one JVM. The last line of standard output is
the JSON result; everything else (generator summary, per-repetition
numbers, trace summary) goes to earlier lines and to .bench_out/.

The build is cached under .bench_build/, keyed by a hash of every source
file, so only the first run in a checkout pays for it. Scratch data for a
run lives under .bench_work/<pid>/ and is removed when the run ends.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
OUT_DIR = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("monthly_batch", "curation_chain")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars_dir = os.path.join(home, "jars") if home else None
    if not jars_dir or not os.path.isdir(jars_dir):
        fail("Spark jars not found: set SPARK_HOME")
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                  if j.endswith(".jar"))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        fail(f"no scala-compiler jar in {jars_dir}")
    return jars


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(BENCH_DIR, "src")]
    found = []
    for d in dirs:
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files
                      if f.endswith(".scala")]
    if not any(f.startswith(dirs[0]) for f in found):
        fail("no engine sources under src/main/scala")
    return sorted(found)


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    stamp = os.path.join(classes, ".ok")
    if os.path.exists(stamp):
        return classes
    if os.path.isdir(BUILD_DIR):
        for old in os.listdir(BUILD_DIR):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("compilation failed")
    open(stamp, "w").close()
    return classes


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny = smoke-test input sizes")
    a = p.parse_args()
    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(WORK_DIR, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT_DIR, exist_ok=True)
    cmd = ["java", "-Xss8m",
           "-Xmx3g",
           "-XX:ReservedCodeCacheSize=512m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", a.scale, "--work", work, "--out", OUT_DIR]
    try:
        r = subprocess.run(cmd)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)
        except OSError:
            pass
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
