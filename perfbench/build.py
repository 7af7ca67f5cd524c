#!/usr/bin/env python3
"""Build step of the benchmark: compile the program's sources
(src/main/scala) together with the benchmark's JVM harness
(perfbench/src) with the Scala compiler that Spark ships, into
.bench_build/classes-<digest of the sources>. A tree whose classes are
already built is reused.

    python3 perfbench/build.py     # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_LIMIT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        fail(f"no program sources under {ROOT}/src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                           recursive=True))
    return prog + own


def build(jars):
    """Compile program + harness with the Scala compiler Spark ships;
    reuse the classes while no source file changes."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes, 0.0
    for stale in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         timeout=BUILD_LIMIT_S)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    open(os.path.join(classes, ".complete"), "w").close()
    build_s = time.time() - t0
    print(f"perfbench: built {len(srcs)} sources in {build_s:.1f}s",
          file=sys.stderr)
    return classes, build_s


if __name__ == "__main__":
    print(build(spark_jars())[0])
