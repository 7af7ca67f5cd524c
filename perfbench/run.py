#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|api|curation --seed N \
        --seconds S --trace 0|1

Run from the root of a source checkout. It compiles the program and the
benchmark's JVM harness into .bench_build/ (once per source tree),
generates the workload's inputs from the seed, runs the workload as a
closed loop with one client against a local[nproc] Spark session, checks
every operation's output, and prints one JSON object as the last line
of stdout. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the spans are written to
.bench_out/.
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402
from build import fail  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")
WORK = os.path.join(ROOT, ".bench_work")

# Input sizes, fixed per workload: only the seed varies between runs.
INGEST_BATCHES, INGEST_ROWS = 8, 5000
API_BATCHES, API_ROWS = 2, 25000
CURATION_DOCS, CURATION_POOL = 300, 240
SETUP_REPEATS = 3
DRIVER_HEAP = "3g"
RUN_LIMIT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def generate(workload, seed, input_dir):
    if workload == "ingest":
        gen.write_energy(seed, input_dir, INGEST_BATCHES, INGEST_ROWS)
    elif workload == "api":
        gen.write_energy(seed, input_dir, API_BATCHES, API_ROWS)
    else:
        gen.write_documents(seed, input_dir, CURATION_DOCS, CURATION_POOL)


def run_jvm(classes, jars, args, log_path, deadline):
    resources = os.path.join(ROOT, "src/main/resources")
    cp = os.pathsep.join([classes, resources, os.path.join(jars, "*")])
    tmp = os.path.join(args["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{DRIVER_HEAP}",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.PerfBench"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=args["work"])
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"workload timed out; log in {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {code}; log in {log_path}")


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=report.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    jars = build.spark_jars()
    classes, build_s = build.build(jars)
    # a run that had to compile gets the compile time on top of its limit
    deadline = start + build_s + RUN_LIMIT_S

    os.makedirs(OUT, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    try:
        gen_s = []
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(input_dir, ignore_errors=True)
            t0 = time.perf_counter()
            generate(a.workload, a.seed, input_dir)
            gen_s.append(time.perf_counter() - t0)
        cores = len(os.sched_getaffinity(0))
        record_path = os.path.join(work, "record.json")
        run_jvm(classes, jars, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": cores, "input": input_dir,
            "work": work, "out": record_path,
        }, os.path.join(OUT, tag + ".log"), deadline)
        with open(record_path) as f:
            record = json.load(f)
        record["setup"]["generate_s"] = stats.median(gen_s)
        oracle = (report.check_curation(record, input_dir)
                  if a.workload == "curation" else {})
        result, lines = report.reduce(record, a.trace, oracle)
        if a.trace:
            with open(os.path.join(OUT, f"trace-{a.workload}-seed{a.seed}.json"),
                      "w") as f:
                json.dump({"host": record["host"], "setup": record["setup"],
                           "metrics": result["metrics"],
                           "ops": record["ops"], "spans": record["spans"]}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
