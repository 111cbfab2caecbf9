#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark if needed (see build.py), then runs
perfbench.Main in one JVM with a fixed, pre-touched heap and Spark at
local[nproc]. The JVM's metric lines are passed through; the last line of
stdout is the JSON result. Everything it writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# Fixed and pre-touched, as the program's build.sbt does for its own runs:
# a growing heap turns into page-fault storms and unsteady wall times.
HEAP = "3g"
# JIT per workload. A run is one fresh JVM. The eval operation is a few tight
# metric kernels, which C2 compiles within the warm-up operation. The job
# operation spreads its time over Spark's and Hadoop's per-task and per-file
# code, which C2 never finishes compiling within a run: its compile threads
# compete with the task threads and each operation runs faster than the one
# before (9.3, 7.6, 6.8 s at 25, 20, 17 CPU-s on a 4-core host). With C1
# alone the first job operation already runs at that level (7.0, 6.7 s at
# 17, 16 CPU-s), so crawl_mixed runs with C1 only, and its kernel timings in
# the traced run are C1 timings.
JIT = {"crawl_mixed": ["-XX:TieredStopAtLevel=1"]}
TIMEOUT_S = 170

# The module openings Spark needs on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def result_line(line):
    try:
        obj = json.loads(line)
    except ValueError:
        return False
    return isinstance(obj, dict) and set(obj) == RESULT_KEYS


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    work = build.OUT / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *JIT.get(a.workload, []), "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
           "-cp", f"{classes}:{jars / '*'}", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", str(work)]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; the run keeps its
    # shuffle files in its own work directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        r = subprocess.run(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE, text=True, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s and was stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.splitlines()
    results = [l for l in lines if result_line(l)]
    for l in lines:
        if not result_line(l):
            print(l)
    if r.returncode != 0 or not results:
        sys.exit(f"perfbench: benchmark process failed (exit {r.returncode})")
    print(results[-1])


if __name__ == "__main__":
    main()
