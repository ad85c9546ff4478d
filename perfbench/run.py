#!/usr/bin/env python3
"""Benchmark of the ETL notifier pipeline engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from the checkout's sources (once per
source state; `sbt` and a Spark installation named by SPARK_HOME are
needed), runs one workload in a fresh JVM, checks its outputs, and prints
one JSON object as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Everything it
writes stays under .bench_build/ in the checkout.
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
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ["lifecycle_small", "index_board"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every file the build and the board's content check read."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "boardcheck.py"), os.path.join(ROOT, "tools", "compare.py")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(stamp):
    """Compiles program and benchmark with sbt unless this source state is built."""
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "compile", "Compile/copyResources"], cwd=HERE, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail(f"build failed, see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be positive")
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark installation")

    stamp = source_hash()
    build(stamp)

    work = os.path.join(BUILD, "run", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the board's content check runs once per source state: its tables do
    # not depend on the seed, only the order of the pass does
    verdict_file = os.path.join(BUILD, "board_check", stamp + ".json")
    dump = ""
    if a.workload == "index_board" and not os.path.exists(verdict_file):
        dump = os.path.join(work, "board_out")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
              "--board-dump", dump])
    try:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"the run did not finish within {JVM_TIMEOUT_S} s", 4)
        lines = r.stdout.splitlines()
        if r.returncode != 0 or not lines:
            print("\n".join(lines))
            fail(f"the run failed with exit code {r.returncode}", 5)
        result = json.loads(lines[-1])
        for line in lines[:-1]:
            print(line)
        if a.workload == "index_board":
            sys.path.insert(0, HERE)
            import boardcheck
            if dump:
                problems = boardcheck.check(dump)
                os.makedirs(os.path.dirname(verdict_file), exist_ok=True)
                with open(verdict_file, "w") as f:
                    json.dump(problems, f)
            problems = json.load(open(verdict_file))
            for p in problems:
                print(f"[perfbench] CHECK FAILED: {p}")
            result["correct"] = result["correct"] and not problems
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
