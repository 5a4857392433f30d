#!/usr/bin/env python3
"""Benchmark of the daily trade-in ETL and the query registry.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline); later runs reuse the build while
no source file changed. Each run starts one JVM (perfbench.Main) that sets
up, measures and writes `result.json`; this script then checks every output
for correctness and prints the metrics, the last line being one JSON object
with `correct`, `attempted`, `failed` and `metrics`. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_daily", "etl_snapshot", "query_mix")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as the
# program's build.sbt (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, as (path, size, mtime) triples."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    return sorted((p, os.path.getsize(p), os.path.getmtime(p))
                  for p in out if os.path.isfile(p))


def build():
    """Compiles program and benchmark; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    stamp = hashlib.sha256(repr(sources()).encode()).hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            env={**os.environ, "COURSIER_MODE": "offline"}, timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [line for line in lines if ".jar" in line and os.pathsep in line
           and not line.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1])
    return cps[-1]


def heap():
    """Driver heap sized as the repo's tier-1 run sizes it: half of RAM in
    whole GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S}s; see {log}")
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {code}; see {log}")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--work", work, "--corpus", os.path.join(HERE, "corpus"),
                       "--costs", os.path.join(HERE, "query_costs.tsv")], work)
    if a.workload == "query_mix":
        verdicts = check.check_queries(os.path.join(HERE, "corpus"),
                                       os.path.join(work, "results"), res)
    else:
        verdicts = check.check_etl(res, work)
    report = metrics.report(res, verdicts, a.trace == 1, work)
    for line in report["lines"]:
        print(line)
    print(json.dumps(report["result"]))


if __name__ == "__main__":
    main()
