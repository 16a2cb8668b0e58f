#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

Usage (from the repository root):
    python3 perfbench/run.py --workload adhoc_small --seed 1 --seconds 24 --trace 0

Builds the engine and the benchmark with perfbench/build.sh when the sources
changed, runs the workload in one JVM, prints a detail line and then, as
the last line of standard output, the result JSON:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics, and the span log is written to
.bench_build/work/<workload>/result/trace.json.

Pass --record FILE to write the run's per-op output fingerprints, the
values perfbench/expected/ holds: adhoc_small.json for every seed (the
fixture is committed), <workload>-seed1.json for the generated workloads'
default seed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("adhoc_small", "corpus_batch", "ingest_stream")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
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


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so no process outlives the benchmark."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def spark_jars():
    """The jars of the Spark install the engine runs on: $SPARK_HOME, or
    the install that provides spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install: set SPARK_HOME")
    return os.path.join(home, "jars")


def expected_file(workload, seed):
    if workload == "adhoc_small":
        return os.path.join(HERE, "expected", "adhoc_small.json")
    return os.path.join(HERE, "expected", f"{workload}-seed{seed}.json")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    jars = spark_jars()
    if run_bounded(["bash", os.path.join(HERE, "build.sh"), jars],
                   BUILD_TIMEOUT_S) != 0:
        fail("build failed")

    work = os.path.join(root, ".bench_build", "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result", "result.json")
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # no hsperfdata files outside the checkout
        "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", os.pathsep.join([".bench_build/classes", f"{jars}/*"]),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--fixture", os.path.join(HERE, "fixture", "sf0.001"),
        "--expected", expected_file(args.workload, args.seed),
        "--result", result,
    ]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    env = dict(os.environ, GRAFT_MODEL_DIR=os.path.join(work, "models"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # the JVM's own stdout carries nothing the result needs; keep ours for
    # the detail line and the result
    rc = run_bounded(cmd, RUN_TIMEOUT_S, env=env, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(result):
        fail(f"workload run exited with {rc}")
    with open(result) as f:
        res = json.load(f)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "detail": res["detail"], "failures": res["failures"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
