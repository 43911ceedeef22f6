"""Benchmark command for the graft engine.

    python3 perfbench/run.py --workload <adf_pipeline|lake_mixed|llm_curation>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark from source when they changed (see
build.py), then runs one workload in one JVM: a local Spark session with
one executor thread per available core, seeded inputs generated into a
fresh work directory under `.bench_build/work`, warmup, `--seconds` of
measurement, and the correctness checks. The last stdout line is the
result as JSON. Must be started from the root of a checkout.
"""

import argparse
import os
import shutil
import subprocess
import sys
import time

import build

WORKLOADS = ("adf_pipeline", "lake_mixed", "llm_curation")
# A fixed heap, touched whole at start, so the process's peak resident
# memory does not swing with how far the collector grew the heap.
HEAP = "2g"
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings (the
# same list as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(main, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *opens,
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dlog4j2.configurationFile="
             + os.path.join(build.BENCH_DIR, "log4j2.properties"),
             "-Dspark.ui.enabled=false",
             "-cp", build.classpath(), main] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own unit checks and exit")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    try:
        build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build.BUILD_DIR, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if a.self_test:
        cmd = java_cmd("graftbench.SelfTest", work, [])
    else:
        # Set-up time counts from here: JVM start, session, inputs, warmup.
        t0_ms = int(time.time() * 1000)
        cmd = java_cmd("graftbench.Main", work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work, "--t0-ms", str(t0_ms)])
    proc = subprocess.Popen(cmd)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"benchmark exceeded {TIMEOUT_S} s and was stopped", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
