"""Reconciliation pipeline benchmark: builds the library and the benchmark
from source, runs one workload in a fresh JVM and prints the result as the
last line of standard output.

    python3 perfbench/run.py --workload daily_close --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run it from the repository root. Workloads: intraday_windows, daily_close,
carryover_relaxed (see perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("intraday_windows", "daily_close", "carryover_relaxed")
HEAP = "3g"
# Steadiness over peak speed: with the C2 compiler the median unit time of a
# run varied by ~20% between JVMs on a 4-vCPU VM (when hot methods reach C2
# differs per run); C1 only holds it to ~3% at ~30% slower units. A fixed heap
# makes peak RSS repeatable.
JVM_FLAGS = ["-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC",
             f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false"]
TIMEOUT_S = 170
# Spark on JDK 17 needs these when the session is created outside spark-submit
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def java(main, args, work):
    classes = build.build()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.abspath(work)}/tmp"] + ADD_OPENS +
           ["-cp", build.jvm_classpath(classes), main] + args + ["--work", work])
    try:
        return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, timeout=TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1))
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    work = os.path.join(build.OUT, "run")
    try:
        if a.selftest:
            r = java("perfbench.SelfTest", [], work)
            sys.stdout.write(r.stdout)
            return r.returncode
        if None in (a.workload, a.seed, a.seconds, a.trace):
            p.error("--workload, --seed, --seconds and --trace are required")
        r = java("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", str(a.trace)], work)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(f"perfbench: benchmark exited with {r.returncode}", file=sys.stderr)
        return r.returncode or 4
    result = json.loads(lines[-1])
    sys.stdout.write("\n".join(lines[:-1] + [json.dumps(result)]) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
