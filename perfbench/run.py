#!/usr/bin/env python3
"""IAM-lifecycle benchmark entry point (run from the repository root).

    python3 perfbench/run.py --workload refresh|console|report --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest     # generator and checker tests

Builds the program and the benchmark (perfbench/build.py), then runs one
workload in one JVM with Spark local[N], N = the CPUs this process may use.
The last line of standard output is the JSON result. perfbench/workloads.json
holds the notes on the workloads, the org's dials and the metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import build  # noqa: E402

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
# Spark's storage memory is 0.6 of this; workloads.json notes what fits in it.
HEAP = "1536m"
WORKLOADS = ("refresh", "console", "report")


def java_cmd(classpath, main, args):
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
            "-XX:ActiveProcessorCount=%d" % cpus(),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp_dir()}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", os.pathsep.join(classpath), main] + args
    return cmd


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def tmp_dir():
    d = os.path.join(build.build_dir(), "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def expected_names(trace):
    """Metric names BENCHMARK.json promises for this mode, if it is present."""
    f = os.path.join(os.getcwd(), "BENCHMARK.json")
    if not os.path.isfile(f):
        return None
    spec = json.load(open(f))
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_java(cmd, work):
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 124, ""
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return p.returncode, p.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    try:
        classpath, _ = build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    work = os.path.join(build.build_dir(), "work", f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")

    if a.selftest:
        rc, out = run_java(java_cmd(classpath, "perfbench.SelfTest", ["--work", work]), work)
        sys.stdout.write(out)
        return rc

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    rc, out = run_java(java_cmd(classpath, "perfbench.Main", args), work)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    if rc != 0 or not lines:
        sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return rc or 1
    try:
        result = json.loads(lines[-1])
    except ValueError:
        print("perfbench: last output line is not JSON", file=sys.stderr)
        return 1
    want = expected_names(a.trace == 1)
    if want is not None and set(result["metrics"]) != want:
        print("perfbench: metric names differ from BENCHMARK.json: "
              f"missing {sorted(want - set(result['metrics']))}, "
              f"extra {sorted(set(result['metrics']) - want)}", file=sys.stderr)
        return 1
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
