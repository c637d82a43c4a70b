#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
among Spark's jars, into the build directory.

    python3 perfbench/build.py            # from the repository root

The build directory is $CARGO_TARGET_DIR if set, else .bench_build. Each
half is rebuilt only when its sources change (content-hash stamp).
"""
import fcntl
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME or keep build.sbt's unmanagedBase)")


def sources(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala") or f.endswith(".java")]
    return sorted(out)


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_into(name, files, classpath, jars, out_root, extra_stamp=""):
    out = os.path.join(out_root, name)
    st_file = out + ".stamp"
    st = stamp(files, extra_stamp + "|" + classpath)
    if os.path.isfile(st_file) and open(st_file).read() == st:
        return out
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    args_file = out + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(jars, "*") + (os.pathsep + classpath if classpath else "")
    cmd = ["java", "-Xmx1536m", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compiling {name} failed")
    with open(st_file, "w") as fh:
        fh.write(st)
    return out


def build():
    """Compile both halves; returns (classpath list, spark jars dir)."""
    if not os.path.isdir(MAIN_SRC) or not sources(MAIN_SRC):
        raise SystemExit("perfbench: no program sources at src/main/scala")
    if not sources(BENCH_SRC):
        raise SystemExit("perfbench: no benchmark sources at perfbench/src")
    jars = spark_jars()
    out_root = build_dir()
    os.makedirs(out_root, exist_ok=True)
    with open(os.path.join(out_root, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        main = compile_into("main-classes", sources(MAIN_SRC), "", jars, out_root)
        bench = compile_into("bench-classes", sources(BENCH_SRC), main, jars, out_root,
                             extra_stamp=open(main + ".stamp").read())
    return [bench, main, os.path.join(jars, "*")], jars


if __name__ == "__main__":
    cp, _ = build()
    print(os.pathsep.join(cp))
