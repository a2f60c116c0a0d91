#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the benchmark
sources (perfbench/src) with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars), without sbt. Outputs go to the build directory (`$CARGO_TARGET_DIR`
or `.bench_build` under the repo root) and are reused while no source changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    return h.hexdigest()


def scalac(files, classpath, out):
    """Compiles `files` into the jar `out`."""
    tmp = out + ".classes"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"perfbench: compiling {len(files)} files into {out} failed")
    subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", out + ".tmp", "-C", tmp, "."], check=True)
    shutil.rmtree(tmp)
    os.replace(out + ".tmp", out)


def build():
    """Compiles what changed; returns the classpath of the built program and
    whether anything was compiled."""
    lib_files, bench_files = sources(LIB_SRC), sources(BENCH_SRC)
    if not lib_files:
        raise SystemExit(f"perfbench: no Scala sources under {LIB_SRC}")
    if not bench_files:
        raise SystemExit(f"perfbench: no Scala sources under {BENCH_SRC}")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"perfbench: Spark jars not found at {SPARK_JARS} (is SPARK_HOME set?)")
    base = build_dir()
    os.makedirs(base, exist_ok=True)
    lib_out, bench_out = os.path.join(base, "graft.jar"), os.path.join(base, "perfbench.jar")
    stamp = os.path.join(base, "stamp")
    want = fingerprint(lib_files) + "\n" + fingerprint(bench_files)
    have = open(stamp).read() if os.path.exists(stamp) else ""
    built = False
    if have.split("\n")[:1] != want.split("\n")[:1] or not os.path.exists(lib_out):
        scalac(lib_files, None, lib_out)
        have, built = "", True
    if have != want or not os.path.exists(bench_out):
        scalac(bench_files, lib_out, bench_out)
        built = True
    with open(stamp, "w") as fh:
        fh.write(want)
    return os.pathsep.join([bench_out, lib_out, os.path.join(SPARK_JARS, "*")]), built


if __name__ == "__main__":
    print(build()[0])
