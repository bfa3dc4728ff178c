#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark sources (perfbench/src) into one class
directory, with scalac from the Spark distribution's own jars, so no build
tool or network is needed.

    python3 perfbench/build.py            # build if sources changed

The output lives under the build directory ($CARGO_TARGET_DIR, else
.bench_build at the repository root), keyed by a hash of every source.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    d = d if os.path.isabs(d) else os.path.join(ROOT, d)
    return os.path.join(d, "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources missing: {ENGINE_SRC}")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    res = []
    if os.path.isdir(ENGINE_RES):
        for d, _, fs in os.walk(ENGINE_RES):
            res += [os.path.join(d, f) for f in fs]
    for f in sorted(files) + sorted(res):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    """Class directory + resources + Spark jars; builds first if needed."""
    files = sources()
    key = source_hash(files)
    out = os.path.join(build_dir(), f"classes-{key}")
    jars = spark_jars()
    if not os.path.isfile(os.path.join(out, ".done")):
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        if len(compiler) < 3:
            raise BuildError("scala compiler jars not found in the Spark distribution")
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args = os.path.join(build_dir(), "scalac-args.txt")
        with open(args, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath",
               os.pathsep.join(jars), "-d", tmp, "@" + args]
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise BuildError(f"scalac failed with code {r.returncode}")
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        for old in glob.glob(os.path.join(build_dir(), "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return [out, ENGINE_RES] + jars


if __name__ == "__main__":
    try:
        classpath()
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
