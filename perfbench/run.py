#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --goldens corpus

Builds the engine and the benchmark from source on first use (build.py),
generates the corpus tables once, then runs one benchmark JVM. The last
stdout line of a measured run is its result JSON. Everything it writes
stays under the build directory; the per-run scratch directory is removed
when the run ends.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["etl_chain", "corpus", "stream_ledger"]
RUN_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def jvm(cp, work, mode, args, timeout):
    """Run perfbench.Main; returns (exit code, stdout lines)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join(cp), "perfbench.Main", mode,
           "--work", work,
           "--tables", tables_dir(),
           "--goldens", os.path.join(HERE, "goldens"),
           "--out", os.path.join(build.build_dir(), "out"), *args]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out.splitlines()


def tables_dir():
    with open(os.path.join(HERE, "src", "perfbench", "Tables.scala"), "rb") as fh:
        key = hashlib.sha256(fh.read()).hexdigest()[:16]
    return os.path.join(build.build_dir(), f"tables-{key}")


def ensure_tables(cp):
    d = tables_dir()
    if os.path.isfile(os.path.join(d, ".done")):
        return
    shutil.rmtree(d, ignore_errors=True)
    work = os.path.join(build.build_dir(), "work", f"tables-{os.getpid()}")
    try:
        code, lines = jvm(cp, work, "tables", [], 600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise build.BuildError("table generation failed")
    open(os.path.join(d, ".done"), "w").close()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--goldens", choices=["corpus"])
    a = ap.parse_args()
    if not (a.selftest or a.goldens) and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    try:
        cp = build.classpath()
        ensure_tables(cp)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.build_dir(), "work", str(os.getpid()))
    if a.selftest:
        mode, args, timeout = "selftest", [], 900
    elif a.goldens:
        mode, args, timeout = "goldens", ["--workload", a.goldens], 900
    else:
        mode, timeout = "run", RUN_TIMEOUT_S
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    try:
        code, lines = jvm(cp, work, mode, args, timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {mode} exceeded {timeout} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        print("\n".join(lines), file=sys.stderr)
        print(f"perfbench: {mode} exited with code {code}", file=sys.stderr)
        return code or 1
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
