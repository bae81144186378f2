#!/usr/bin/env python3
"""Benchmark entry point: build the engine and harness from source, make the
inputs, run one workload and print its JSON result as the last stdout line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload {facade,llm-ops} \
      --seed N --seconds S --trace {0,1}

Everything it writes goes under `.bench_build/` in the checkout: compiled
classes (rebuilt when a source file changes), the generated tables, Spark's
local directories, logs and the trace records of `--trace 1` runs.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import gen_data  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("facade", "llm-ops")
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def digest_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def up_to_date(stamp, key):
    return os.path.exists(stamp) and open(stamp).read() == key


def run_child(cmd, stdout, stderr, timeout):
    """Run `cmd` to its end and return (exit code, stdout text). On a
    timeout, or on any other way out of this process, the child is killed
    and waited for."""
    p = subprocess.Popen(cmd, stdout=stdout, stderr=stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def run_logged(cmd, log, timeout):
    with open(log, "w") as err:
        return run_child(cmd, err, subprocess.STDOUT, timeout)[0]


def build(jars):
    """Compile src/main/scala and the harness with scalac, once per source state."""
    main_src = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    bench_src = glob.glob(os.path.join(BENCH, "src/*.scala"))
    if not main_src:
        fail("no src/main/scala under the working directory; run from the repo root")
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "classes.stamp")
    key = digest_files(main_src + bench_src)
    if up_to_date(stamp, key):
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(OUT, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(main_src + bench_src) + "\n")
    cp = os.path.join(jars, "*")
    try:
        rc = run_logged(
            ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-d", classes, "-classpath", cp, "@" + args],
            os.path.join(OUT, "logs", "build.log"), 800)
    except subprocess.TimeoutExpired:
        rc = -1
    if rc != 0:
        fail("build failed, see .bench_build/logs/build.log")
    with open(stamp, "w") as f:
        f.write(key)
    return classes


def make_data():
    """Generate the tables once per state of gen_data.py."""
    out = os.path.join(OUT, "data", f"sf{gen_data.SCALE}")
    stamp = out + ".stamp"
    key = digest_files([gen_data.__file__])
    if not up_to_date(stamp, key):
        shutil.rmtree(out, ignore_errors=True)
        gen_data.write(out)
        with open(stamp, "w") as f:
            f.write(key)
    return out


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory of the Spark install whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    return os.path.join(home, "jars")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so a running child is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars under '{jars}'; set SPARK_HOME")
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    classes = build(jars)
    data = make_data() if a.workload != "facade" else ""
    work = os.path.join(OUT, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + JAVA_OPENS
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.PerfBench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", data,
              "--expected", os.path.join(BENCH, "expected.tsv"), "--work", work])
    log = os.path.join(OUT, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log, "w") as err:
        try:
            rc, out = run_child(cmd, subprocess.PIPE, err, RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S}s, see {os.path.relpath(log, ROOT)}")
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        fail(f"harness exited with {rc}, see {os.path.relpath(log, ROOT)}")
    try:
        keys = set(json.loads(lines[-1]))
    except ValueError:
        keys = set()
    if keys != {"correct", "attempted", "failed", "metrics"}:
        fail("harness printed no result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
