#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result JSON.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record <verify-dump-dir>

Run it from the repository root. The first run builds the harness and the
library from source with sbt into the build directory ($CARGO_TARGET_DIR,
default .bench_build); later runs reuse that build while the sources are
unchanged. The harness runs in one JVM. All it writes stays under the build
directory, and the run's work directory is removed when it ends.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
SF = "0.01"
DATA = os.path.join(HERE, "data", "sf" + SF)
EXPECTED = os.path.join(HERE, "expected_sf" + SF + ".tsv")
WORKLOADS = ("pipeline_skewed", "query_sweep")
HEAP = "2g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (as in the root build.sbt).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), LIB_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s and was stopped")
    return proc.returncode, out


def classpath(build_dir):
    """The harness classpath, building with sbt when the sources changed."""
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found at {LIB_SRC}; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name the Spark distribution the library builds against")
    stamp = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    fp = source_fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == fp:
                with open(cp_file) as cf:
                    return cf.read()
    sbt_tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    rc, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-Djava.io.tmpdir=" + sbt_tmp, "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln.strip() for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        fail(f"build failed (sbt exit {rc})")
    print("perfbench: built the harness", file=sys.stderr)
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(fp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", metavar="DIR")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.record):
        ap.error("one of --workload, --selftest or --record is required")

    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    cp = classpath(build_dir)
    tag = a.workload or ("selftest" if a.selftest else "record")
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    args = ["--cpus", str(len(os.sched_getaffinity(0))), "--work", work,
            "--data", DATA, "--expected", EXPECTED]
    if a.selftest:
        args += ["--selftest", "1"]
    elif a.record:
        args += ["--record", os.path.abspath(a.record)]
    else:
        spans = os.path.join(build_dir, "spans")
        os.makedirs(spans, exist_ok=True)
        args += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", a.trace, "--spans", os.path.join(spans, f"{a.workload}-seed{a.seed}.json")]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")] + ADD_OPENS + \
        ["-cp", cp, "perfbench.Harness"] + args
    try:
        rc, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
