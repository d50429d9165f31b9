#!/usr/bin/env python3
"""Run one workload of the F1 pipeline benchmark.

    python3 f1bench/run.py --workload <f1_live|index_serve> \
        --seed <n> --seconds <s> --trace <0|1> [--spans <file>]

Run it from the root of a checkout. It builds the program and the benchmark
from that checkout's sources with sbt (only when a source changed since the
last build), runs the workload in one JVM with all work directories under a
temporary root inside the checkout, deletes that root, and prints the
workload's result as the last line of standard output. See f1bench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SOURCES = ROOT / "src" / "main" / "scala"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "f1bench.stamp"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"f1bench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("cannot find a Spark installation: set SPARK_HOME")
    return home


def source_digest():
    h = hashlib.sha256()
    inputs = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (PROGRAM_SOURCES, BENCH / "src" / "main"):
        inputs += sorted(p for p in base.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(env):
    digest = source_digest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    print("f1bench: building with sbt", file=sys.stderr)
    try:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--spans", help="write the traced run's spans here (default: stderr)")
    args = ap.parse_args()

    if not (PROGRAM_SOURCES / "graft").is_dir():
        fail(f"no program sources at {PROGRAM_SOURCES.relative_to(ROOT)}: "
             "run from the root of a full checkout")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    build(env)

    java = str(Path(env["JAVA_HOME"]) / "bin" / "java") if env.get("JAVA_HOME") else "java"
    tmp = ROOT / ".f1bench-tmp" / f"{os.getpid()}-{int(time.time() * 1000)}"
    tmp.mkdir(parents=True)
    cmd = [java, "-Xms3g", "-Xmx3g", "-Djava.awt.headless=true", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{Path(env['SPARK_HOME']) / 'jars' / '*'}",
            "f1bench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--checkout", str(ROOT), "--tmp", str(tmp)]
    if args.spans:
        cmd += ["--spans", str(Path(args.spans).resolve())]

    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    timer = threading.Timer(RUN_TIMEOUT_S, stop)
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        timer.cancel()
        stop()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass
    if proc.returncode == -signal.SIGKILL:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)

    try:
        result = json.loads(last)
        assert {"correct", "attempted", "failed", "metrics"} <= result.keys()
    except (ValueError, AssertionError):
        fail(f"the workload printed no result (exit {proc.returncode})", proc.returncode or 5)
    print(last, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
