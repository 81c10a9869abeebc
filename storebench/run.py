#!/usr/bin/env python3
"""Run one workload of the store benchmark and print its result line.

    python3 storebench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) and reuses the build while no
source changes. Each run gets its own directory under `.bench_run/` for the
store, checkpoints, warehouse, Spark local dir and JVM temp files; it is
removed on every exit path. The last line of stdout is the JSON result; a
wrong answer or any failure exits non-zero without one.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main")]
BUILD_FILES = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUNS_DIR = os.path.join(ROOT, ".bench_run")
CLASSPATH = os.path.join(BENCH, "target", "bench-classpath.txt")
STAMP = os.path.join(BENCH, "target", "bench-stamp.txt")
# Class-data-sharing archive of the classes a small serve run loads: it
# cuts JVM and Spark start-up, which every run pays.
CDS_ARCHIVE = os.path.join(BUILD_DIR, "storebench.jsa")
WORKLOADS = ("serve", "ingest")
BUILD_TIMEOUT_S = 500
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these; the vector module
# backs the SIMD kernels (scalar fallback without it). The throughput
# collector keeps G1's concurrent threads off the few cores a run has.
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"storebench: {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it. On a timeout,
    an error or a signal the whole group is killed (sbt starts a JVM
    of its own) and reaped before this returns or raises."""
    child = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = child.communicate(timeout=timeout)
        return child.returncode, out
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
        child.wait()


def cores():
    """Cores this process may run on (nproc, ignoring OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def heap():
    """Half of RAM in whole GB, clamped to 2..8 (the Tier-1 test heap)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def fingerprint():
    h = hashlib.sha256()
    files = list(BUILD_FILES)
    for top in SOURCES:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = fingerprint()
        if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
            with open(STAMP) as f:
                if f.read() == want:
                    return
        log("building with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
               "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
               "-Dsbt.global.base=" + os.path.join(BUILD_DIR, "sbt-global"),
               "benchClasspath"]
        t0 = time.time()
        try:
            code, _ = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                                stdout=sys.stderr, stderr=sys.stderr)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"storebench: build exceeded {BUILD_TIMEOUT_S} s")
        if code != 0 or not os.path.exists(CLASSPATH):
            raise SystemExit(f"storebench: build failed (sbt exit {code})")
        archive_classes()
        with open(STAMP, "w") as f:
            f.write(want)
        log(f"built in {time.time() - t0:.0f} s")


def archive_classes():
    """Record the CDS archive from a tiny serve run. Best effort: without
    it the JVM just loads classes the slow way."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    try:
        code, _ = java_run(["-XX:ArchiveClassesAtExit=" + CDS_ARCHIVE],
                           ["--workload", "serve", "--seed", "0", "--seconds", "1", "--trace", "0",
                            "--docs", "300", "--setups", "1"],
                           stdout=sys.stderr, stderr=sys.stderr)
    except subprocess.TimeoutExpired:
        code = "timeout"
    if code != 0 and os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    log("class archive " + ("written" if os.path.exists(CDS_ARCHIVE) else f"skipped ({code})"))


def java_run(jvm_flags, args, **kw):
    """Run storebench.Main in a fresh run directory, removed afterwards."""
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    run_dir = os.path.join(RUNS_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in JVM_OPENS] +
           ["--add-modules=jdk.incubator.vector", f"-Xmx{heap()}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}"] + jvm_flags +
           ["-cp", classpath, "storebench.Main", "--run-dir", run_dir,
            "--cores", str(cores())] + args)
    try:
        return run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir, **kw)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass


def free_bytes():
    return shutil.disk_usage(ROOT).free


def valid(line):
    try:
        out = json.loads(line)
    except ValueError:
        return False
    return (isinstance(out, dict) and set(out) == {"correct", "attempted", "failed", "metrics"}
            and out["correct"] is True and out["attempted"] >= 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    def stop(signum, _frame):
        raise SystemExit(f"storebench: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    missing = [p for p in SOURCES + BUILD_FILES if not os.path.exists(p)]
    if missing:
        raise SystemExit(f"storebench: not a full checkout, missing {missing[0]}")
    build()

    free0 = free_bytes()
    cds = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    try:
        code, out = java_run(cds, ["--workload", args.workload, "--seed", str(args.seed),
                                   "--seconds", str(args.seconds), "--trace", args.trace],
                             stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"storebench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        log(f"net disk growth {(free0 - free_bytes()) / 1e6:.1f} MB")
    lines = [line for line in out.splitlines() if line.strip()]
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0 or not lines or not valid(lines[-1]):
        raise SystemExit(f"storebench: run failed (exit {code})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
