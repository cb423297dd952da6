#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload stream_steady --seed 1 --seconds 20 --trace 0

Workloads: stream_steady, stream_backlog, catalog_mix (see perfbench/README.md).
`--trace 0` prints the end-to-end metrics of BENCHMARK.json, `--trace 1` the
per-layer metrics. The last line of stdout is one JSON object with the keys
correct, attempted, failed and metrics. The exit code is non-zero when the
build fails, a correctness check fails, or another run holds the lock.

Self-test options (not used by the measured runs):
  --tiny                 tiny inputs (sf0.001 catalog, a few seconds of stream)
  --expected FILE        catalog fingerprints to check against
  --fault drop-file      the stream generator silently skips one file
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

import build

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_ROOT = os.path.join(HERE, ".run")
JVM_TIMEOUT_S = 170
WORKLOADS = ("stream_steady", "stream_backlog", "catalog_mix")

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions lists.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--expected")
    ap.add_argument("--fault", choices=("drop-file",))
    return ap.parse_args()


def take_lock():
    os.makedirs(RUN_ROOT, exist_ok=True)
    fh = open(os.path.join(RUN_ROOT, "lock"), "w")
    try:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("[perfbench] another benchmark run holds perfbench/.run/lock; "
              "runs share fixed scratch paths and must not overlap", file=sys.stderr)
        sys.exit(3)
    # we hold the lock, so any other run directory is residue of a killed run
    for d in os.listdir(RUN_ROOT):
        if d.startswith("run-"):
            shutil.rmtree(os.path.join(RUN_ROOT, d), ignore_errors=True)
    return fh


def cache_dir(classes):
    """Per-build cache of generated inputs (the catalog tables); entries of
    other builds are dropped."""
    root = os.path.join(HERE, ".cache")
    key = os.path.basename(os.path.dirname(classes))
    os.makedirs(os.path.join(root, key), exist_ok=True)
    for d in os.listdir(root):
        if d != key:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return os.path.join(root, key)


def jvm_command(classes, tmp, args):
    jars = build.spark_jars()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-Xss8m",
        "-Djava.io.tmpdir=" + tmp,
        "-Dderby.system.home=" + tmp,
        "-Dderby.stream.error.file=" + os.path.join(tmp, "derby.log"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tmp", tmp, "--home", HERE, "--cache", cache_dir(classes),
    ]
    if args.tiny:
        cmd.append("--tiny")
    if args.expected:
        cmd += ["--expected", os.path.abspath(args.expected)]
    if args.fault:
        cmd += ["--fault", args.fault]
    return cmd


def cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except (OSError, ValueError):
        return None


def main():
    args = parse_args()
    if args.seconds < 1:
        print("[perfbench] --seconds must be at least 1", file=sys.stderr)
        return 2
    lock = take_lock()
    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    tmp = tempfile.mkdtemp(prefix="run-", dir=RUN_ROOT)
    log_path = os.path.join(tmp, "jvm.log")
    proc = None

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        cpu0 = cpu_times()
        with open(log_path, "w") as log:
            # own process group, so a timeout or a signal can stop the JVM and
            # every thread and child it started in one kill
            proc = subprocess.Popen(jvm_command(classes, tmp, args), stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s and was killed",
                      file=sys.stderr)
                return 4
        lines = out.splitlines()
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if proc.returncode != 0 or result is None:
            with open(log_path) as fh:
                tail = fh.read()[-6000:]
            sys.stderr.write(tail)
            sys.stdout.write("\n".join(lines[-20:]) + "\n")
            print(f"[perfbench] JVM exited with code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        cpu1 = cpu_times()
        if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
            # CPU time the hypervisor gave to other guests: on a shared host
            # it slows every timing of the run, so it is worth knowing
            share = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
            print(f"[perfbench] cpu steal during the run: {share:.1%}", file=sys.stderr)
        sys.stdout.write("\n".join(lines) + "\n")
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        lock.close()


if __name__ == "__main__":
    sys.exit(main())
