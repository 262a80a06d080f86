#!/usr/bin/env python3
"""Launcher for the engine benchmark.

Run from the root of a checkout:

    python3 enginebench/run.py --workload default_mix --seed 1 --seconds 24 --trace 0

It builds the engine and the benchmark with sbt on first use (the
classpath and JVM options land in enginebench/target/launch.txt), sizes
Spark from the host the way the repository's test command does
(local[nproc], driver heap = half of memory, clamped to 2-8 GB), runs
the benchmark in one JVM under a temporary root inside the checkout,
and deletes that root afterwards. The JVM's stdout passes through; its
last line is the result JSON.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORKLOADS = ("default_mix", "bom_dense")
RUN_LIMIT_S = 170


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def build():
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"]
    log("building: " + " ".join(cmd))
    done = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0 or not os.path.exists(LAUNCH):
        log("build failed")
        sys.exit(3)


def host_cpus():
    return len(os.sched_getaffinity(0))


def driver_heap():
    """Half of host memory in GB, clamped to 2-8 (the test command's rule)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(8, max(2, int(line.split()[1]) // 2097152))}g"
    except OSError:
        pass
    return "2g"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="corpus size factor; the benchmark's own tests use a small one")
    p.add_argument("--corrupt", action="store_true",
                   help="drop one output row, so the checks must fail (tests only)")
    a = p.parse_args()

    if not os.path.isdir(os.path.join(CHECKOUT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {CHECKOUT}/src/main/scala/graft")
        sys.exit(2)
    if not os.path.exists(LAUNCH):
        build()
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o]

    work = os.path.join(CHECKOUT, ".enginebench")
    root = os.path.join(work, f"tmp-{os.getpid()}")
    os.makedirs(root)
    cpus = host_cpus()
    heap = driver_heap()
    # A fixed heap and young generation keep the JVM's peak RSS from
    # following the collector's sizing decisions, which vary with timing.
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", f"-Djava.io.tmpdir={root}"] +
           jvm_opts +
           ["-cp", classpath, "enginebench.Bench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus), "--root", root,
            "--scale", str(a.scale)] + (["--corrupt"] if a.corrupt else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"))
    env.pop("SPARK_MASTER", None)
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = []

    def stop():
        timed_out.append(True)
        log(f"run exceeded {RUN_LIMIT_S}s; stopping the JVM")
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_LIMIT_S, stop)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            if line.strip():
                last = line.strip()
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
    if timed_out:
        code = code or 1
    if code != 0 or not last.startswith("{"):
        log(f"benchmark JVM exited with {code}")
        sys.exit(code or 1)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
