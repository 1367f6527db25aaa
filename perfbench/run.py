#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

    python3 perfbench/run.py --workload serve-2k --seed 1 --seconds 6 --trace 0

Builds the benchmark on first use (see build.py), then runs it in one JVM
on a local[nproc] Spark session with a heap sized from the host's memory.
The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end with --trace 0, per-layer with --trace 1). Exit 0 only
when every answer check passed.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve-2k", "stream-20k")
RUN_LIMIT_S = 170  # a run (without the one-off build) ends well within 180 s

# the module opens Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb() -> int:
    """Half of MemTotal in GiB, clamped to [2, 8] (the Tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def main() -> int:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: FAILED: {e}")
        return 2
    cores = len(os.sched_getaffinity(0))
    workdir = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{heap_gb()}g", "-Xms1g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={workdir}/tmp",
           "-Dlog4j2.configurationFile=" +
           os.path.join(build.ROOT, "perfbench", "log4j2.properties"),
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.GraftBench", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--workdir", workdir]
    err_path = os.path.join(workdir, "stderr.log")
    try:
        with open(err_path, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                out = None
            finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        lines = out.splitlines() if out else []
        if not lines or not lines[-1].startswith("{"):
            why = "killed after the run limit" if out is None else f"exit {proc.returncode}"
            print(f"perfbench: FAILED: no result ({why})")
            with open(err_path) as f:
                print(f.read()[-4000:])
            return proc.returncode if proc.returncode and proc.returncode > 0 else 2
        print("\n".join(lines))
        return proc.returncode
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
