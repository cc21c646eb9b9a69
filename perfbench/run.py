#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a source tree:

  python3 perfbench/run.py --workload snapshot_golden|wap_ingest \
      --seed N --seconds S --trace 0|1 [--wrong-expectation]

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in one JVM, and prints the JVM's report; the last stdout line is
one JSON object with the keys correct, attempted, failed and metrics. Tables,
shuffle files and per-operation outputs live in .perfbench_work, which is
cleared at start and on exit; the traced run writes its spans to
.perfbench_out. `--wrong-expectation` flips one expected outcome, to show
that the correctness check fails.
"""
import argparse
import fcntl
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("snapshot_golden", "wap_ingest")
# a run must end within 180 s; the first run in a tree may also compile
RUN_LIMIT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def git_commit():
    """HEAD of the tree when it is a git checkout, else "none"."""
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "none"
    p = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "--short=12", "HEAD"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or "none"


def main():
    started = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--wrong-expectation", action="store_true")
    a = ap.parse_args()

    work = os.path.join(build.ROOT, ".perfbench_work")
    out = os.path.join(build.ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    # runs in one tree share the build and work directories: refuse to run
    # beside another
    lock = open(os.path.join(out, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        print("perfbench: another run is using this tree", file=sys.stderr)
        return 1

    try:
        classpath, key = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1
    built_s = time.monotonic() - started
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dperfbench.source={key}", f"-Dperfbench.git={git_commit()}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.PerfBench",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--out", out]
           + (["--wrong-expectation"] if a.wrong_expectation else []))
    log_path = os.path.join(out, f"jvm-{a.workload}-{a.seed}-trace{a.trace}.log")
    # the build's own time does not count against the run's limit
    limit = RUN_LIMIT_S - (0 if built_s > 5 else built_s)
    with open(log_path, "w") as log:
        # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle
        # files outside the tree
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=build.ROOT, env=env, start_new_session=True)

        def stop(*_):
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(1)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            stdout, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            stdout = None
    shutil.rmtree(work, ignore_errors=True)

    if stdout is None:
        print(f"perfbench: run exceeded {limit:.0f} s and was stopped (log: {log_path})",
              file=sys.stderr)
        return 1
    lines = stdout.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith("{"):
        print(f"perfbench: JVM exited with {proc.returncode} (log: {log_path})", file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
