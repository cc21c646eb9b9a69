"""Per-thread-class CPU of a benchmark JVM, sampled from /proc.

Runs a command, finds its java descendant, and every 0.5 s reads
utime+stime of each of the JVM's threads from /proc/<pid>/task/*/stat. Threads
are classed by name: C1/C2 compiler threads, executor task threads, GC
threads, and other. Prints one JSON line: the class totals at exit, the
per-sample series, and the benchmark's own JSON line.

Usage: python3 threadcpu.py python3 perfbench/run.py --workload snapshot_golden \
           --seed 3302 --seconds 12 --trace 0
"""
import collections
import json
import os
import subprocess
import sys
import time

HZ = os.sysconf("SC_CLK_TCK")


def classify(threads):
    cls = collections.Counter()
    for comm, ticks in threads:
        c = ("jit_c2" if comm.startswith("C2 Compiler")
             else "jit_c1" if comm.startswith("C1 Compiler")
             else "executor_task" if comm.startswith("Executor task")
             else "gc" if comm.startswith(("GC Thread", "G1 "))
             else "other")
        cls[c] += ticks / HZ
    return cls


def children(pid):
    out = []
    for t in os.listdir(f"/proc/{pid}/task"):
        try:
            out += open(f"/proc/{pid}/task/{t}/children").read().split()
        except OSError:
            pass
    return out


def java_pid(root):
    todo = [str(root)]
    while todo:
        p = todo.pop()
        try:
            if open(f"/proc/{p}/comm").read().strip() == "java":
                return p
            todo += children(p)
        except OSError:
            pass
    return None


proc = subprocess.Popen(sys.argv[1:], stdout=subprocess.PIPE,
                        stderr=subprocess.DEVNULL, text=True)
last = {}     # tid -> (thread name, cpu ticks at its latest sample)
series = []   # (seconds since start, class totals)
t0 = time.time()
jp = None
while proc.poll() is None:
    jp = java_pid(proc.pid) or jp
    if jp:
        try:
            tids = os.listdir(f"/proc/{jp}/task")
        except OSError:
            tids = []
        for t in tids:
            try:
                comm = open(f"/proc/{jp}/task/{t}/comm").read().strip()
                f = open(f"/proc/{jp}/task/{t}/stat").read().rsplit(")", 1)[1].split()
                last[t] = (comm, int(f[11]) + int(f[12]))
            except OSError:
                pass
    series.append((time.time() - t0, classify(last.values())))
    time.sleep(0.5)
out = proc.stdout.read().strip()
print(json.dumps({
    "series": [(round(t, 1), {k: round(v, 2) for k, v in c.items()}) for t, c in series],
    "wall_s": round(time.time() - t0, 1),
    "thread_cpu_s": {k: round(v, 2) for k, v in sorted(classify(last.values()).items())},
    "bench": json.loads(out.splitlines()[-1]) if out else None}))
