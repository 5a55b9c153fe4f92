#!/usr/bin/env python3
"""CPU seconds per thread-name class of a running JVM, from start to Ctrl-C.

Usage: python3 tools/thread_cpu.py <pid> [interval_s]

Every interval (default 1 s) reads /proc/<pid>/task/*/stat and keeps each
thread's latest utime+stime. On Ctrl-C, or when the process exits, prints
the CPU each thread class used since the start. A class is the thread name
with trailing numbers cut off ("C2 CompilerThre", "Executor task l").
Threads that exit between samples keep the CPU of their last sample, and
threads that live less than one interval are missed, so totals are lower
bounds. Reads /proc only.
"""
import os
import re
import sys
import time


def sample(pid, seen):
    """Updates seen[tid] = (name, cpu ticks); False once pid is gone."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return False
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, _, tail = stat.rpartition(")")
        fields = tail.split()
        seen[tid] = (head[head.index("(") + 1:], int(fields[11]) + int(fields[12]))
    return True


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    pid, interval = sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
    start, latest = {}, {}
    if not sample(pid, start):
        sys.exit(f"no process {pid}")
    latest.update(start)
    t0 = time.time()
    try:
        while sample(pid, latest):
            time.sleep(interval)
    except KeyboardInterrupt:
        pass
    by_class = {}
    for tid, (name, ticks) in latest.items():
        cls = re.sub(r"[\s#\-_.:\d]*\d$", "", name) or name
        used = (ticks - start.get(tid, (name, 0))[1]) / os.sysconf("SC_CLK_TCK")
        by_class[cls] = by_class.get(cls, 0) + used
    total = sum(by_class.values())
    print(f"pid {pid}: {total:.1f} s CPU over {time.time() - t0:.1f} s wall")
    for cls, s in sorted(by_class.items(), key=lambda kv: -kv[1]):
        if s > 0:
            print(f"{s:9.2f} s  {100 * s / max(total, 1e-9):5.1f} %  {cls}")


if __name__ == "__main__":
    main()
