"""Resource use of the benchmark's process tree: this Python process, the Spark JVM
and the Python workers under it, read from ``/proc``."""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> list:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak RSS (VmHWM) of this process, the JVM and the Python
    workers under it. A sum of per-process peaks: an upper bound on the
    simultaneous peak. The heap is pre-touched, so the JVM's share is the
    whole heap plus what the JVM holds outside it."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and every process under it.

    Timings on a shared VM host move with the other tenants' load: wall
    times of the same run doubled over one evening while the guest's steal
    time rose to 30%. The guest kernel does not charge stolen time to a
    process, so CPU time stays put where wall time does not."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat(5), here 11-14
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICKS
