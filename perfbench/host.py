"""Host facts recorded with every run, read from /proc (psutil is not
assumed): core count, memory, CPU steal and iowait over the timed region,
and the peak resident memory of this process and everything it started."""

from __future__ import annotations

import os


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def noise(before: list[int], after: list[int]) -> dict:
    """Steal and iowait ticks over an interval, and their share of all
    ticks, so an outlier run can be told apart from a regression."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"steal_ticks": d[7], "iowait_ticks": d[4],
            "steal_pct": 100.0 * d[7] / total,
            "iowait_pct": 100.0 * d[4] / total}


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM, Spark's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident set of this process and of its JVM, in MB (Spark's
    Python workers come and go with the scheduler, so they are left
    out)."""
    me = os.getpid()
    jvms = [p for p in descendants(me) if _comm(p) == "java"]
    return vm_hwm_kb(me) / 1024.0, sum(vm_hwm_kb(p) for p in jvms) / 1024.0
