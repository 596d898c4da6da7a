"""Host counters read from /proc: CPU time of a process tree, hypervisor
steal, the peak RSS of the Spark Python workers, and this process's age.

The process tree is this benchmark process and every descendant: the
Spark JVM, the Python worker daemon and its forked workers. A child that
exits and is reaped moves its CPU time into its parent's ``cutime``, so
summing (utime + stime + cutime + cstime) over the live tree never loses
time between two readings.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> list[tuple[str, list[str]]]:
    procs = {}
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fields = _stat_fields(pid)
        if fields is None:
            continue
        procs[pid] = fields
        children.setdefault(fields[1], []).append(pid)  # fields[1] is ppid
    out, stack = [], [str(root)]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append((pid, procs[pid]))
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and all
    of its descendants, reaped ones included."""
    total = 0
    for _, f in _tree(root or os.getpid()):
        # utime stime cutime cstime are fields 14..17 of stat (11..14 here)
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def since_process_start() -> float:
    """Seconds since this process started (to the kernel's 10 ms tick)."""
    start = int(_stat_fields("self")[19])  # starttime, field 22 of stat
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / _TICK


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(v) for v in parts[:8]]  # user nice system idle iowait irq softirq steal
    return vals[7], sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def worker_peak_rss_mb(root: int | None = None) -> float:
    """Largest peak RSS (VmHWM) among the live Spark Python worker
    processes under ``root``."""
    peak = 0
    for pid, _ in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark/daemon" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0
