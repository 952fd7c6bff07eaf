"""CPU accounting for timed units.

A unit's CPU seconds are those of this Python client plus the driver
JVM and every process below it (the Python workers of UDFs), so work
moved between the JVM and Python workers still counts. Wall time on a
shared VM swings with the CPU time the hypervisor steals; CPU seconds
swing much less, so they are the end-to-end figure, and the steal is
reported next to each unit's wall.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name; index 1
    is the parent pid, 11-14 utime, stime, cutime and cstime."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live process below it, each with
    the CPU of the children it has reaped."""
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                stats[int(entry)] = _stat(int(entry))
            except OSError:  # exited meanwhile; its parent has its CPU once reaped
                pass
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += sum(int(x) for x in stats[pid][11:15])
        todo.extend(children.get(pid, ()))
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this machine's CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


class Meter:
    """Wall, CPU and steal seconds between ``start()`` and ``stop()``."""

    def __init__(self, spark):
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self._t0 = self._c0 = self._s0 = 0.0

    def _cpu_s(self) -> float:
        t = os.times()
        return tree_cpu_s(self.jvm_pid) + t.user + t.system

    def start(self) -> None:
        self._t0, self._c0, self._s0 = time.perf_counter(), self._cpu_s(), steal_s()

    def stop(self) -> tuple[float, float, float]:
        """(wall, cpu, steal) seconds since ``start()``."""
        return (time.perf_counter() - self._t0, self._cpu_s() - self._c0,
                steal_s() - self._s0)
