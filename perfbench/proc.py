"""Readings from ``/proc``: CPU time and peak memory of the benchmark's
process tree (this process, the Spark JVM and the JVM's descendants,
the Python workers), and the machine's busy and stolen CPU ticks."""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after ')'
        return f.read().rsplit(")", 1)[1].split()


def tree(jvm_pid: int) -> set[int]:
    """This process, the JVM and every live descendant of the JVM."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(int(entry))[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(entry))
    pids, todo = {os.getpid()}, [jvm_pid]
    while todo:
        pid = todo.pop()
        pids.add(pid)
        todo.extend(children.get(pid, []))
    return pids


def cpu_seconds(jvm_pid: int) -> float:
    """User plus system CPU time of :func:`tree`, including reaped
    children (pyspark's daemon reaps its exited workers).  Time the
    hypervisor steals from the machine is not counted."""
    ticks = 0
    for pid in tree(jvm_pid):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed peak resident set size (VmHWM) of :func:`tree`."""
    total_kb = 0
    for pid in tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += sum(
                    int(line.split()[1]) for line in f if line.startswith("VmHWM:")
                )
        except OSError:
            continue
    return total_kb / 1024.0


def machine_busy_steal() -> tuple[int, int]:
    """Machine-wide (busy, stolen) CPU ticks since boot from
    ``/proc/stat``: busy is user + nice + system + irq + softirq, stolen
    is time the hypervisor ran another guest while this one was ready."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def net_of_steal(wall: float, since: tuple[int, int]) -> float:
    """``wall`` seconds that ended now, scaled by the share of the
    machine's CPU ticks since ``since`` (a :func:`machine_busy_steal`
    reading) that the guest got rather than the hypervisor stole: an
    estimate of the wall time on a machine nobody else uses."""
    busy, stolen = machine_busy_steal()
    busy, stolen = busy - since[0], stolen - since[1]
    return wall * busy / (busy + stolen) if busy + stolen else wall


def net_time(fn) -> float:
    """Run ``fn()``; returns its wall time net of steal."""
    ticks = machine_busy_steal()
    t = time.perf_counter()
    fn()
    return net_of_steal(time.perf_counter() - t, ticks)
