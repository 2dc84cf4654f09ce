"""CPU time and peak RSS of this process and everything it started.

Reads ``/proc`` directly: the Python driver, the JVM it launched, and the
Python workers the JVM forks. CPU of a child that exits between two samples
is not counted.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds) of ``pid``, or None if it has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are fixed
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK


def age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot: time the
    hypervisor gave the machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class Tree:
    """Snapshot of the process tree rooted at this process."""

    def __init__(self, root: int | None = None):
        root = root or os.getpid()
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                s = _stat(int(d))
                if s is not None:
                    stats[int(d)] = s
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        self.cpu: dict[str, float] = {"driver": 0.0, "jvm": 0.0,
                                      "pyworker": 0.0}
        self.role: dict[int, str] = {}
        stack = [(root, "driver")]
        while stack:
            pid, role = stack.pop()
            if pid not in stats:
                continue
            if role != "driver" or pid != root:
                role = ("jvm" if _is_java(pid)
                        else "pyworker" if role == "jvm" else role)
            self.role[pid] = role
            self.cpu[role] += stats[pid][1]
            stack.extend((k, role) for k in kids.get(pid, []))
        self.jvm = next((p for p in self.role if _is_java(p)), None)

    def total_cpu(self) -> float:
        return sum(self.cpu.values())

    def reset_peaks(self) -> None:
        """Restart every process's peak-RSS count (VmHWM) from its current
        RSS, so that a later ``peak_rss_mb`` covers only what ran since."""
        for pid in self.role:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:  # the process has exited
                pass

    def peak_rss_mb(self) -> dict[str, float]:
        """Summed peak RSS (VmHWM) of the driver, the JVM and the Python
        workers."""
        out = dict.fromkeys(self.cpu, 0.0)
        for pid, role in self.role.items():
            out[role] += _kb(pid, "VmHWM:") / 1024.0
        return out

    def jvm_rss_mb(self) -> float:
        return _kb(self.jvm, "VmRSS:") / 1024.0 if self.jvm else 0.0
