"""Readings from /proc about this process tree and the host.

Nothing here writes anything; every reading is of this benchmark's own
processes (the Python process, the JVM it launched and any processes
below the JVM), plus host-wide steal time and load average.
"""

from __future__ import annotations

import os
from pathlib import Path

TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started (tick resolution)."""
    start = int(_stat_fields(os.getpid())[19]) / TICK
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start


def _tree() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every process readable in /proc."""
    out = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        fields = _stat_fields(int(entry.name))
        if fields is None:
            continue
        try:
            comm = Path(f"/proc/{entry.name}/comm").read_text().strip()
        except OSError:
            continue
        out[int(entry.name)] = (int(fields[1]), comm)
    return out


def descendants(root: int) -> list[int]:
    tree = _tree()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in tree.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_s(pid: int) -> float:
    """User + system CPU of ``pid`` and of its children it has reaped."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    return sum(int(x) for x in f[11:15]) / TICK


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the whole process tree under ``root`` (default:
    this process): this Python process, the JVM and any Python workers."""
    return sum(cpu_s(p) for p in descendants(root or os.getpid()))


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads (C1/C2)."""
    total = 0.0
    for task in os.scandir(f"/proc/{jvm_pid}/task"):
        try:
            comm = Path(task.path, "comm").read_text()
        except OSError:
            continue
        if comm.startswith(("C1 Compiler", "C2 Compiler")):
            f = _stat_fields(f"{jvm_pid}/task/{task.name}")
            if f is not None:
                total += (int(f[11]) + int(f[12])) / TICK
    return total


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def steal_s() -> float:
    """Host-wide steal time so far, in CPU-seconds."""
    cpu = Path("/proc/stat").read_text().splitlines()[0].split()
    return int(cpu[8]) / TICK


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]
