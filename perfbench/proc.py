"""Process-tree accounting from /proc: the benchmark process, the JVM it
launched and the JVM's Python workers."""

from __future__ import annotations

import os

TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(int(entry))[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by the tree, including reaped children."""
    total = 0
    for pid in tree():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / TICKS


def tree_memory_mb(field: str) -> dict[str, float]:
    """A memory field of /proc/<pid>/status, such as ``VmHWM``, in MB for
    each live process of the tree, keyed by ``<pid>:<command name>``."""
    out = {}
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        out[f"{pid}:{fields['Name'].strip()}"] = int(fields.get(field, "0 kB").split()[0]) / 1024.0
    return out


def steal_ticks() -> int:
    """Host-wide CPU steal, in clock ticks since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])
