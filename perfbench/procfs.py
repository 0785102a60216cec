"""Readers for ``/proc``: CPU seconds and peak resident memory of the
benchmark's process tree (this Python process, the Spark JVM, Spark's
Python workers), and host steal time.  Nothing here samples in the
background; every value is a snapshot or a kernel-kept high-water mark
read on demand.
"""

from __future__ import annotations

import os
from pathlib import Path

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (index 0 = state)."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            fields = _stat(int(entry.name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(entry.name))
    return kids


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def cmdline(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/cmdline").read_bytes().replace(b"\0", b" ").decode()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def cpu_s(pids: list[int]) -> float:
    """User+system CPU of ``pids`` plus that of their reaped children.

    A worker that exits inside a measured interval moves its CPU into its
    parent's ``cutime``/``cstime``, so deltas of this sum stay exact."""
    ticks = 0
    for pid in pids:
        fields = _stat(pid)
        if fields is not None:
            ticks += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ticks / TICK


class Tree:
    """The benchmark's process tree: this process, the JVM it launched, and
    the Python worker processes below the JVM."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        return descendants(self.root)

    def worker_pids(self) -> list[int]:
        """Python processes below the JVM (``pyspark.daemon`` and the
        workers it forks)."""
        out = []
        for pid in self.pids():
            if pid == self.root:
                continue
            if "python" in cmdline(pid).split(" ")[0]:
                out.append(pid)
        return out

    def cpu_s(self) -> float:
        return cpu_s(self.pids())

    def worker_cpu_s(self) -> float:
        return cpu_s(self.worker_pids())

    def reset_peak_rss(self) -> None:
        """Reset every process's VmHWM to its current RSS (writing 5 to
        clear_refs), so a later :meth:`peak_rss_mb` covers only what
        follows."""
        for pid in self.pids():
            try:
                Path(f"/proc/{pid}/clear_refs").write_text("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> float:
        """Sum of per-process peak RSS (VmHWM) over the live tree."""
        kb = 0
        for pid in self.pids():
            try:
                for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
            except (FileNotFoundError, ProcessLookupError):
                continue
        return kb / 1024


def steal_s() -> float:
    """Host-wide steal seconds so far (all CPUs, /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / TICK if len(fields) > 8 else 0.0
