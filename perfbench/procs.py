"""Process accounting read from ``/proc``: the peak resident memory of the
engine (the Spark JVM and its Python workers) and CPU seconds of one
process."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def tree(root: int) -> list:
    """``root`` and all its live descendants."""
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of one process (0.0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / _TICK
    except (OSError, IndexError, ValueError):
        return 0.0


def peak_rss_mb(root: int, skip: int) -> float:
    """Sum of each process's peak resident set (``VmHWM``) over the live
    descendants of ``root``: the JVM and its Python workers, read without
    sampling. ``root``, the benchmark's own process, is left out: its peak
    is set by input generation, not by the engine; so is ``skip``, the
    benchmark's speed meter."""
    total = 0
    for pid in tree(root)[1:]:
        if pid == skip:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024

