"""CPU and memory of the processes this benchmark started, read from /proc.

The engine runs in a local-mode JVM launched by the benchmark process, and
the JVM forks the Python workers that run pandas UDFs; both are descendants
of this process, so summing over descendants covers exactly the engine.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds() -> float:
    """user+system seconds of every live descendant plus the children each has
    already reaped (a Python worker that exits is counted by its parent)."""
    total = 0
    for pid in descendants():
        st = _stat(str(pid))
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb() -> float:
    """Sum of the high-water resident set (VmHWM) of the live descendants."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0

