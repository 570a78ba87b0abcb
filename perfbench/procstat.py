"""Memory and CPU of the benchmark's process tree, read from ``/proc``.

``getrusage(RUSAGE_CHILDREN)`` cannot see the Spark JVM: it is a child that
is still running (never reaped) while the benchmark measures. So the tree is
walked by parent pid instead, and each process's own ``utime+stime`` plus the
``cutime+cstime`` of children it already reaped is summed.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may hold spaces: fields start after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """CPU seconds used so far by ``root``'s process tree."""
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of one process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
