"""CPU and memory of the whole process tree, read from /proc.

The driver is this Python process; the JVM is its child and the Python
workers are children of the JVM's worker daemon. `resource.RUSAGE_CHILDREN`
only counts children that have exited and been waited for, so it misses
the live JVM entirely; walking /proc sees every live descendant.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. waited-for children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2:].split()
    # fields[1] is ppid; 11..14 are utime, stime, cutime, cstime
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def tree() -> dict[int, float]:
    """{pid: cpu seconds} for this process and all of its live descendants."""
    root = os.getpid()
    info: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    members, frontier = {root}, [root]
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        for c in children.get(frontier.pop(), []):
            if c not in members:
                members.add(c)
                frontier.append(c)
    return {p: info[p][1] for p in members if p in info}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(b")") + 2:][:1] != b"Z"


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait for every pid in `pids` to exit and kill what is left after
    `timeout`. Takes the pids up front because a child whose parent exits
    is re-parented away from this process's tree."""
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def cpu_seconds() -> float:
    return sum(tree().values())


def reset_peak_rss(pids) -> None:
    """Restart each process's peak-RSS high-water mark from its current RSS."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # already exited


def peak_rss(pids) -> int:
    """Sum over `pids` of each process's peak RSS (VmHWM), in bytes. The
    kernel keeps the high-water mark, so no sampling can miss a spike."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass  # already exited
    return total
