"""Process-tree readings from /proc: CPU seconds, peak RSS, host facts.

The benchmark's work runs in several processes: this driver, the Spark
JVM, the PySpark worker daemon and its forks, the broker-double process
and the PostgreSQL postmaster with its backends. These helpers find
them and read their counters without sampling threads.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def ppid(pid: int) -> int | None:
    st = _stat(pid)
    return int(st[1]) if st else None


def children() -> dict[int, list[int]]:
    """Parent pid -> live child pids, one scan of /proc."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            parent = ppid(int(name))
            if parent is not None:
                out.setdefault(parent, []).append(int(name))
    return out


def descendants(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    """``root`` and every live process below it."""
    kids = children() if kids is None else kids
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def own_cpu_s(pid: int) -> float:
    """User + system CPU of one process (all its threads)."""
    st = _stat(pid)
    return (int(st[11]) + int(st[12])) / _TICK if st else 0.0


def tree_cpu_s(root: int, kids: dict[int, list[int]] | None = None) -> float:
    """CPU of ``root``, of the children it has reaped, and of every live
    descendant. Reaped children are counted through cutime/cstime, so
    short-lived processes (PostgreSQL backends, forked Python workers)
    are not lost."""
    kids = children() if kids is None else kids
    total = 0.0
    for pid in descendants(root, kids):
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15]) / _TICK
    return total


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def wait_gone(pids, timeout: float = 30.0) -> list[int]:
    """Poll until none of ``pids`` exists; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_loop_s() -> float:
    """Wall time of a fixed pure-Python loop: the host's speed at this
    moment, recorded so that a slow run can be told from a slow program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x ^= i * 7
    return time.perf_counter() - t0
