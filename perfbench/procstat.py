"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process (the Spark driver), the JVM it
launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields follow its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(root: int) -> float:
    """User + system seconds of the live tree, plus those of the
    children each member has already reaped."""
    ticks = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def hwm_mb(root: int) -> dict[str, float]:
    """Each live process's peak resident set, by ``name:pid``."""
    out = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in status:
            name = status["Name"].strip()
            out[f"{name}:{pid}"] = int(status["VmHWM"].split()[0]) / 1024.0
    return out


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK
