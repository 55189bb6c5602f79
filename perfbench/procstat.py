"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is the driver Python process, the Spark JVM it launched, and the
Python workers the JVM forks.  CPU of a child that has exited is counted
through its parent's ``cutime``/``cstime`` once the parent has reaped it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Stat:
    pid: int
    ppid: int
    comm: str
    state: str  # R, S, Z, ...
    cpu_s: float  # utime + stime
    child_cpu_s: float  # cutime + cstime of reaped children


def read_stat(pid: int) -> Stat | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm is parenthesised and may hold spaces; fields follow the last ')'
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2 :].split()
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return Stat(
        pid=pid,
        ppid=int(rest[1]),
        comm=raw[lpar + 1 : rpar],
        state=rest[0],
        cpu_s=(utime + stime) / _TICK,
        child_cpu_s=(cutime + cstime) / _TICK,
    )


def all_stats() -> dict[int, Stat]:
    out: dict[int, Stat] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = read_stat(int(name))
            if st is not None:
                out[st.pid] = st
    return out


def descendants(root: int, stats: dict[int, Stat]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for st in stats.values():
        kids.setdefault(st.ppid, []).append(st.pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_split(driver: int, jvm: int | None, skip: int | None = None) -> dict[str, float]:
    """Cumulative CPU seconds of the tree, split into the JVM, the Python
    workers under it and the driver (with any other children it has but
    ``skip``)."""
    stats = all_stats()
    under_jvm = set(descendants(jvm, stats)) if jvm in stats else set()
    out = {"jvm": 0.0, "pyworker": 0.0, "driver": 0.0}
    if jvm in stats:
        out["jvm"] = stats[jvm].cpu_s
        out["pyworker"] = stats[jvm].child_cpu_s + sum(
            stats[p].cpu_s + stats[p].child_cpu_s for p in under_jvm
        )
    out["driver"] = stats[driver].cpu_s
    for p in descendants(driver, stats):
        if p not in (jvm, skip) and p not in under_jvm:
            out["driver"] += stats[p].cpu_s + stats[p].child_cpu_s
    return out


def cpu_ticks() -> list[tuple[int, int]]:
    """``(busy, steal)`` ticks of each of the machine's CPUs since boot,
    from the ``cpuN`` lines of ``/proc/stat``.  Busy is user, nice, system,
    irq and softirq time; steal is the time the CPU wanted to run and the
    hypervisor ran another machine instead."""
    out = []
    with open("/proc/stat") as f:
        for line in f:
            if not line.startswith("cpu"):
                break
            if line.startswith("cpu "):
                continue
            user, nice, system, _idle, _iowait, irq, softirq, steal = (
                int(x) for x in line.split()[1:9]
            )
            out.append((user + nice + system + irq + softirq, steal))
    return out


def steal_share(before: list[tuple[int, int]], after: list[tuple[int, int]]) -> float:
    """The share of the CPU time the machine wanted between two
    ``cpu_ticks`` readings that the hypervisor gave to other machines."""
    busy = sum(a[0] - b[0] for a, b in zip(after, before))
    steal = sum(a[1] - b[1] for a, b in zip(after, before))
    return steal / (busy + steal) if busy + steal else 0.0


def status_kb(pid: int, field: str) -> int:
    """A ``VmRSS``/``VmHWM``-style field of ``/proc/<pid>/status`` in kB
    (0 when the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(driver: int) -> dict[str, float]:
    """Per-process peak RSS (``VmHWM``) summed over the live tree, in MB,
    with the JVM's own share beside it."""
    stats = all_stats()
    pids = [driver, *descendants(driver, stats)]
    total = sum(status_kb(p, "VmHWM") for p in pids) / 1024.0
    jvm = max(
        (status_kb(p, "VmHWM") for p in pids if stats.get(p) and stats[p].comm == "java"),
        default=0,
    )
    return {"total": total, "jvm": jvm / 1024.0}
