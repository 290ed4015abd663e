"""Process-tree CPU accounting from ``/proc``.

One sampler serves both the end-to-end ``call_cpu_s`` and the traced
``cpu.driver_s`` / ``cpu.jvm_s`` / ``cpu.pyworker_s`` split.  A sample
walks every descendant of the root process and sums user+system time,
plus the time of children each process has already reaped (``cutime``
and ``cstime``), so Python workers that exit between two samples are
still counted: the PySpark daemon reaps its forked workers.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped-children cpu s), or None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    # comm may hold spaces or parens: split on the LAST ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (field 3); utime..cstime are fields 14..17
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, comm, (utime + stime) / _TICK, (cutime + cstime) / _TICK


def _kind(pid: int, comm: str, root: int) -> str:
    if pid == root:
        return "driver"
    if comm == "java":
        return "jvm"
    if comm.startswith("python"):
        return "pyworker"
    return "other"


def tree_cpu() -> dict[str, float]:
    """CPU seconds consumed so far by this process (the root) and all
    its descendants, split by kind: ``driver`` (the root),
    ``jvm``, ``pyworker`` (Python processes below the root, i.e. the
    PySpark daemon and its workers) and ``other`` (launcher shells);
    ``total`` is their sum."""
    root = os.getpid()
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, str, float, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        stats[int(name)] = st
        children.setdefault(st[0], []).append(int(name))
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    stack = [root]
    while stack:
        pid = stack.pop()
        st = stats.get(pid)
        if st is None:
            continue
        kind = _kind(pid, st[1], root)
        own, reaped = st[2], st[3]
        if pid == root:
            # the root's reaped children are launcher processes
            out["driver"] += own
            out["other"] += reaped
        else:
            out[kind] += own + reaped
        stack.extend(children.get(pid, ()))
    out["total"] = sum(out.values())
    return out


def delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before.get(k, 0.0) for k in after}
