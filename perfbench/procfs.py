"""CPU time and peak memory of the benchmark's process tree, from /proc.

The tree is the Python driver (this process), the JVM it launched, and
the JVM's Python daemon and workers. CPU includes the ``cutime`` and
``cstime`` of each live process, so a worker that exited after its
parent reaped it is still counted, once.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rfind(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree(root: int) -> dict[int, str]:
    """Live descendants of ``root`` (and root itself) by role:
    ``driver``, ``jvm`` or ``pyworker``."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                parent[int(name)] = int(st[1])
    roles = {root: "driver"}
    changed = True
    while changed:
        changed = False
        for pid, ppid in parent.items():
            if pid not in roles and ppid in roles:
                role = roles[ppid]
                if role == "driver" and "java" in _cmdline(pid).split(" ")[0]:
                    role = "jvm"
                elif role == "jvm":
                    role = "pyworker"
                roles[pid] = role
                changed = True
    return roles


def cpu_s(pid: int) -> float:
    st = _stat(pid)
    if not st:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
    return sum(int(x) for x in st[11:15]) / CLK_TCK


def cpu_by_role(root: int) -> dict[str, float]:
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, role in tree(root).items():
        out[role] += cpu_s(pid)
    return out


def hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_age_s(pid: int) -> float:
    """Seconds since ``pid`` started, at the kernel's tick resolution."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(pid)[19]) / CLK_TCK


class PeakRss:
    """Per-process high-water marks over the run, summed: each process
    seen is sampled whenever ``sample`` runs and keeps its largest
    VmHWM, so workers that exit before the end still count."""

    def __init__(self, root: int):
        self.root = root
        self.peak_kb: dict[int, int] = {}
        self.role: dict[int, str] = {}

    def sample(self) -> None:
        for pid, role in tree(self.root).items():
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), hwm_kb(pid))
            self.role[pid] = role

    def total_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def by_role(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for pid, kb in self.peak_kb.items():
            out[self.role[pid]] = out.get(self.role[pid], 0.0) + kb / 1024.0
        return out
