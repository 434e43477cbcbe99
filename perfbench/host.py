"""Host and process readings from /proc: CPU time of this process tree,
host-wide busy and steal time, and peak resident memory."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = int(fields[1])
    return out


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below `pid` (default: this one)."""
    pid = os.getpid() if pid is None else pid
    parents = _ppid_map()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found += kids
        frontier += kids
    return found


def _cpu_s(pid: int) -> float:
    """utime + stime of `pid` and of its children it has waited for."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(v) for v in fields[11:15]) / _TICK


def tree_cpu_s() -> float:
    return sum(_cpu_s(p) for p in [os.getpid(), *descendants()])


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of `pid`, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _host_ticks() -> tuple[int, int, int]:
    """(all, idle + iowait, steal) jiffies summed over every CPU."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[3] + v[4], v[7]


class HostWindow:
    """CPU accounting over one timed window. `ambient_cpu_frac` is the
    share of the host's CPU that processes outside this benchmark used;
    it and `steal_frac` tell a slow host window from a regression."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.own0 = tree_cpu_s()
        self.host0 = _host_ticks()

    def close(self, ops: int) -> dict[str, float]:
        wall = time.perf_counter() - self.t0
        own = tree_cpu_s() - self.own0
        total, idle, steal = (b - a for a, b in zip(self.host0, _host_ticks()))
        ncpu = os.cpu_count() or 1
        busy_s = (total - idle - steal) / _TICK
        return {
            "host.cpu_ms_per_op": 1000 * own / max(ops, 1),
            "host.steal_frac": steal / total if total else 0.0,
            "host.ambient_cpu_frac": max(busy_s - own, 0.0) / (wall * ncpu),
            "host.loadavg_1m": os.getloadavg()[0],
        }


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, regular files) on disk under `path`."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def alive(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
