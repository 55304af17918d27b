"""Process-tree and host readings from /proc, taken from outside the
program: CPU, RSS high-water marks and disk writes of the benchmark's own
process tree, plus host-noise diagnostics that are recorded next to each
run but never used to normalise or discard one."""

from __future__ import annotations

import os
from dataclasses import dataclass

_HZ = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # own user+system time plus that of reaped children


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process exited between listing and reading
        return None


def _proc(pid: int) -> Proc | None:
    text = _read(f"/proc/{pid}/stat")
    if text is None:
        return None
    # comm is parenthesised and may itself hold spaces or parentheses
    head, _, rest = text.rpartition(")")
    fields = rest.split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return Proc(pid, int(fields[1]), head.partition("(")[2],
                (utime + stime + cutime + cstime) / _HZ)


def tree(root: int) -> list[Proc]:
    """``root`` and every live descendant of it."""
    procs = [p for p in map(_proc, (int(d) for d in os.listdir("/proc")
                                    if d.isdigit())) if p is not None]
    children: dict[int, list[Proc]] = {}
    for p in procs:
        children.setdefault(p.ppid, []).append(p)
    out = [p for p in procs if p.pid == root]
    i = 0
    while i < len(out):
        out.extend(children.get(out[i].pid, ()))
        i += 1
    return out


def cpu_s(procs: list[Proc]) -> float:
    return sum(p.cpu_s for p in procs)


def python_cpu_s(procs: list[Proc]) -> float:
    """CPU of the Python processes in ``procs`` (the JVM's worker daemon
    and the workers it forks)."""
    return sum(p.cpu_s for p in procs if p.comm.startswith("python"))


def hwm_mb(pids: list[int]) -> float:
    """Sum of the processes' own peak resident set sizes, in MB."""
    total_kb = 0
    for pid in pids:
        for line in (_read(f"/proc/{pid}/status") or "").splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024


def write_bytes(pid: int) -> int:
    """Bytes the process caused to be written to storage so far."""
    for line in (_read(f"/proc/{pid}/io") or "").splitlines():
        if line.startswith("write_bytes:"):
            return int(line.split()[1])
    return 0


def steal_s() -> float:
    """Host-wide steal time since boot, summed over CPUs."""
    fields = (_read("/proc/stat") or "cpu").splitlines()[0].split()
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0


def loadavg() -> float:
    return float((_read("/proc/loadavg") or "0").split()[0])


def mem_total_mb() -> float:
    for line in (_read("/proc/meminfo") or "").splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) / 1024
    return 0.0
