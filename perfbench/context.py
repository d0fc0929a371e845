"""Run context: hypervisor steal per phase, load, versions, memory peaks."""

from __future__ import annotations

import os
import subprocess

# A phase whose steal share exceeds this is flagged: the numbers were
# taken while the hypervisor withheld a noticeable share of the CPU.
HIGH_STEAL_PCT = 5.0


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) ticks of the aggregate /proc/stat line; the total
    counts the first eight fields (user..steal) only, as bench.py does."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
    except (OSError, ValueError):
        return None


def steal_pct(before, after) -> float | None:
    if not before or not after or after[1] <= before[1]:
        return None
    return round(100.0 * (after[0] - before[0]) / (after[1] - before[1]), 3)


def loadavg() -> list[float]:
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except (OSError, ValueError):
        return []


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a process, in KiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[1]) == pid:
                    out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


_HZ = os.sysconf("SC_CLK_TCK")
_COMPILER_TIDS: dict[int, list[int]] = {}


def _ticks(path: str, fields: slice) -> int:
    with open(path) as f:
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])


def _compiler_tids(pid: int) -> list[int]:
    """The JIT compiler threads of JVM ``pid``.  The driver JVM runs with
    -XX:-UseDynamicNumberOfCompilerThreads, so the set is fixed at start
    and never exits (their CPU would otherwise leave the sum)."""
    if pid not in _COMPILER_TIDS:
        tids = []
        for t in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{t}/comm") as f:
                    if "Compiler" in f.read():
                        tids.append(int(t))
            except OSError:
                continue
        _COMPILER_TIDS[pid] = tids
    return _COMPILER_TIDS[pid]


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """(CPU, JIT CPU) seconds, user + system, of ``root`` (default: this
    process) and every live descendant: the driver Python process, its
    JVM and the Python workers the JVM starts, each counting its reaped
    children.  The JIT share is the JVM's compiler threads; it is part of
    the first figure too."""
    procs: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
                procs[int(d)] = (int(rest.split()[1]), head.split("(", 1)[1])
            except (OSError, IndexError, ValueError):
                continue
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    todo, ticks, jit = [root or os.getpid()], 0, 0
    while todo:
        pid = todo.pop()
        if pid not in procs:
            continue
        try:
            ticks += _ticks(f"/proc/{pid}/stat", slice(11, 15))
            if procs[pid][1] == "java":
                for t in _compiler_tids(pid):
                    jit += _ticks(f"/proc/{pid}/task/{t}/stat", slice(11, 13))
        except (OSError, ValueError):
            pass
        todo.extend(kids.get(pid, []))
    return ticks / _HZ, jit / _HZ


def driver_peak_rss_mb() -> float:
    """VmHWM of this Python process plus its JVM child(ren)."""
    me = os.getpid()
    kb = vm_hwm_kb(me)
    for c in child_pids(me):
        try:
            cmd = open(f"/proc/{c}/cmdline", "rb").read()
        except OSError:
            continue
        if b"java" in cmd:
            kb += vm_hwm_kb(c)
    return kb / 1024.0


def versions() -> dict:
    out = {}
    try:
        import pyspark

        out["pyspark"] = pyspark.__version__
    except ImportError:
        out["pyspark"] = None
    try:
        r = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        lines = (r.stderr or r.stdout).splitlines()
        out["java"] = next((x.strip() for x in lines if " version " in x), None)
    except (OSError, subprocess.SubprocessError):
        out["java"] = None
    return out


class Phases:
    """Wall time, steal share and load average per named phase."""

    def __init__(self):
        self.data: dict[str, dict] = {}
        self._open: dict[str, tuple] = {}

    def start(self, name: str) -> None:
        import time

        self._open[name] = (time.perf_counter(), cpu_ticks())

    def stop(self, name: str) -> None:
        import time

        t0, k0 = self._open.pop(name)
        st = steal_pct(k0, cpu_ticks())
        self.data[name] = {
            "wall_s": round(time.perf_counter() - t0, 4),
            "steal_pct": st,
            "loadavg1": (loadavg() or [None])[0],
            "high_steal": st is not None and st > HIGH_STEAL_PCT,
        }
