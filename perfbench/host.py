"""The host side of a run: its stamp, its memory budget and the processes
the run starts.

- ``probe`` is a short fixed-work CPU and memory-bandwidth probe in the
  style of ``bench/cpu_probe.py``, run on at most ``nproc`` processes.
  It is recorded beside each run's metrics as context, so placement
  drift between runs shows; it is not a benchmark metric.
- ``RssSampler`` samples the resident set of this process and all its
  descendants (driver Python, the JVM, Spark's Python workers) from
  ``/proc`` and keeps the peak.
- ``reap`` waits for every descendant to exit, killing stragglers.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time
from typing import Dict, List

CPU_WORK = 1_000_000
MEM_MIB = 64
MEM_PASSES = 10


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb() -> Dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) // 1024
    return out


def driver_heap_mb() -> int:
    """JVM heap for the benchmark's driver: an eighth of physical memory,
    at most half of what is free now, between 1 and 2 GiB. The corpora
    are small; the cap keeps other tenants of a shared host safe. The
    heap is fixed (-Xms = -Xmx) so peak RSS does not depend on when G1
    decides to grow it."""
    m = meminfo_mb()
    return int(max(1024, min(2048, m["MemTotal"] // 8, m["MemAvailable"] // 2)))


def _burn(n: int) -> float:
    t0 = time.perf_counter()
    s = 0.0
    for i in range(n):
        s += (i % 7) * 0.5
    return time.perf_counter() - t0


def _stream(passes: int) -> float:
    import numpy as np

    a = np.arange(MEM_MIB * 1024 * 1024 // 8, dtype=np.float64)
    float(a.sum())  # fault the buffer in before timing
    t0 = time.perf_counter()
    for _ in range(passes):
        float(a.sum())
    return time.perf_counter() - t0


def _parallel(kind: str, n: int) -> List[float]:
    """Run ``python host.py <kind>`` in n processes at once; their times."""
    procs = [subprocess.Popen([sys.executable, os.path.abspath(__file__), kind],
                              stdout=subprocess.PIPE, text=True) for _ in range(n)]
    return [float(p.communicate()[0]) for p in procs]


def probe() -> dict:
    """Aggregate CPU (M loop iterations/s) and memory bandwidth (GB/s)
    over nproc processes, each doing the same fixed work."""
    n = nproc()
    cpu = _parallel("cpu", n)
    mem = _parallel("mem", n)
    mib = MEM_MIB * MEM_PASSES
    return {
        "nproc": n,
        "mem_total_mb": meminfo_mb()["MemTotal"],
        "cpu_mops": round(sum(CPU_WORK / t for t in cpu) / 1e6, 3),
        "membw_gbs": round(sum(mib * 1.048576e-3 / t for t in mem), 3),
        "loadavg_1m": os.getloadavg()[0],
    }


def cpu_ticks() -> List[int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's vCPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return [ticks[7] if len(ticks) > 7 else 0, sum(ticks)]


def steal_frac(before: List[int], after: List[int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every live
    descendant, counting each process's reaped children, so a Python
    worker or helper that exits keeps its share. The kernel leaves steal
    out of these counters."""
    ticks = 0
    for pid in [root] + descendants(root):
        fields = _stat_fields(pid)
        if fields:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the 2nd field after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Background sampler of the process tree's summed RSS. A descendant
    counts from its second sample on: the JVM's short-lived helper
    processes (spawned for chmod and the like) briefly report the JVM's
    whole resident set, which would count it twice."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.seen: Dict[int, int] = {}  # pid -> start time, for reap
        self._prev: set = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        now = set()
        for p in descendants(me):
            now.add((p, self.seen.setdefault(p, _starttime(p))))
        lived = [p for p, _ in now & self._prev]
        self._prev = now
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in [me] + lived))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _stat_fields(pid: int) -> List[str]:
    """Fields of /proc/<pid>/stat after the command name, or [] if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return []


def _starttime(pid: int) -> int:
    fields = _stat_fields(pid)
    return int(fields[19]) if fields else -1


def _alive(pid: int, started: int) -> bool:
    """Still running and still the process we saw (pids are reused)."""
    fields = _stat_fields(pid)
    return bool(fields) and fields[0] != "Z" and int(fields[19]) == started


def reap(seen: Dict[int, int], timeout_s: float = 20.0) -> None:
    """Wait for every process in ``seen`` (pid -> start time) to exit;
    SIGKILL whichever outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    pending = dict(seen)
    while pending and time.monotonic() < deadline:
        pending = {p: t for p, t in pending.items() if _alive(p, t)}
        if pending:
            time.sleep(0.1)
    for p, t in pending.items():
        if _alive(p, t):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


if __name__ == "__main__":
    print(_burn(CPU_WORK) if sys.argv[1] == "cpu" else _stream(MEM_PASSES))
