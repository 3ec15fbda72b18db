"""Host facts the benchmark sizes itself by, and the host probe it records.

The session is sized to the machine it runs on: cores from the CPU
affinity mask (what ``nproc`` prints) and driver memory as a quarter of
``MemTotal``, so a small host is never asked for more memory than it has.
The probe is context for reading a run, not a metric: a fixed amount of
single-thread work timed before and after the run, the same work in one
process per core after it, and the share of CPU time stolen by the
hypervisor while the run lasted.
"""

from __future__ import annotations

import hashlib
import os
import resource
import statistics
import subprocess
import sys
import threading
import time

_PROBE_ITERS = 200_000
_PROBE_CODE = (
    "import hashlib,time\n"
    "t=time.perf_counter();h=b'\\0'*64\n"
    f"for _ in range({_PROBE_ITERS}): h=hashlib.sha256(h).digest()\n"
    "print(time.perf_counter()-t)"
)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A quarter of physical memory, in whole GiB, at least 1."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return max(1, int(line.split()[1]) // (4 * 1024 * 1024))
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_probe_s() -> float:
    """Best of two timings of a fixed sha256 chain, in seconds."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        h = b"\0" * 64
        for _ in range(_PROBE_ITERS):
            h = hashlib.sha256(h).digest()
        best = min(best, time.perf_counter() - t0)
    return best


def parallel_probe_s(n: int) -> float:
    """Median per-process time of the probe run in ``n`` processes at once."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _PROBE_CODE], stdout=subprocess.PIPE, text=True)
        for _ in range(n)
    ]
    times = [float(p.communicate(timeout=60)[0]) for p in procs]
    return statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process (the driver: query and plan
    building, Python-side loops, orchestration) and its descendants (the
    Spark JVM and its Python workers, exited workers the JVM has reaped
    included), user plus system."""
    own = resource.getrusage(resource.RUSAGE_SELF)
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        total += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])
    return own.ru_utime + own.ru_stime + total / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendants_rss_mb() -> float:
    """Summed RSS of this process's descendants (the Spark JVM and its
    Python workers), in MiB."""
    return sum(_rss_bytes(p) for p in _descendants(os.getpid())) / (1024 * 1024)


class PeakSampler:
    """Calls ``sample`` every ``interval_s`` seconds on a background thread;
    ``stop`` returns the highest value seen since ``start``."""

    def __init__(self, sample, interval_s: float = 0.5):
        self.sample, self.interval_s = sample, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval_s)

    def start(self) -> PeakSampler:
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
