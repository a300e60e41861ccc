"""Host facts recorded at the start and end of every result, a sampler
for the peak resident memory of the benchmark's process tree, and the
wait for that tree to end."""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import sys
import threading
import time


def cpu_canary(seconds: float = 0.3) -> float:
    """Single-thread sha256 rate over a 4 KiB buffer, in operations per
    second: a slow or loaded host shows here before it shows anywhere
    else."""
    buf = b"\x5a" * 4096
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        hashlib.sha256(buf).digest()
        n += 1
    return n / (time.perf_counter() - t0)


def _meminfo_mb(field: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise KeyError(field)


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def record(spark_version: str | None = None) -> dict:
    return {
        "host_id": f"{platform.node()}|{_cpu_model()}",
        "cores": cores(),
        "ram_mb": round(_meminfo_mb("MemTotal")),
        "mem_available_mb": round(_meminfo_mb("MemAvailable")),
        "python": sys.version.split()[0],
        "spark": spark_version,
        "canary_sha256_per_s": round(cpu_canary(), 1),
        "loadavg": os.getloadavg(),
        "at": time.time(),
    }


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host since boot, from ``/proc/stat``.
    Stolen ticks are time a virtual machine's cores ran other tenants."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def steal_share(start: tuple[int, int]) -> float:
    """Share of CPU time stolen from this host since ``start``."""
    total, stolen = cpu_ticks()
    return (stolen - start[1]) / max(1, total - start[0])


def driver_memory() -> str:
    """Driver heap sized from host memory: a quarter of RAM, between 1 and
    4 GiB. ``local[N]`` runs every task inside this one JVM."""
    mb = int(_meminfo_mb("MemTotal") / 4)
    return f"{max(1024, min(4096, mb))}m"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _start_tick(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks since boot, or None when it has
    exited (a zombie has exited: only its parent's wait is left)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in "ZX" else int(fields[19])


def descendants(root: int) -> dict[int, int]:
    """Every live descendant of ``root``, pid -> start tick (a pid reused
    by a later process has another start tick)."""
    kids = _children()
    out, todo = {}, list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        tick = _start_tick(pid)
        if tick is not None:
            out[pid] = tick
    return out


def wait_gone(procs: dict[int, int], timeout: float = 10.0) -> list[int]:
    """Wait until every process of ``procs`` (from ``descendants``) has
    exited; kill those still running after ``timeout`` seconds and wait
    for them too. Returns the pids that had to be killed."""
    def alive():
        return [p for p, t in procs.items() if _start_tick(p) == t]

    end = time.monotonic() + timeout
    while alive() and time.monotonic() < end:
        time.sleep(0.05)
    killed = alive()
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while alive():
        time.sleep(0.05)
    return killed


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


class PeakRss:
    """Samples the process tree's resident memory on a daemon thread until
    ``stop``; ``peak_mb`` is the highest sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb
