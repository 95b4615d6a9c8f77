"""Host stamp, co-tenant noise, process-tree memory and process cleanup.

Everything here reads ``/proc`` of the local host. The noise accounting
reuses the frozen ``bench.py`` helpers (``_host_cpu_sec`` /
``_tree_cpu_sec`` / ``_loadavg``) so the two harnesses classify a noisy
window the same way.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time
from pathlib import Path


def _proc_table() -> dict[int, int]:
    """pid -> ppid for every live process."""
    out = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            rest = (p / "stat").read_text().rsplit(")", 1)[-1].split()
            out[int(p.name)] = int(rest[1])
        except (OSError, ValueError, IndexError):
            continue
    return out


def descendants(root: int | None = None) -> set[int]:
    """Live descendants of ``root`` (default: this process), excluding it."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    mine = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in table.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    mine.discard(root)
    return mine


def tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants() | {os.getpid()}:
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """Samples the RSS of this process tree (driver JVM + Python workers)
    on a daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.period_s)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak / 2**20


class NoiseWindow:
    """External (co-tenant) CPU cores over a window: host busy CPU from
    /proc/stat minus this process tree's CPU, divided by wall time."""

    def __init__(self, bench_mod):
        self._b = bench_mod
        self.load_before = bench_mod._loadavg()
        self._host0 = bench_mod._host_cpu_sec()
        self._tree0 = bench_mod._tree_cpu_sec()
        self._t0 = time.perf_counter()

    def close(self) -> dict:
        dt = time.perf_counter() - self._t0
        ext = (self._b._host_cpu_sec() - self._host0) - (self._b._tree_cpu_sec() - self._tree0)
        cores = max(ext, 0.0) / dt if dt > 0 else 0.0
        return {
            "external_cpu_cores": round(cores, 3),
            "noisy": cores > self._b.NOISY_EXTERNAL_CORES,
            "loadavg_before": self.load_before,
            "loadavg_after": self._b._loadavg(),
            "window_s": round(dt, 3),
        }


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_mb() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    return 0


def _java_version() -> str:
    try:
        r = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = (r.stderr or r.stdout).splitlines()
    return lines[0] if lines else "unknown"


def host_stamp(spark) -> dict:
    """What a reader needs before comparing two result files: results
    from different hosts or session sizes must not be compared silently."""
    return {
        "nproc": nproc(),
        "mem_total_mb": _mem_total_mb(),
        "kernel": platform.release(),
        "python": platform.python_version(),
        "java": _java_version(),
        "spark": spark.version,
        "spark_driver_memory": spark.conf.get("spark.driver.memory", "unset"),
        "spark_master": spark.sparkContext.master,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    tck = os.sysconf("SC_CLK_TCK")
    start = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[-1].split()[19]) / tck
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start


def stop_all(pids: set[int], grace_s: float = 30.0) -> None:
    """Wait for ``pids`` (a snapshot of this process's descendants, taken
    while they were still attached) to end; terminate, then kill, the ones
    that outlive ``grace_s``. Children orphaned by the JVM's exit are still
    waited for, because the snapshot holds them."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            _reap()
            pids = {p for p in pids if _alive(p)}
            if not pids:
                return
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[-1].split()[0]
    except (OSError, IndexError):
        return False
    return state != "Z"


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass
