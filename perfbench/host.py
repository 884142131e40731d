"""Host facts around a set of runs: contention guard and memory sampler.

Both read ``/proc`` only, so they cost the engine nothing and need no
cooperation from it.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")

# More than this share of the CPUs busy just before a set of runs
# means something else was running when it started. (The load average
# still carries the previous run of the benchmark itself, so it is
# recorded but not used as the flag.)
BUSY_CPU_SHARE = 0.25


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def calibration_ms() -> float:
    """Best of 3 timings of a fixed pure-Python loop: a CPU probe that
    reads slower when another process shares the core."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    return sum(vals) - idle, sum(vals)


def cpu_busy_share(window_s: float = 0.25) -> float:
    """Share of all CPUs of the machine busy over the next ``window_s``."""
    b0, t0 = _cpu_times()
    time.sleep(window_s)
    b1, t1 = _cpu_times()
    return (b1 - b0) / (t1 - t0) if t1 > t0 else 0.0


def snapshot() -> dict:
    """nproc, 1/5-minute load average, CPU busy share and the CPU probe."""
    load1, load5, _ = os.getloadavg()
    return {"nproc": nproc(), "load1": round(load1, 2), "load5": round(load5, 2),
            "cpu_busy": round(cpu_busy_share(), 3),
            "calibration_ms": round(calibration_ms(), 3)}


def contention_flags(before: dict, after: dict) -> list[str]:
    """Reasons to distrust a set of runs: a busy box at the start, or a CPU
    probe that slowed by more than half across the set."""
    flags = []
    if before["cpu_busy"] > BUSY_CPU_SHARE:
        flags.append(f"busy_at_start:cpu_busy={before['cpu_busy']}")
    if after["calibration_ms"] > 1.5 * before["calibration_ms"]:
        flags.append("cpu_probe_slowed:"
                     f"{before['calibration_ms']}->{after['calibration_ms']}ms")
    return flags


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name may hold spaces: the ppid follows its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def pss_bytes(pids: list[int]) -> int:
    """Proportional set size: pages shared between processes (a forked
    worker and its parent) are split between them instead of counted in
    full by each."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the resident memory of every process this benchmark started
    from one thread: RSS of the driver JVM plus PSS of the processes under
    it (the Python daemon, its forked workers, and short-lived helpers the
    JVM forks, which share most of their pages with their parent).

    ``start()`` resets the peak; ``stop()`` returns it in bytes."""

    def __init__(self, interval_s: float = 0.05):
        self._interval = interval_s
        self._peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        n = 0
        while not self._stop.is_set():
            if n % 10 == 0:  # the process tree changes far slower than RSS
                pids = descendants(me)
                jvm = [p for p in pids if _comm(p) == "java"]
                rest = [p for p in pids if p not in jvm]
            self._peak = max(self._peak, rss_bytes(jvm) + pss_bytes(rest))
            n += 1
            self._stop.wait(self._interval)

    def start(self) -> None:
        self._peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        if self._thread.is_alive():
            raise RuntimeError("memory sampler did not stop")
        self._thread = None
        return self._peak
