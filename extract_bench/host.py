"""Host description for the run record: cores, load, CPU steal, a
speed normalizer, and the memory sampler behind ``peak_pss_mb``; and
the sweep that leaves no process of a run behind.

Nothing here imports ``ocr_spark``, so no change to the program can
move the normalizer.
"""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import threading
import time

import numpy as np


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), (fields[7] if len(fields) > 7 else 0)


class HostWindow:
    """Load and steal over the span of one run."""

    def __init__(self) -> None:
        self.loadavg_start = os.getloadavg()
        self._cpu_start = _cpu_times()

    def record(self) -> dict:
        total, steal = _cpu_times()
        d_total = total - self._cpu_start[0]
        return {
            "nproc": os.cpu_count(),
            "loadavg_start": [round(x, 2) for x in self.loadavg_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_frac": round((steal - self._cpu_start[1]) / d_total, 4) if d_total else 0.0,
        }


def speed_normalizer(reps: int = 7) -> dict:
    """Single-threaded host speed from a fixed mix of the two kinds of
    work the kernel does: small float64 matmuls (BLAS) and an
    interpreter-bound loop. Reported as work units per second, median
    and best of ``reps``; divide a throughput by it to compare hosts."""
    rng = np.random.default_rng(0)
    a = rng.normal(size=(96, 96))
    rates = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for _ in range(400):
            b = a @ a
        acc = 0
        for i in range(200_000):
            acc += i % 7
        rates.append(1.0 / (time.perf_counter() - t0))
    del b, acc
    return {"units_per_s": round(statistics.median(rates), 3), "best_units_per_s": round(max(rates), 3), "reps": reps}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(kids: dict[int, list[int]]) -> list[int]:
    todo, found = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, []))
    return found


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts, so
    that one whose parent died first (the Python daemon of a JVM that
    was killed, say) stays below it and is found by
    ``reap_descendants``. Linux only; elsewhere a no-op."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_descendants(timeout: float = 30.0) -> int:
    """Kill every process still below this one and wait until each
    has ended. The run stops the JVM and the reference workers in order
    before this, so normally nothing is left; returns how many were."""
    deadline = time.monotonic() + timeout
    killed: set[int] = set()
    while True:
        found = _descendants(_children_map())
        for pid in found:
            if _running(pid):
                killed.add(pid)
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if not found or time.monotonic() > deadline:
            return len(killed)
        time.sleep(0.05)


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_pss_mb() -> float:
    """Summed PSS of every process below this one: the Spark JVM and
    the Python workers it forks."""
    return sum(_pss_kb(pid) for pid in _descendants(_children_map())) / 1024.0


class PeakMemory:
    """Samples ``descendants_pss_mb`` on a thread while active."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_pss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakMemory:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, descendants_pss_mb())
