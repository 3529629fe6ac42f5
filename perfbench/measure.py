"""Measurement helpers: order statistics, the failure tally, and the
process-tree memory sampler."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
import traceback

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float], min_beyond: int = 10):
    """Highest percentile in TAIL_PERCENTILES (nearest rank) that has at
    least ``min_beyond`` samples above it. Returns (percentile, value,
    samples beyond) or None when even the median has too few."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        idx = max(0, math.ceil(p / 100 * n) - 1)
        beyond = n - idx - 1
        if beyond >= min_beyond:
            return p, xs[idx], beyond
    return None


class Tally:
    """Counts attempted and failed operations; checks count as operations.
    A failed operation records its error and does not stop the run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, fn, *args, **kw):
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}")
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / max(1, self.attempted)


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return time.perf_counter() - t0, out


def _children() -> dict[int, list[int]]:
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


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out[1:]


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _kind(pid: int) -> str:
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        cmd = f.read().replace(b"\0", b" ")
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "python_workers"
    return "jvm" if b"java" in cmd.split(b" ")[0] else "other"


def tree_pss(pid: int) -> dict[str, int]:
    """Proportional set size (kB) of this process tree by process kind. PSS
    splits each shared page among the processes mapping it, so forked Python
    workers are not charged again for the pages they share with the daemon
    they were forked from (RSS would count those once per worker)."""
    out = {"driver": 0, "jvm": 0, "python_workers": 0, "other": 0}
    for p in [pid] + descendants(pid):
        try:
            out["driver" if p == pid else _kind(p)] += _pss_kb(p)
        except (OSError, ValueError):
            continue  # the process ended between listing and reading
    return out


class MemSampler:
    """Samples the PSS of this process and all its descendants (JVM and
    Python workers) on a background thread; ``peak`` is the largest sum
    (bytes) and ``peak_parts`` its split by process kind."""

    # one sample walks every process's page tables: ~33 ms of CPU with a
    # 1.6 GB JVM, so a short period would take CPU from the measured work
    def __init__(self, period_s: float = 1.0) -> None:
        self.period_s = period_s
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            parts = tree_pss(pid)
            total = sum(parts.values()) * 1024
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self._stop.wait(self.period_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
