"""Process-tree memory, host-noise probes and child clean-up, read from
``/proc`` (Linux)."""

from __future__ import annotations

import os
import signal
import threading
import time
from typing import Dict, List


def _ppid_map() -> Dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
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


def tree_rss_mb(root: int) -> float:
    return sum(_rss_kb(p) for p in [root] + descendants(root)) / 1024.0


class PeakRss:
    """Samples the RSS of this process and all its descendants (driver
    Python, JVM, Python workers) every ``interval`` seconds on a thread;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def triad_gbs(mb: int = 32, reps: int = 3) -> float:
    """Memory-bandwidth probe (STREAM-triad-like ``a = b + 0.5*c``), best
    GB/s of ``reps`` passes: the shared host's bandwidth varies in waves,
    so every run records it beside its numbers."""
    import numpy as np

    n = mb * 1024 * 1024 // 8
    b, c = np.ones(n), np.ones(n)
    a = b + 0.5 * c
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.add(b, 0.5 * c, out=a)
        best = min(best, time.perf_counter() - t0)
    return 3 * n * 8 / best / 1e9


def host_noise() -> dict:
    return {"triad_gbs": round(triad_gbs(), 3),
            "loadavg_1m": os.getloadavg()[0]}


def stop_descendants(grace: float = 5.0) -> List[int]:
    """Terminate every process this one started (the JVM and whatever it
    spawned): SIGTERM, then SIGKILL to what is left after ``grace``
    seconds. Reaps direct children and waits until all are gone. Returns
    the pids still alive 10 s after the SIGKILL."""
    me = os.getpid()
    procs = descendants(me)
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 10.0)):
        for pid in procs:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            for pid in procs:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            procs = [p for p in procs if _alive(p)]
            if not procs:
                return []
            time.sleep(0.05)
    return procs


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"
