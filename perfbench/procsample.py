"""Process-tree sampler over /proc (Linux).

Polls the JVM's process tree on a background thread and keeps, per
pid, the last-seen CPU ticks and VmHWM (peak RSS). Python workers are
the descendants of the ``pyspark.daemon`` process.
"""
from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
PERIOD_S = 0.2


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime ticks) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(rest[1]), int(rest[11]) + int(rest[12])


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_daemon(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class TreeSampler:
    """Samples the tree under ``root_pid`` every ``PERIOD_S`` seconds
    until ``stop()``; ``workers`` holds every Python-worker pid seen."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.ticks: dict[int, int] = {}
        self.hwm_kb: dict[int, int] = {}
        self.workers: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def _sample(self) -> None:
        parent = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    parent[int(name)] = s[0]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        stack = [(self.root_pid, False)]
        while stack:
            pid, under_daemon = stack.pop()
            s = _stat(pid)
            if s is None:
                continue
            self.ticks[pid] = s[1]
            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), _hwm_kb(pid))
            if under_daemon:
                self.workers.add(pid)
            below = under_daemon or _is_daemon(pid)
            stack.extend((c, below) for c in children.get(pid, ()))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(PERIOD_S)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def cpu_s(self) -> float:
        return sum(self.ticks.values()) / _TICK

    def worker_peak_mb(self) -> float:
        return max((self.hwm_kb.get(p, 0) for p in self.workers),
                   default=0) / 1024

    def root_peak_mb(self) -> float:
        return self.hwm_kb.get(self.root_pid, 0) / 1024
