"""Host fingerprint, load gate and peak-RSS sampling.

Records from hosts with different fingerprints are never compared
(layer_diff refuses them); the load before and after every run is
written into its record.
"""

from __future__ import annotations

import os
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def fingerprint() -> dict:
    """Cores available to this process, total RAM and CPU model."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    model = "unknown"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"cores": cores(), "ram_gb": round(mem_kb / 2**20, 1),
            "cpu_model": model}


def wait_for_idle(max_load: float, timeout_s: float) -> dict:
    """Block while the 1-minute load exceeds `max_load`, for at most
    `timeout_s`. Returns the gate outcome for the run record."""
    t0 = time.monotonic()
    start = load1()
    cur = start
    while cur > max_load and time.monotonic() - t0 < timeout_s:
        time.sleep(2.0)
        cur = load1()
    return {"load1_before": start, "load1_at_start": cur,
            "max_load": max_load, "waited_s": round(time.monotonic() - t0, 1),
            "passed": cur <= max_load}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> tuple[int, int]:
    """(resident set size of `root_pid`, summed RSS of its descendants)."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    root = rest = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        if pid == root_pid:
            root = rss
        else:
            rest += rss
    return root, rest


class PeakRss:
    """Background sampler of the RSS of a process tree (the driver JVM
    and the Python workers it forks): peak of the sum, and peaks of the
    root and of its descendants."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = self.peak_root = self.peak_children = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            root, rest = tree_rss_bytes(self.root_pid)
            self.peak = max(self.peak, root + rest)
            self.peak_root = max(self.peak_root, root)
            self.peak_children = max(self.peak_children, rest)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)
