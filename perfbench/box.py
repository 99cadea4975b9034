"""The box a result was measured on: cores, memory, CPU model, a read-only
memory-bandwidth probe, CPU steal over the run, and the peak resident
memory of this process's children (the JVM and its Python workers)."""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def membw_gbs(mb: int = 64, reps: int = 5) -> float:
    """Read-only bandwidth: median GB/s of summing an `mb`-MiB array."""
    a = np.ones(mb * (1 << 20) // 8, dtype=np.int64)
    a.sum()
    rates = []
    for _ in range(reps):
        t = time.perf_counter()
        a.sum()
        rates.append(a.nbytes / (time.perf_counter() - t) / 1e9)
    return float(np.median(rates))


def box_record() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(_meminfo_mb("MemTotal")),
        "cpu_model": _cpu_model(),
        "membw_gbs": round(membw_gbs(), 2),
    }


def _proc_tree() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent pid -> child pids, pid -> RSS in KiB) over /proc."""
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                ppid = vm = 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        vm = int(line.split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
        rss[int(name)] = vm
    return kids, rss


def descendants(root_pid: int, tree=None) -> list[int]:
    kids, _ = tree or _proc_tree()
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _children_rss_mb(root_pid: int) -> float:
    tree = _proc_tree()
    return sum(tree[1].get(p, 0) for p in descendants(root_pid, tree)) / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout: float = 15.0) -> None:
    """Wait for every pid to exit; SIGTERM, then SIGKILL, what outlives
    the timeout."""
    import signal

    for sig, wait in ((None, timeout), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for pid in pids if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.1)


class RssSampler:
    """Samples the summed RSS of every descendant of this process on a
    daemon thread; `peak_mb` is the highest sum seen."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _children_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
