"""Host-side measurement: noise probes, /proc RSS polling, process
trees.  Everything here reads /proc from outside the program."""

from __future__ import annotations

import gc
import multiprocessing as mp
import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _spin_worker(seconds: float, q) -> None:
    end = time.perf_counter() + seconds
    x = n = 0
    while time.perf_counter() < end:
        for _ in range(10000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        n += 10000
    q.put(n)


def _spin(workers: int, seconds: float) -> int:
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    ps = [ctx.Process(target=_spin_worker, args=(seconds, q))
          for _ in range(workers)]
    for p in ps:
        p.start()
    total = sum(q.get(timeout=60) for _ in ps)  # drain before join
    for p in ps:
        p.join(timeout=30)
    return total


def stop_resource_tracker() -> None:
    """Stop multiprocessing's resource tracker and wait until it exits.
    The first spawn-context process or queue starts it; left alone it
    ends only after this process has, on EOF of its pipe, so it would
    outlive the benchmark.  Semaphores still awaiting collection are
    collected first: their finalizers would start it again."""
    from multiprocessing import resource_tracker

    gc.collect()
    resource_tracker._resource_tracker._stop()


def noise_probe(cpus: int, seconds: float = 0.25) -> dict:
    """loadavg and the available-core ratio: spin(cpus) / (cpus *
    spin(1)) is ~1.0 on an idle box and drops when co-tenants burn
    cores.  One spin(1) always gets a whole core, so the ratio needs
    no calibration constant."""
    one = _spin(1, seconds)
    many = _spin(cpus, seconds)
    return {
        "loadavg_1m": os.getloadavg()[0],
        "avail_core_ratio": many / (cpus * one) if one else 0.0,
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat; the steal
    share between two readings is the CPU time the hypervisor gave to
    other tenants."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def physical_mem_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * _PAGE


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: fields resume after the last ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    """pid and every live process below it."""
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssPoller:
    """Samples the summed RSS of a process tree (the driver JVM plus
    its Python workers) on a background thread; ``peak`` is the
    largest sum seen between ``start`` and ``stop``."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._pids: list[int] = []
        self._refreshed = 0.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            now = time.monotonic()
            if now - self._refreshed > 0.5:  # the tree changes rarely
                self._pids = descendants(self.root_pid)
                self._refreshed = now
            self.peak = max(self.peak, rss_bytes(self._pids))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak


def wait_gone(pids: list[int], timeout: float = 30.0) -> list[int]:
    """Wait for processes to exit; returns those still alive."""
    end = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < end:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"
