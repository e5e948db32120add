"""Memory of the program under test, from the JVM's management beans
and /proc (psutil is not required), and on-disk byte counts."""

from __future__ import annotations

import os
import threading
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def descendants(root: int) -> list[int]:
    """`root` and every process below it."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by forks of one process (the
    Python workers are forks of one daemon) count once over all of them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def python_workers(root: int) -> list[int]:
    """The descendants of the JVM `root` that run another program: its
    Python daemon and workers. A child that still runs the JVM's
    executable is a fork on its way to exec (the JVM forks for every
    local-file `chmod`), not a worker."""
    root_exe = _exe(root)
    return [pid for pid in descendants(root) if pid != root and _exe(pid) != root_exe]


class JvmHeap:
    """The JVM heap in use after garbage collection, read through the
    JVM's own management beans: what the program keeps alive, not the
    heap size the collector happened to grow to."""

    def __init__(self, jvm):
        mf = jvm.java.lang.management.ManagementFactory
        self.system = jvm.java.lang.System
        self.beans = list(mf.getGarbageCollectorMXBeans())
        self.pools = {
            p.getName() for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
        }
        self.counts = [b.getCollectionCount() for b in self.beans]

    def after_gc(self) -> int | None:
        """Heap in use after the latest collection of each collector that
        ran since the last call; None when none ran."""
        used = None
        for i, bean in enumerate(self.beans):
            n = bean.getCollectionCount()
            if n == self.counts[i]:
                continue
            self.counts[i] = n
            info = bean.getLastGcInfo()
            if info is None:
                continue
            after = info.getMemoryUsageAfterGc()
            b = sum(after[k].getUsed() for k in after.keySet() if k in self.pools)
            used = b if used is None else max(used, b)
        return used

    def collect(self) -> int:
        """Force a full collection and return the heap left in use."""
        self.after_gc()  # forget collections that ran before this one
        self.system.gc()
        return self.after_gc() or 0


class PeakMemory:
    """Peak memory of the program between `start()` and `stop()`,
    sampled on a thread:

    - `heap_b`: the JVM heap in use after garbage collection, highest
      over a forced collection at start, every collection during the
      call and a forced collection at the end; which collections run
      during a call varies from run to run, and so does this peak;
    - `heap_end_b`: the heap in use after the forced collection at the
      end: what the program still holds once the call returned;
    - `workers_b`: the summed PSS of the Python daemon and workers;
    - `jvm_rss_b`: the JVM's resident set (reported, not compared: it
      follows the heap size the collector grew to, not the live data).
    """

    def __init__(self, jvm, root: int, interval: float = 0.2):
        self.heap = JvmHeap(jvm)
        self.root = root
        self.interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        used = self.heap.after_gc()
        if used is not None:
            self.peak["heap_b"] = max(self.peak["heap_b"], used)
        workers = sum(_pss_bytes(pid) for pid in python_workers(self.root))
        self.peak["workers_b"] = max(self.peak["workers_b"], workers)
        self.peak["jvm_rss_b"] = max(self.peak["jvm_rss_b"], _rss_bytes(self.root))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        start = self.heap.collect()
        self.peak = {"heap_b": start, "heap_start_b": start, "workers_b": 0, "jvm_rss_b": 0}
        self._sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._sample()
        self.peak["heap_end_b"] = self.heap.collect()
        self.peak["heap_b"] = max(self.peak["heap_b"], self.peak["heap_end_b"])
        return dict(self.peak)


def dir_bytes(path: Path | str) -> int:
    """Bytes of every regular file under `path` (0 when absent)."""
    p = Path(path)
    if not p.exists():
        return 0
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
