"""CPU and peak-RSS sampler for a process tree, read from ``/proc``.

The tree is the benchmark process and every descendant: the Spark driver
JVM that PySpark launches, the ``pyspark.daemon`` it forks and the Python
workers forked from that. A background thread samples the tree every
``interval`` seconds. A region (``begin`` ... ``end``) reports

- ``cpu_s``: user plus system CPU that the tree's processes spent inside
  the region. A process alive at ``begin`` counts from its value then; a
  process born inside the region counts in full. A process that exits
  between two samples loses at most one interval of CPU.
- ``peak_rss_mb``: the largest summed resident set seen in any sample.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, utime+stime ticks, rss pages) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces or ")" — fields resume after the last ")"
    fields = raw[raw.rfind(")") + 2 :].split()
    return int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[21])


def tree_snapshot(root: int) -> dict[int, tuple[int, int]]:
    """{pid: (cpu ticks, rss pages)} for ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Background sampler; use ``begin()``/``end()`` around a region."""

    def __init__(self, root: int | None = None, interval: float = 0.1) -> None:
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._base: dict[int, int] = {}
        self._last: dict[int, int] = {}
        self._peak_pages = 0

    def _sample(self) -> None:
        snap = tree_snapshot(self.root)
        with self._lock:
            for pid, (ticks, _) in snap.items():
                self._last[pid] = ticks
            self._peak_pages = max(self._peak_pages, sum(r for _, r in snap.values()))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def begin(self) -> None:
        snap = tree_snapshot(self.root)
        with self._lock:
            self._base = {pid: ticks for pid, (ticks, _) in snap.items()}
            self._last = dict(self._base)
            self._peak_pages = sum(r for _, r in snap.values())

    def cpu(self) -> float:
        """CPU seconds the tree has spent since ``begin()``, sampled now."""
        self._sample()
        with self._lock:
            ticks = sum(t - self._base.get(pid, 0) for pid, t in self._last.items())
        return ticks / _TICK

    def end(self) -> tuple[float, float]:
        """(cpu_s, peak_rss_mb) of the region since ``begin()``."""
        cpu_s = self.cpu()
        with self._lock:
            return cpu_s, self._peak_pages * _PAGE / 2**20
