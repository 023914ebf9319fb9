"""Peak resident memory of this process and everything it started.

A sampler thread sums the proportional set size (``Pss``: private pages
plus each shared page divided among the processes that map it) over the
process tree -- the Python driver, the Spark JVM, its Python workers and
the load generator -- every ``interval`` seconds and keeps the largest
sum, with its split by process name.  Proportional sizes keep the
Python workers Spark forks from one daemon from counting the pages they
share once per worker.  Linux ``/proc`` only.
"""

from __future__ import annotations

import os
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> tuple[str, int]:
    """The process's name and proportional set size in KiB (0 if it has
    exited)."""
    name, kb = "?", 0
    try:
        with open(f"/proc/{pid}/comm") as fh:
            name = fh.read().strip()
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return name, kb


def tree_pss_mb(root: int) -> dict[str, float]:
    """Per process name, the summed proportional set size in MB of the
    tree under ``root``."""
    kids = _children()
    out: dict[str, float] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        name, kb = _pss_kb(pid)
        out[name] = out.get(name, 0.0) + kb / 1024.0
        todo.extend(kids.get(pid, ()))
    return out


class PeakRss:
    """Context manager: samples the tree under this process every
    ``interval`` seconds; ``peak_mb`` holds the largest sum seen and
    ``split_mb`` that sample's split by process name."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.split_mb: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        split = tree_pss_mb(os.getpid())
        total = sum(split.values())
        if total > self.peak_mb:
            self.peak_mb, self.split_mb = total, split

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
