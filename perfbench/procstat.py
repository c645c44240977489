"""CPU seconds and resident memory of the Spark driver JVM and every
process below it (the Python daemon and its workers), read from /proc.

Memory is the proportional set size (Pss): Python workers are forked from
one daemon and share its pages copy-on-write, so summing their plain RSS
would count those pages once per worker and jump with the worker count."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> dict[int, list[str]]:
    """stat fields of `root` and all its descendants, by pid."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """utime + stime of the tree, plus that of its reaped children."""
    # stat fields 14-17 (utime, stime, cutime, cstime) sit at 11-14 here
    return sum(sum(int(v) for v in st[11:15]) for st in _tree(root).values()) / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def pss_mb(root: int) -> float:
    return sum(_pss_kb(pid) for pid in _tree(root)) / 1024


class PeakRss:
    """Samples the tree's summed Pss on a thread until stopped."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s = root, interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, pss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
