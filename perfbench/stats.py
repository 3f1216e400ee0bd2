"""Metric arithmetic and host readers for the benchmark.

Percentiles and the tail choice, inode-based file accounting for store
directories, host CPU steal/iowait from ``/proc/stat`` and the CPU time and
resident memory of a process tree from ``/proc``.
"""

from __future__ import annotations

import math
import os
import threading
from collections.abc import Sequence

#: percentiles a tail may be reported at, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ten of ``n`` samples
    beyond it. Below 20 samples no percentile qualifies and the median
    (50) is returned: it is the only robust figure such a sample has."""
    best = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            best = p
    return best


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


# -- files ------------------------------------------------------------------


def inodes(root: str) -> dict[str, tuple[int, int]]:
    """``{path: (inode, size)}`` for every regular file under ``root``."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_size)
    return out


def is_data_file(path: str) -> bool:
    return path.endswith((".parquet", ".h5"))


def file_delta(
    before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]
) -> tuple[int, int, int]:
    """``(files_new, files_reused, bytes_new)`` of the data files in
    ``after`` relative to ``before``. A file is new when its inode was not
    present before; every other data file in ``after`` (a hardlink to an
    inode that existed before) is reused. Each new inode counts once, however
    many names link to it."""
    old = {ino for p, (ino, _) in before.items() if is_data_file(p)}
    new: dict[int, int] = {}
    reused = 0
    for p, (ino, size) in after.items():
        if not is_data_file(p):
            continue
        if ino in old:
            reused += 1
        else:
            new[ino] = size
    return len(new), reused, sum(new.values())


def disk_bytes(root: str) -> int:
    """Bytes on disk under ``root``, counting each inode once."""
    return sum(dict(inodes(root).values()).values())


# -- host -------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """Aggregate ``(steal, iowait)`` ticks from ``/proc/stat``."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]), int(parts[5])


def ticks_to_s(ticks: int) -> float:
    return ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks_of(pid: int) -> int:
    """utime + stime of ``pid`` and of its waited-for dead children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def _tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_now() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    Spark JVM and its Python workers), the dead ones included once their
    parent has waited for them. Time the hypervisor steals from this machine
    is not counted, so the figure follows the work done more closely than
    wall time does."""
    return ticks_to_s(sum(_cpu_ticks_of(pid) for pid in _tree(os.getpid())))


def tree_rss_mb(root: int) -> float:
    """Resident memory of process ``root`` and all its descendants, MB."""
    return sum(_rss_kb(pid) for pid in _tree(root)) / 1024.0


class RssSampler:
    """Samples :func:`tree_rss_mb` of one process tree on a daemon thread and
    keeps the peak. ``stop`` joins the thread."""

    def __init__(self, root: int, period_s: float = 0.5) -> None:
        self.root, self.period_s, self.peak_mb = root, period_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            if self._stop.wait(self.period_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb
