"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the Python driver, the JVM it launched and the JVM's Python
workers.  CPU time sums user and system time of the live processes plus
the time of children they have already reaped, so a worker that exits
between two readings is still counted.  Memory is the tree's proportional
set size (PSS).
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a ``/proc`` stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are space separated
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state, ppid,
    process group, ...), or None once the process is gone."""
    stat = _read_stat(f"/proc/{pid}/stat")
    return stat[1] if stat else None


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root: int) -> int:
    """Proportional set size of the tree: resident pages, each page shared
    by k processes counted 1/k times.  Summing plain RSS would count the
    pages forked Python workers share with their parent once per worker."""
    total = 0
    for pid in tree_pids(root):
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):
            pass  # the process exited between listing and reading
    return total


class PeakMemory:
    """Samples the tree's resident memory on a thread while active and
    keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> PeakMemory:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_memory_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return
