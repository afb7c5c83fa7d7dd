"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark process and every descendant: the Spark driver
JVM and the Python workers it forks. CPU is utime+stime of the live tree
plus cutime+cstime (children already reaped), so work done by a worker
that exits mid-run is still counted once its parent reaps it.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:  # the process exited while we looked
        return None
    # fields after the parenthesised command name; index 0 is field 3 (state)
    return raw[raw.rfind(")") + 2 :].split()


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def parents() -> dict[int, int]:
    """pid → ppid for every visible process."""
    out = {}
    for pid in _pids():
        st = _stat(pid)
        if st is not None:
            out[pid] = int(st[1])
    return out


def tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def ancestors(pid: int) -> set[int]:
    par = parents()
    out = set()
    while pid in par and pid not in out:
        out.add(pid)
        pid = par[pid]
    return out


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot. Steal is time the
    hypervisor gave this machine's CPUs to other guests while they had work:
    a share of it during a run inflates wall times without any program
    change."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_seconds(root: int) -> float:
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return total / _CLK


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process exited while we looked
        pass
    return 0


def resident_bytes(root: int) -> int:
    """Summed proportional resident memory (PSS) of the root's descendants,
    the JVM and its Python workers. PSS splits pages shared between forked
    workers instead of counting them once per worker; the root is left out
    because it also holds the benchmark's own read-back buffers."""
    return sum(_pss(pid) for pid in tree(root)[1:])


class PeakResident:
    """Samples ``resident_bytes`` on a background thread while active."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, resident_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakResident":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, resident_bytes(self.root))
