"""CPU time and resident memory of a process tree, read from /proc.

The Spark process tree is the Spark JVM plus every process it forks
(the PySpark daemon and its Python workers).  CPU time includes the
``cutime``/``cstime`` of reaped children, so a Python worker that exits
between two readings still counts once it has been reaped by its parent.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
# seconds between two samples of PeakPss
_SAMPLE_S = 0.2


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone.  Index 0 is field 3 (state) of proc(5)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw.rsplit(")", 1)[1].split()


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def pss_bytes(root: int) -> int:
    """Resident memory of the tree with each shared page split among the
    processes that map it (``Pss``): forked Python workers share most of
    their pages with the daemon, so summing plain RSS counts them again
    for every worker."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # the process ended
    return total


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs wanted to run, summed over all CPUs (``steal`` in /proc/stat);
    0 outside a virtual machine."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class PeakPss:
    """Samples the tree's summed PSS (``pss_bytes``) on a background
    thread; ``peak`` is the largest total seen between ``start()`` and
    ``stop()``."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, pss_bytes(self.root))
            if self._stop.wait(_SAMPLE_S):
                return

    def start(self) -> "PeakPss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, pss_bytes(self.root))
        return self.peak
