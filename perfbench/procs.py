"""Process-tree accounting from /proc: peak resident memory of the
benchmark's own process tree (driver, JVM, Python workers, serving
replica), counted as PSS so pages the forked Python workers share are
not counted once per worker, and CPU time of the Python worker
processes Spark forks under the JVM."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, int, int] | None:
    """(ppid, comm, own cpu ticks, reaped-children cpu ticks)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return int(rest[1]), comm, int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])


def snapshot() -> dict[int, tuple[int, str, int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(snap: dict, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, st in snap.items():
        kids.setdefault(st[0], []).append(pid)
    seen, todo = {root}, [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            if c not in seen:
                seen.add(c)
                todo.append(c)
    return seen


def group_members(pgid: int) -> list[int]:
    """Live processes in process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    raw = f.read().decode("ascii", "replace")
            except OSError:
                continue
            rest = raw[raw.rindex(")") + 2 :].split()
            if int(rest[2]) == pgid and rest[0] != "Z":
                out.append(int(name))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones divided among
    the processes sharing them (forked Python workers share most of
    their pages with the worker daemon). 0 for a process that exited
    since the snapshot."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root: int | None = None) -> int:
    """Memory of this process tree: the sum of each process's PSS."""
    snap = snapshot()
    return sum(_pss_bytes(p) for p in descendants(snap, root or os.getpid()))


def python_worker_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the Python processes below the JVM
    (the worker daemon and its forks). A live process contributes its
    own time plus that of children it has reaped; an exited, reaped
    worker is then counted once, in its parent."""
    snap = snapshot()
    tree = descendants(snap, root or os.getpid())
    jvms = [p for p in tree if snap.get(p, (0, ""))[1] == "java"]
    ticks = 0
    for jvm in jvms:
        for p in descendants(snap, jvm) - {jvm}:
            st = snap.get(p)
            if st is not None and st[1].startswith("python"):
                ticks += st[2] + st[3]
    return ticks / _TICK


class PeakRss:
    """Samples the memory of this process's tree in a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.window = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while True:
            rss = tree_rss_bytes()
            self.peak, self.window = max(self.peak, rss), max(self.window, rss)
            if self._stop.wait(self.interval_s):
                return

    def mark(self) -> int:
        """Peak since the previous mark (or start), then start a new window."""
        peak, self.window = max(self.window, tree_rss_bytes()), 0
        return peak

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak
