"""CPU and resident memory of this process and all its descendants
(the Spark JVM and its Python workers), read from ``/proc``."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PF_FORKNOEXEC = 0x40


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat``: index 0 is the command name,
    index i >= 1 holds field i + 2 of proc(5)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process exited while we walked the table
        return None
    # the parenthesised command name may hold spaces
    return [data[data.index("(") + 1:data.rindex(")")]] + data[data.rindex(")") + 2:].split()


def tree(root: int | None = None) -> dict[int, list[str]]:
    """``root`` (default: this process) and every descendant, each with
    its stat fields."""
    root = os.getpid() if root is None else root
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[2]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def cpu_seconds() -> float:
    """User+system CPU of the tree, including reaped children."""
    # utime, stime, cutime, cstime: fields 14-17
    return sum(int(v) for st in tree().values() for v in st[12:16]) / _TICK


def rss_bytes() -> int:
    """Summed RSS of the tree. A child of the JVM that has not exec'd yet
    is skipped: the JVM forks only to exec a helper, and until then the
    child's pages are the JVM's own."""
    procs = tree()
    total = 0
    for st in procs.values():
        parent = procs.get(int(st[2]))
        # flags: field 9
        if parent is not None and parent[0] == "java" and int(st[7]) & _PF_FORKNOEXEC:
            continue
        # rss: field 24
        total += int(st[22]) * _PAGE
    return total


def process_start_epoch() -> float:
    """Wall-clock time this process started, from its ``/proc`` stat."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    # starttime: field 22
    return btime + int(_stat(os.getpid())[20]) / _TICK


class RssPeak:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    daemon thread; ``peak`` is the largest sample taken while armed."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak = 0
        self.armed = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if self.armed:
                self.peak = max(self.peak, rss_bytes())

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
