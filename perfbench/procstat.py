"""CPU and memory of a process tree, read from /proc.

The benchmark's process starts the Spark JVM, and the JVM forks the PySpark
daemon whose forks run the Python UDF workers. Executor CPU time in Spark's
task metrics covers only JVM threads, so the Python side is read here.

CPU of a tree = sum over live members of utime+stime+cutime+cstime: a worker
that exited and was reaped by a live parent is still counted, in the parent's
cutime/cstime. Memory of a tree = sum of member PSS (proportional set size),
so pages that forked Python workers share with their daemon count once; a JVM
counts its RSS instead, because its pages are its own and reading a
multi-GB JVM's PSS walks every page (~50 ms of CPU per reading on a 5 GB
heap, which a 10 Hz sampler would add to the CPU it measures).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, str, float, int, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children, rss bytes, cpu seconds
    of reaped children alone) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode(errors="replace")
    except OSError:
        return None
    lpar, rpar = raw.find("("), raw.rfind(")")
    comm = raw[lpar + 1 : rpar]
    f = raw[rpar + 2 :].split()
    # fields after comm start at index 3 of the man-page numbering
    ppid = int(f[1])
    children = (int(f[13]) + int(f[14])) / _TICK
    cpu = (int(f[11]) + int(f[12])) / _TICK + children
    rss = int(f[21]) * _PAGE
    return ppid, comm, cpu, rss, children


def _table() -> dict[int, tuple[int, str, float, int, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def _subtree(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int | None = None) -> float:
    """CPU seconds of the tree rooted at ``root`` (default: self)."""
    table = _table()
    return sum(table[p][2] for p in _subtree(table, root or os.getpid()))


def python_worker_cpu(root: int | None = None) -> float:
    """CPU seconds of the PySpark daemons and their workers: every Python
    process the Spark JVM under ``root`` (default: self) started, with its
    subtree, plus the JVM's reaped children (daemons that already exited)."""
    table = _table()
    tree = _subtree(table, root or os.getpid())
    jvms = {p for p in tree if table[p][1] == "java"}
    daemons = [p for p in tree if table[p][0] in jvms and table[p][1].startswith("python")]
    live = sum(table[p][2] for d in daemons for p in _subtree(table, d))
    return live + sum(table[j][4] for j in jvms)


def _pss(pid: int, rss: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def tree_pss(root: int | None = None) -> int:
    """Bytes of memory held by the tree rooted at ``root`` (default: self)."""
    table = _table()

    def held(pid: int) -> int:
        ppid, comm, _cpu, rss, _children = table[pid]
        if comm != "java":
            return _pss(pid, rss)
        # a "java" child of a JVM is its vfork child before exec: same pages
        return 0 if table.get(ppid, (0, ""))[1] == "java" else rss

    return sum(held(p) for p in _subtree(table, root or os.getpid()))


class PssSampler:
    """Background thread tracking the peak tree PSS between start and stop.

    The peak is the highest value held over two consecutive readings
    ``interval_s`` apart. While the JVM spawns a process, its vfork child
    shares the JVM's address space until it execs, and a reading taken in
    that instant counts the heap twice; such a reading never lasts two."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._last = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _read(self) -> None:
        now = tree_pss()
        self.peak = max(self.peak, min(now, self._last))
        self._last = now

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._read()

    def start(self) -> "PssSampler":
        self._last = tree_pss()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._read()
        return self.peak


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, tick resolution)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rfind(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK
