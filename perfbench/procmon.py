"""Process-tree CPU and resident memory from /proc.

The tree is this process and every descendant: the Spark JVM it
launches, the Python worker daemon the JVM forks and that daemon's
workers. CPU is utime + stime + cutime + cstime summed over the live
tree, so a worker that exits still counts once its parent reaps it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None, live: bool = False) -> list[int]:
    """`root` (default: this process) and its descendants; with
    live=True, exited processes not yet reaped are left out."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and not (live and st[0] == "Z"):
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def jvm_pid() -> int | None:
    """The Java process among this process's descendants, if any."""
    for pid in tree_pids(live=True):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            pass
    return None


def read_bytes(pid: int) -> int:
    """Bytes `pid` has read through read(2)-family calls (rchar):
    files, page cache included, and sockets."""
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


def host_cpu_ticks() -> tuple[int, int]:
    """(all CPU ticks, steal ticks) of the host since boot, from
    /proc/stat: steal is time the hypervisor ran someone else."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return sum(fields), fields[7]


def tree_cpu_s(root: int | None = None) -> float:
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat, counted from 1
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> dict[int, tuple[str, float]]:
    """pid -> (command name, RSS in MiB) over the live tree."""
    out = {}
    for pid in tree_pids(root, live=True):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1])
            with open(f"/proc/{pid}/comm") as f:
                out[pid] = (f.read().strip(), rss * _PAGE / (1 << 20))
        except (OSError, IndexError, ValueError):
            continue
    return out


class PeakRss:
    """Samples the tree's summed RSS on a daemon thread until exit:
    the peak of the whole tree and of its non-Java (Python) part."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = self.peak_python_mb = 0.0
        self.peak_python_procs: dict[int, tuple[str, float]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            procs = tree_rss_mb()
            python = {p: v for p, v in procs.items() if v[0] != "java"}
            self.peak_mb = max(self.peak_mb, sum(v[1] for v in procs.values()))
            py_mb = sum(v[1] for v in python.values())
            if py_mb > self.peak_python_mb:
                self.peak_python_mb, self.peak_python_procs = py_mb, python
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
