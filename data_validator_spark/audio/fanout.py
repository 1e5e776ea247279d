"""Decode fan-out: one Arrow batch of a decode UDF spread over the
host's idle cores.

The per-row decode and analysis is GIL-bound (four threads on one
batch ran it only ~25% faster), so a second core on one batch needs a
second process. The plan-shape contract (the payload is never shuffled
and read once) rules out splitting a batch across Spark tasks, so a
batch forks its helpers inside its own task:

  - budget: the driver resolves it when it pickles the UDF: local[k]
    -> k (local -> 1, local[*] -> the cores), local-cluster[n,c,m] ->
    n*c (all its executors share the host), otherwise
    spark.executor.cores (unset: no fan-out), capped by the driver's
    os.sched_getaffinity. A UDF body that was never pickled (called
    directly, without Spark) never forks.
  - gate: every decode task on a host holds a shared fcntl lock on one
    gate file (per user, under the temp dir) from its first batch to
    its end, so no decode task runs unseen. A batch decodes its first
    HEAD_ROWS rows in-process, then tries to turn its lock exclusive;
    that succeeds only when no other decode task holds the gate, and a
    failed try leaves the shared lock in place (POSIX lock conversion
    is atomic). So only a lone task fans out: a job's one pending
    partition, or the last task of a stage; a stage with a task per
    core never oversubscribes. A task that starts while a batch holds
    the gate exclusively waits for that batch to end. The kernel drops
    a lock when its process dies, so a killed worker never blocks the
    host. fcntl locks belong to the process, so a process runs at most
    one decode iterator at a time (pyspark runs one per worker).
  - width: min(budget, rows left / MIN_SHARE) processes. Process j
    decodes rows head + j, head + j + width, ...; the parent scatters
    the shares back by row position, so the output equals the
    in-process loop's, row for row. The lock turns shared again when
    the batch ends.
  - helpers: die with their parent (PR_SET_PDEATHSIG), end with
    os._exit, so they never run exit handlers or flush the JVM socket
    buffer they inherit, and return their arrays pickled over a pipe.
    A helper that fails in any way (could not be forked, killed,
    raised, cut-off result, no result within the wait) costs only
    time: the parent decodes its rows in-process.
"""

from __future__ import annotations

import contextlib
import ctypes
import fcntl
import os
import pickle
import re
import select
import signal
import sys
import tempfile
import time
from typing import Callable

import numpy as np
import pandas as pd

HEAD_ROWS = 32
MIN_SHARE = 16
# a helper gets WAIT_FACTOR times the parent's own share time, at least
# WAIT_MIN_S, to return its result; then it is killed
WAIT_FACTOR = 4.0
WAIT_MIN_S = 10.0

# (decode_error, {field: values}) for the rows of one share
Result = tuple[np.ndarray, dict]
Decode = Callable[[pd.DataFrame], Result]

_PR_SET_PDEATHSIG = 1
_LINUX = sys.platform.startswith("linux")
_LOCAL: Host | None = None


def driver_budget() -> int | None:
    """Decode processes per host for the active SparkContext (see
    module docstring); None when there is no context or fewer than 2."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    master = sc.master
    if m := re.fullmatch(r"local(?:\[(\d+|\*)(?:,\s*\d+)?\])?", master):
        k = (os.cpu_count() or 1) if m[1] == "*" else int(m[1] or 1)
    elif m := re.fullmatch(r"local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*\d+\s*\]", master):
        k = int(m[1]) * int(m[2])
    else:
        k = int(sc.getConf().get("spark.executor.cores", "0"))
    k = min(k, len(os.sched_getaffinity(0)))
    return k if k > 1 else None


class Host:
    """The budget and gate file one decode UDF uses. Pickling resolves
    the budget on the driver, so every worker gets the driver's view."""

    def __init__(self, budget: int | None = None, gate: str | None = None):
        self.budget = budget
        self.gate = gate

    def __getstate__(self) -> dict:
        budget = self.budget if self.budget is not None else driver_budget()
        return {"budget": budget, "gate": self.gate}

    def resolved(self) -> Host:
        """The host a worker uses: its own, or the one `local_host`
        sets for a never-pickled UDF body."""
        if self.budget is None and _LOCAL is not None:
            return _LOCAL
        return self

    def gate_path(self) -> str:
        return self.gate or os.path.join(tempfile.gettempdir(), f"dvs-decode-gate-{os.getuid()}")


@contextlib.contextmanager
def local_host(budget: int, gate: str):
    """Give never-pickled UDF bodies in this process `budget` and the
    gate file `gate` (Spark-free tests; no public knob)."""
    global _LOCAL
    old, _LOCAL = _LOCAL, Host(budget, gate)
    try:
        yield
    finally:
        _LOCAL = old


class Task:
    """One UDF iterator's view: its shared hold on the gate, from the
    first batch to the end, and `run` to decode one batch."""

    def __init__(self, host: Host):
        self.host = host.resolved()
        self.fd: int | None = None

    def __enter__(self) -> Task:
        if (self.host.budget or 1) > 1 and _LINUX:
            fd = None
            try:
                fd = os.open(self.host.gate_path(), os.O_RDWR | os.O_CREAT, 0o666)
                fcntl.lockf(fd, fcntl.LOCK_SH)  # waits while a batch fans out
                self.fd = fd
            except OSError:  # no gate (read-only temp dir, no locks): no fan-out
                if fd is not None:
                    os.close(fd)
        return self

    def __exit__(self, *exc) -> None:
        if self.fd is not None:
            os.close(self.fd)

    def run(self, pdf: pd.DataFrame, decode: Decode) -> Result:
        n = len(pdf)
        width = min(self.host.budget or 1, (n - HEAD_ROWS) // MIN_SHARE)
        if self.fd is None or width < 2:
            return decode(pdf)
        parts = [(np.arange(HEAD_ROWS), decode(pdf.iloc[:HEAD_ROWS]))]
        try:
            fcntl.lockf(self.fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:  # another decode task holds the gate
            parts.append((np.arange(HEAD_ROWS, n), decode(pdf.iloc[HEAD_ROWS:])))
            return _merge(n, parts)
        try:
            parts += _fan_out(pdf, decode, width)
        finally:
            fcntl.lockf(self.fd, fcntl.LOCK_SH)
        return _merge(n, parts)


def _fan_out(pdf: pd.DataFrame, decode: Decode, width: int) -> list[tuple[np.ndarray, Result]]:
    """Decode rows [HEAD_ROWS, n) over the parent and width - 1 helpers."""
    shares = [HEAD_ROWS + np.arange(len(pdf) - HEAD_ROWS)[j::width] for j in range(width)]
    helpers: list[tuple[np.ndarray, tuple[int, int] | None]] = []
    try:
        for rows in shares[1:]:
            helpers.append((rows, _fork(pdf.iloc[rows], decode)))
        t0 = time.monotonic()
        parts = [(shares[0], decode(pdf.iloc[shares[0]]))]
        deadline = time.monotonic() + max(WAIT_MIN_S, WAIT_FACTOR * (time.monotonic() - t0))
        while helpers:
            rows, helper = helpers.pop(0)
            got = _collect(*helper, deadline) if helper else None
            parts.append((rows, got if got is not None else decode(pdf.iloc[rows])))
        return parts
    finally:
        for _, helper in helpers:  # only when the parent raised
            if helper:
                os.kill(helper[0], signal.SIGKILL)
                os.close(helper[1])
                _reap(helper[0])


def _fork(pdf: pd.DataFrame, decode: Decode) -> tuple[int, int] | None:
    """Fork a helper that decodes `pdf` and writes the pickled result
    to a pipe: (pid, read end), or None when no helper could start."""
    parent = os.getpid()
    try:
        r, w = os.pipe()
    except OSError:  # EMFILE/ENFILE
        return None
    try:
        pid = os.fork()
    except OSError:  # EAGAIN under a pids limit, ENOMEM
        os.close(r)
        os.close(w)
        return None
    if pid:
        os.close(w)
        return pid, r
    code = 1
    try:
        os.close(r)
        _libc.prctl(_PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0)
        if os.getppid() == parent:  # else the parent died before prctl
            data = pickle.dumps(decode(pdf), protocol=pickle.HIGHEST_PROTOCOL)
            with open(w, "wb") as f:
                f.write(data)
            code = 0
    finally:
        os._exit(code)


def _collect(pid: int, r: int, deadline: float) -> Result | None:
    """A helper's result, or None when it failed in any way or sent no
    end of file by `deadline` (time.monotonic); it is reaped either
    way."""
    poll = select.poll()
    poll.register(r, select.POLLIN)
    chunks: list[bytes] = []
    ok = False
    try:
        while True:
            left = deadline - time.monotonic()
            if left <= 0 or not poll.poll(left * 1000):
                os.kill(pid, signal.SIGKILL)  # hung: its rows go in-process
                break
            chunk = os.read(r, 1 << 20)
            if not chunk:
                ok = True
                break
            chunks.append(chunk)
    finally:
        os.close(r)
        ok = _reap(pid) and ok
    try:
        return pickle.loads(b"".join(chunks)) if ok else None
    except (EOFError, pickle.UnpicklingError):  # cut off, status lost
        return None


def _reap(pid: int) -> bool:
    """Wait for a helper; False unless it exited with code 0."""
    try:
        _, status = os.waitpid(pid, 0)
    except ChildProcessError:  # SIGCHLD ignored: reaped, status lost
        return True
    return os.waitstatus_to_exitcode(status) == 0


def _merge(n: int, parts: list[tuple[np.ndarray, Result]]) -> Result:
    """Scatter each share's arrays back to its row positions."""
    (_, (err0, cols0)), *rest = parts
    if not rest:
        return err0, cols0
    err = np.empty(n, dtype=err0.dtype)
    cols = {name: np.empty(n, dtype=v.dtype) for name, v in cols0.items()}
    for rows, (e, c) in parts:
        err[rows] = e
        for name, v in c.items():
            cols[name][rows] = v
    return err, cols


_libc = ctypes.CDLL(None, use_errno=True) if _LINUX else None
if _libc is not None:
    _libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    _libc.prctl.restype = ctypes.c_int
