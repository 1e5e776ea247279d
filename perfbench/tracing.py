"""Spans around calls into the engine, and Spark counters per span.

A span is (id, name, op, parent, start, end). Spans stay in memory and
are written out when the run ends. Each span also records how many
bytes the Spark JVM read while it was open (/proc rchar: parquet
files and shuffle files, page cache included), because Spark's own
input metric misses bytes read by the thread that feeds a pandas UDF. When tracing is on, every span also
tags the Spark jobs started inside it with `setJobGroup(<span id>)`,
and the Spark event log (turned on only in traced runs) is parsed
afterwards so task counters (CPU, GC, spill, shuffle, input bytes,
task and failure counts) attach to the innermost span that ran them.

With tracing off, `span()` is a no-op context manager: untraced runs
pay nothing for it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

import procmon

COUNTERS = ("executor_cpu_s", "gc_s", "spill_mb", "shuffle_write_mb", "input_mb", "tasks", "failed_tasks")


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jvm_read_mb: float = 0.0  # inclusive of child spans
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = -1  # op id stamped on new spans; -1 = outside any op
        self._stack: list[Span] = []
        self._sc = None
        self._jvm = None

    def bind(self, spark) -> None:
        """Tag jobs of `spark` from now on (None: a session is being
        built and there is nothing to tag yet)."""
        self._sc = spark.sparkContext if self.enabled and spark is not None else None
        self._jvm = procmon.jvm_pid() if self._sc is not None else None

    def _jvm_read(self) -> int:
        return procmon.read_bytes(self._jvm) if self._jvm else 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, self.op, parent.id if parent else None, time.monotonic())
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp)
        read0 = self._jvm_read()
        try:
            yield
        finally:
            sp.jvm_read_mb = (self._jvm_read() - read0) / (1 << 20)
            sp.end = time.monotonic()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"span-{sp.id}", f"{sp.name} op={sp.op}")

    def wrap(self, name: str, fn):
        """`fn` with every call recorded as span `name`."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # ---------------------------------------------------------- read-out

    def durations(self, name: str, ops: set[int] | None = None) -> list[float]:
        return [s.dur for s in self.spans if s.name == name and (ops is None or s.op in ops)]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it covered by direct children
        (children run one after another on the one calling thread)."""
        return sp.dur - sum(c.dur for c in self.spans if c.parent == sp.id)

    def subtree_counters(self, sp: Span) -> dict:
        tot = dict(sp.counters)
        for c in self.spans:
            if c.parent == sp.id:
                for k, v in self.subtree_counters(c).items():
                    tot[k] += v
        return tot

    def attach_event_log(self, log_dir: str) -> None:
        """Fold task counters from every event log under `log_dir` into
        the spans whose group ran them."""
        by_id = {f"span-{s.id}": s for s in self.spans}
        stage_group: dict[int, str] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        for sid in ev.get("Stage IDs", ()):
                            stage_group.setdefault(sid, group)
                    elif kind == "SparkListenerTaskEnd":
                        sp = by_id.get(stage_group.get(ev.get("Stage ID")))
                        if sp is not None:
                            for k, v in _task_counters(ev).items():
                                sp.counters[k] += v

    def tree_lines(self, op: int) -> list[str]:
        """Indented span tree of one op: total and self seconds, plus
        the Spark counters of each span's subtree."""
        out: list[str] = []

        def walk(sp: Span, depth: int) -> None:
            c = self.subtree_counters(sp)
            out.append(
                f"{'  ' * depth}{sp.name}: {sp.dur:.3f}s self {self.self_time(sp):.3f}s"
                f" tasks {int(c['tasks'])} cpu {c['executor_cpu_s']:.2f}s gc {c['gc_s']:.2f}s"
                f" in {c['input_mb']:.1f}MB jvm-read {sp.jvm_read_mb:.1f}MB"
                f" shuffle {c['shuffle_write_mb']:.1f}MB"
            )
            for ch in self.spans:
                if ch.parent == sp.id:
                    walk(ch, depth + 1)

        for sp in self.spans:
            if sp.parent is None and sp.op == op:
                walk(sp, 0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "op": s.op,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        "self_s": self.self_time(s),
                        "jvm_read_mb": s.jvm_read_mb,
                        "counters": s.counters,
                    }
                    for s in self.spans
                ],
                f,
                indent=1,
            )


def _task_counters(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    mb = 1 << 20
    return {
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb,
        "shuffle_write_mb": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / mb,
        "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / mb,
        "tasks": 1.0,
        "failed_tasks": 1.0 if info.get("Failed") else 0.0,
    }
