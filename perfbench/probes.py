"""Spans and counters read from outside the engine.

Everything here observes the engine through public handles: wall clocks
around calls into the engine's modules, Spark's status store (per-stage
task time, tasks, shuffle, spill, GC), ``/proc`` for the JVM's CPU time and
peak RSS and for the host's steal time.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span log. Spans of one pass share the pass span as parent."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.perf_counter(), parent))

    def last(self, name: str) -> float:
        """Duration of the most recent span with this name."""
        for s in reversed(self.spans):
            if s.name == name:
                return s.duration
        raise KeyError(name)

    def as_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


@dataclass
class StageTotals:
    task_s: float = 0.0
    tasks: int = 0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0


class StageReader:
    """Sums the stages that completed since the previous read.

    Stage ids grow monotonically and the store lists stages newest first,
    so a read walks only the stages it has not seen. The listener bus is
    drained first: the store is updated asynchronously after a job ends.
    """

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._jlist = spark._jvm.java.util.ArrayList
        self._quantiles = getattr(self._store, "stageList$default$4")()
        self._seen = -1
        self.read()

    def read(self) -> StageTotals:
        self._bus.waitUntilEmpty()
        stages = self._store.stageList(
            self._jlist(), False, False, self._quantiles, self._jlist()
        ).iterator()
        out = StageTotals()
        newest = self._seen
        while stages.hasNext():
            s = stages.next()
            sid = s.stageId()
            if sid <= self._seen:
                break
            newest = max(newest, sid)
            if s.status().toString() != "COMPLETE":
                continue
            out.task_s += s.executorRunTime() / 1000.0
            out.tasks += s.numTasks()
            out.shuffle_write_mb += s.shuffleWriteBytes() / MB
            out.spill_mb += s.diskBytesSpilled() / MB
            out.gc_s += s.jvmGcTime() / 1000.0
        self._seen = newest
        return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_steal_s() -> float:
    """Steal time summed over all host CPUs, in CPU-seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def snapshot_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every parquet data file under root.
    Checksum sidecars, _SUCCESS markers and commit logs are left out."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_between(
    before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]
) -> tuple[int, int]:
    """(files, bytes) of parquet data present after a call that are new or
    rewritten."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return len(new), sum(size for size, _ in new)
