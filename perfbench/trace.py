"""What the benchmark reads besides wall clocks.

- ``ProcTree``: CPU seconds and RSS of this process and every descendant
  (the JVM and its Python workers), from ``/proc``.
- ``HostSample``: steal share from ``/proc/stat`` and the load average —
  noise from outside the program, recorded next to each run's metrics.
- ``SparkCounters``: job, stage, task, shuffle, spill, executor and GC
  totals from Spark's always-on status store through py4j, plus cached
  block state. Reads wait for the asynchronous listener bus to drain, and
  happen only between timed regions.
- ``Tracer``: spans (name, start, end, parent, op id) kept in memory and
  written, with the per-op records, as one JSON file when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JError

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while we listed /proc
        return None
    lp, rp = raw.index("("), raw.rindex(")")
    return raw[lp + 1:rp], raw[rp + 2:].split()


class ProcTree:
    """CPU and RSS of a process tree rooted at ``root`` (default: self)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _members(self) -> dict[int, tuple[str, list[str]]]:
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _stat_fields(pid)
                if st is not None:
                    procs[int(pid)] = st
        tree, frontier = {self.root}, [self.root]
        children: dict[int, list[int]] = {}
        for pid, (_comm, f) in procs.items():
            children.setdefault(int(f[1]), []).append(pid)
        while frontier:
            for c in children.get(frontier.pop(), []):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return {p: procs[p] for p in tree if p in procs}

    def pids(self) -> list[int]:
        return list(self._members())

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds by kind (``jvm``/``python``/``other``),
        counting children that were reaped by a tree member."""
        out = {"jvm": 0.0, "python": 0.0, "other": 0.0}
        for comm, f in self._members().values():
            kind = ("jvm" if comm == "java" else
                    "python" if comm.startswith("python") else "other")
            out[kind] += sum(int(x) for x in f[11:15]) / _TICK
        return out

    def rss_mb(self) -> float:
        return sum(int(f[21]) for _c, f in self._members().values()) \
            * _PAGE / 2**20


class RssSampler:
    """Background thread recording the tree's peak RSS."""

    def __init__(self, tree: ProcTree, period_s: float = 0.2):
        self.tree, self.period_s = tree, period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _cpu_line() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostSample:
    """Steal share of all CPU time between construction and ``finish``."""

    def __init__(self):
        self._start = _cpu_line()
        self.loadavg = os.getloadavg()[0]

    def finish(self) -> dict[str, float]:
        d = [b - a for a, b in zip(self._start, _cpu_line())]
        total = sum(d[:8]) or 1
        return {"host.steal_share": d[7] / total if len(d) > 7 else 0.0,
                "host.loadavg": self.loadavg}


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

SPARK_KEYS = ("jobs", "stages", "tasks", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "executor_run_s",
              "executor_cpu_s", "gc_s")


class SparkCounters:
    """Totals over the jobs that finished since the previous ``delta``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._seq = spark.sparkContext._jvm.scala.jdk.javaapi \
            .CollectionConverters.asJava
        self._last_job = -1
        self.delta()

    def _new_jobs(self):
        """Jobs finished since the last call; the store lists them newest
        first."""
        for j in self._seq(self._store.jobsList(None)):
            if j.jobId() <= self._last_job:
                return
            yield j

    def delta(self) -> dict[str, float]:
        # the listener bus is asynchronous: a job's end event can still be
        # queued after its action returned
        self._sc.listenerBus().waitUntilEmpty()
        new, stage_ids = [], set()
        for j in self._new_jobs():
            new.append(j.jobId())
            stage_ids.update(self._seq(j.stageIds()))
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        out["jobs"] = float(len(new))
        for sid in stage_ids:
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JError:   # a stage that never ran has no attempt
                continue
            if str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_read_mb"] += (s.shuffleReadBytes()) / 2**20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (s.memoryBytesSpilled()
                                + s.diskBytesSpilled()) / 2**20
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
        if new:
            self._last_job = max(new)
        return out

    def storage(self) -> dict[str, float]:
        infos = self._sc.getRDDStorageInfo()
        return {"persisted_rdds": float(self._sc.getPersistentRDDs().size()),
                "memory_mb": sum(i.memSize() for i in infos) / 2**20}


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into each layer. When disabled, ``span`` still
    yields a timed ``Span`` but records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None, op=self.op)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def write(self, path: str, ops: list[dict]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": [s.__dict__ for s in self.spans],
                       "ops": ops}, fh)
