"""Spans around the benchmark's calls into the engine's layers.

A span records name, start, end, parent span and run id, and is kept in
memory until the run writes them all out. Untraced runs record only the
clock. A traced run also reads, at both ends of every span:

* the Spark JVM's next job id and next stage id. Spark numbers jobs
  and stages from two process-wide counters, so the deltas count every
  job and stage that ran during the span, including those submitted
  from other threads (the Structured Streaming micro-batch thread,
  which the thread-local job groups of ``jobcount.py`` miss);
* cumulative GC time (all GarbageCollectorMXBeans) and JIT compilation
  time (CompilationMXBean), in ms.

At the end of a traced span the tasks of the stages created during it
are summed from the status tracker. The time spent reading counters is
kept in ``overhead_s``, which is the traced run's extra cost over an
untraced one.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    phase: str | None
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class _JvmCounters:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self._tracker = sc.statusTracker()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._jit_bean = mf.getCompilationMXBean()

    def read(self) -> dict[str, float]:
        return {
            "job": self._dag.nextJobId(),
            "stage": self._dag.nextStageId(),
            "gc_ms": sum(b.getCollectionTime() for b in self._gc_beans),
            "jit_ms": self._jit_bean.getTotalCompilationTime(),
        }

    def tasks(self, first_stage: int, end_stage: int) -> int:
        total = 0
        for sid in range(first_stage, end_stage):
            info = self._tracker.getStageInfo(sid)
            if info is not None:
                total += info.numTasks
        return total


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._jvm: _JvmCounters | None = None

    def attach(self, spark) -> None:
        """Turn on counter reads for every later span."""
        t0 = time.perf_counter()
        self._jvm = _JvmCounters(spark)
        self._jvm.read()
        self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, phase: str | None = None):
        parent = self._stack[-1] if self._stack else None
        before = self._read()
        s = Span(name, time.perf_counter(), parent, phase)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            after = self._read()
            if before is not None and after is not None:
                t0 = time.perf_counter()
                s.counters = {
                    "jobs": after["job"] - before["job"],
                    "stages": after["stage"] - before["stage"],
                    "tasks": self._jvm.tasks(before["stage"], after["stage"]),
                    "gc_s": (after["gc_ms"] - before["gc_ms"]) / 1000.0,
                    "jit_s": (after["jit_ms"] - before["jit_ms"]) / 1000.0,
                }
                self.overhead_s += time.perf_counter() - t0

    def _read(self) -> dict[str, float] | None:
        if self._jvm is None:
            return None
        t0 = time.perf_counter()
        values = self._jvm.read()
        self.overhead_s += time.perf_counter() - t0
        return values

    # -- derived numbers -------------------------------------------------
    def self_seconds(self, index: int) -> float:
        """Duration minus the time its direct children cover."""
        s = self.spans[index]
        children = sum(c.seconds for c in self.spans if c.parent == index)
        return s.seconds - children

    def top_level_seconds(self, since: float, until: float) -> float:
        return sum(
            s.seconds
            for s in self.spans
            if s.parent is None and s.start >= since and s.end <= until
        )

    def layer_metrics(self, names: list[str]) -> dict[str, float]:
        """Median over a span's occurrences of its seconds and, when
        traced, of its jobs/stages/tasks. A span that never ran in this
        workload reads 0: the layer did no work here."""
        out: dict[str, float] = {}
        for name in names:
            occ = [s for s in self.spans if s.name == name]
            out[f"{name}_s"] = _median([s.seconds for s in occ])
            for key in ("jobs", "stages", "tasks"):
                out[f"{name}.{key}"] = _median(
                    [s.counters[key] for s in occ if s.counters]
                )
        return out

    def phase_jvm(self, phase: str) -> dict[str, float]:
        """GC and JIT seconds of one phase: summed over the top-level
        spans of each occurrence, median over occurrences."""
        per_occurrence: dict[int, dict[str, float]] = {}
        for s in self.spans:
            if s.phase is None or not s.counters:
                continue
            name, _, occ = s.phase.partition("#")
            if name != phase:
                continue
            acc = per_occurrence.setdefault(int(occ or 0), {"gc_s": 0.0, "jit_s": 0.0})
            acc["gc_s"] += s.counters["gc_s"]
            acc["jit_s"] += s.counters["jit_s"]
        return {
            key: _median([v[key] for v in per_occurrence.values()])
            for key in ("gc_s", "jit_s")
        }

    def table(self) -> list[str]:
        """One line per span name, in order of first start: occurrences,
        median seconds and self seconds, and the median counters."""
        lines = [
            f"{'span':40s} {'n':>3s} {'sec':>8s} {'self':>8s} {'jobs':>5s} "
            f"{'stages':>6s} {'tasks':>6s} {'gc_s':>6s} {'jit_s':>6s}"
        ]
        by_name: dict[str, list[int]] = {}
        for i, s in enumerate(self.spans):
            by_name.setdefault(s.name, []).append(i)
        for name, idx in by_name.items():
            spans = [self.spans[i] for i in idx]
            cnt = [s.counters for s in spans if s.counters]

            def med(key: str) -> float:
                return _median([c[key] for c in cnt])

            lines.append(
                f"{name:40s} {len(idx):3d} {_median([s.seconds for s in spans]):8.3f} "
                f"{_median([self.self_seconds(i) for i in idx]):8.3f} "
                f"{med('jobs'):5.0f} {med('stages'):6.0f} {med('tasks'):6.0f} "
                f"{med('gc_s'):6.3f} {med('jit_s'):6.3f}"
            )
        return lines

    def dump(self) -> dict:
        return {
            "run": self.run_id,
            "overhead_s": self.overhead_s,
            "spans": [
                {
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "parent": s.parent,
                    "phase": s.phase,
                    "run": self.run_id,
                    **s.counters,
                }
                for s in self.spans
            ],
        }


def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
