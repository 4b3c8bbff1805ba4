"""Spans around the benchmark's calls into the engine's layers, with the
Spark work each span launched read back from Spark's own status store.

A span sets a job group ``<workload>/<layer>/<op>`` while it is open, so
every job Spark runs inside it carries that label. After the operation
(outside the timed region) :meth:`Tracer.collect` sums, per label, the
jobs, stages, tasks, executor CPU and GC time, input/output bytes,
shuffle bytes and spill bytes of the completed stages. The core
``AppStatusStore`` is read rather than the SQL one
(``sharedState().statusStore()``) because the SQL store only sees
DataFrame executions, and the engine also runs RDD jobs (checkpoints,
driver loops); both stores are filled with ``spark.ui.enabled=false``.

Spans are kept in memory and written out once, by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "cpu_s", "gc_s", "input_bytes",
            "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes")


@dataclass
class Span:
    name: str                 # layer, e.g. "plans.scd2.merge"
    op: str                   # operation id the span belongs to
    label: str                # Spark job group
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder for one benchmark run. With ``enabled`` false every
    method is a no-op, so untraced runs pay nothing."""

    def __init__(self, spark, workload: str, enabled: bool) -> None:
        self.enabled = enabled
        self.workload = workload
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._stack: list[int] = []
        self._pending: list[int] = []
        #: seconds spent in span bookkeeping inside timed operations
        self.own_s = 0.0

    @contextmanager
    def span(self, name: str, op: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        label = f"{self.workload}/{name}/{op}#{idx}"
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op, label, parent, t0)
        self.spans.append(s)
        self._pending.append(idx)
        self._stack.append(idx)
        self._sc.setJobGroup(label, label)
        s.start = time.perf_counter()
        self.own_s += s.start - t0
        try:
            yield s
        finally:
            s.end = t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]].label
                self._sc.setJobGroup(outer, outer)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.own_s += time.perf_counter() - t1

    def collect(self) -> None:
        """Attach status-store counters to every span closed since the
        last call. Call outside the timed region."""
        jvm_sc = self._sc._jsc.sc()
        store = jvm_sc.statusStore()
        conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        tracker = self._sc.statusTracker()
        for idx in self._pending:
            s = self.spans[idx]
            c = dict.fromkeys(COUNTERS, 0.0)
            for job_id in tracker.getJobIdsForGroup(s.label):
                c["jobs"] += 1
                job = store.job(job_id)
                for stage_id in conv.asJava(job.stageIds()):
                    for st in conv.asJava(store.stageData(stage_id, False, None, False, None)):
                        if st.status().toString() != "COMPLETE":
                            continue
                        c["stages"] += 1
                        c["tasks"] += st.numTasks()
                        c["cpu_s"] += st.executorCpuTime() / 1e9
                        c["gc_s"] += st.jvmGcTime() / 1e3
                        c["input_bytes"] += st.inputBytes()
                        c["output_bytes"] += st.outputBytes()
                        c["shuffle_read_bytes"] += st.shuffleReadBytes()
                        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        c["spill_bytes"] += st.diskBytesSpilled()
            s.counters = c
        self._pending = []

    def self_seconds(self, idx: int) -> float:
        """Span time minus the time its (sequential) child spans cover."""
        s = self.spans[idx]
        return s.seconds - sum(c.seconds for c in self.spans if c.parent == idx)

    def total(self, idx: int) -> dict[str, float]:
        """Counters of a span and all the spans nested inside it."""
        out = dict(self.spans[idx].counters)
        for i, c in enumerate(self.spans):
            if c.parent == idx:
                for k, v in self.total(i).items():
                    out[k] = out.get(k, 0.0) + v
        return out

    def dump(self, path: str) -> None:
        rows = []
        for i, s in enumerate(self.spans):
            d = asdict(s)
            d.update(id=i, seconds=s.seconds, self_seconds=self.self_seconds(i))
            rows.append(d)
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "spans": rows}, fh, indent=1)
