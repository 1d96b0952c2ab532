"""Spans around the benchmark's calls into each layer, with the Spark jobs
and stage metrics each call caused.

Every span runs under its own Spark job group, so the jobs it fires — those
fired while a DataFrame is being built as well as the action's — are found
afterwards with ``statusTracker().getJobIdsForGroup``, and their stages'
metrics are read from the application status store (which the status
listener fills with the UI off too). Spans are kept in memory and read once
per op, after the listener bus has drained.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# stage metrics summed per span: status-store accessor → span field
_STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "inputRecords": "rows_read",
}


@dataclass
class Span:
    """One call into one layer, and what Spark did during it."""
    layer: str
    op: int                     # spans of one op share this id
    parent: str | None
    group: str
    wall_ms: float = 0.0
    cpu_ms: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    stats: dict = field(default_factory=dict)
    read: bool = False          # jobs and stage metrics attached


class Tracer:
    """Records spans when ``enabled``; otherwise each span is a no-op, so a
    workload runs the same code with tracing on and off."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op = 0
        self._n = 0
        self._stack: list[str] = []

    def start_op(self) -> None:
        self.op += 1

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield None
            return
        self._n += 1
        sp = Span(layer, self.op, self._stack[-1] if self._stack else None,
                  f"perfbench-{id(self):x}-{self._n}")
        self._stack.append(sp.group)
        self.sc.setJobGroup(sp.group, layer, False)
        c0, t0 = time.process_time(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_ms = (time.perf_counter() - t0) * 1e3
            sp.cpu_ms = (time.process_time() - c0) * 1e3
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], "", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def collect(self) -> None:
        """Attach jobs and stage metrics to every span not yet read."""
        pending = [s for s in self.spans if not s.read]
        if not pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jvm, gw = self.sc._jvm, self.sc._gateway
        no_quantiles = gw.new_array(jvm.double, 0)
        for sp in pending:
            stats = dict.fromkeys(_STAGE_FIELDS.values(), 0)
            jobs = tracker.getJobIdsForGroup(sp.group)
            sp.jobs = len(jobs)
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in sorted(stage_ids):
                attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                           False, no_quantiles)
                ran = False
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.status().toString() == "SKIPPED":
                        continue
                    ran = True
                    sp.tasks += st.numCompleteTasks()
                    for acc, name in _STAGE_FIELDS.items():
                        stats[name] += getattr(st, acc)()
                sp.stages += ran
            sp.stats, sp.read = stats, True

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]
