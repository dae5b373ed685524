"""Spans around the benchmark's layer calls, with Spark counters per span.

A span wraps one call the benchmark makes into a layer's public function.
When tracing is on, the span sets a Spark job group of its own before the
call, so every job the call starts (broadcasts and subqueries inherit the
group) can be read back from the application status store afterwards.
Spans stay in memory; counters are read once, when the run ends, after the
listener bus has drained. With tracing off a span only keeps its wall time
and sets no job group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# counters read per span; bytes and times are summed over completed stages
COUNTERS = (
    "jobs", "stages", "tasks", "input_bytes", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
)


@dataclass
class Span:
    id: int
    name: str
    op_id: int | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool, run_tag: str):
        self.spark = spark
        self.enabled = enabled
        self.run_tag = run_tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), name=name,
            op_id=op_id if op_id is not None else (parent.op_id if parent else None),
            parent=parent.id if parent else None, start=0.0,
        )
        self.spans.append(sp)
        if self.enabled:
            sp.group = f"{self.run_tag}-{sp.id}"
            self.spark.sparkContext.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                sc = self.spark.sparkContext
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def collect_counters(self) -> None:
        """Read every traced span's jobs and stages from the status store."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        tracker = sc.statusTracker()
        for sp in self.spans:
            c = dict.fromkeys(COUNTERS, 0)
            c["executor_run_s"] = c["executor_cpu_s"] = c["gc_s"] = 0.0
            longest = (-1.0, 1.0)  # (stage run time, max/median task time)
            for job_id in tracker.getJobIdsForGroup(sp.group):
                c["jobs"] += 1
                stage_ids = store.job(job_id).stageIds()
                for i in range(stage_ids.size()):
                    attempts = store.stageData(
                        stage_ids.apply(i), False, no_status, False, no_quantiles
                    )
                    for k in range(attempts.size()):
                        sd = attempts.apply(k)
                        if sd.status().toString() != "COMPLETE":
                            continue  # skipped stages reuse shuffle output
                        c["stages"] += 1
                        c["tasks"] += sd.numCompleteTasks()
                        c["input_bytes"] += sd.inputBytes()
                        c["output_bytes"] += sd.outputBytes()
                        c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                        c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                        run_ms = sd.executorRunTime()
                        c["executor_run_s"] += run_ms / 1e3
                        c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                        c["gc_s"] += sd.jvmGcTime() / 1e3
                        if run_ms > longest[0]:
                            longest = (run_ms, self._skew(store, sd, quantiles))
            c["task_skew"] = longest[1]
            sp.counters = c

    @staticmethod
    def _skew(store, sd, quantiles) -> float:
        summary = store.taskSummary(sd.stageId(), sd.attemptId(), quantiles)
        if not summary.isDefined():
            return 1.0
        q = summary.get().executorRunTime()
        median, top = q.apply(0), q.apply(1)
        return top / median if median > 0 else 1.0

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "op_id": s.op_id, "parent": s.parent,
                "start": round(s.start, 6), "end": round(s.end, 6),
                "self_s": round(self.self_time(s), 6), **s.attrs, "counters": s.counters,
            }
            for s in self.spans
        ]

    def self_time(self, sp: Span) -> float:
        return sp.wall - sum(c.wall for c in self.spans if c.parent == sp.id)
