"""Spans around calls into the engine's layers, with Spark counters.

Each span runs its calls under a job group of its own. When the span
ends, the benchmark asks Spark's status tracker which jobs ran in that
group and reads each job's stages from Spark's status store (it is
populated with the UI off). Spans are kept in memory and written out
once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "wall_s",
    "task_s",
    "idle_core_s",
    "write_task_s",
    "shuffle_mb",
    "spill_mb",
    "gc_s",
    "jobs",
)

MB = 1024 * 1024


@dataclass(frozen=True)
class StageStats:
    """The status-store fields one stage attempt contributes."""

    status: str
    run_ms: int
    output_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    gc_ms: int
    failed_tasks: int


@dataclass
class Span:
    name: str
    parent: str | None
    op: int
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    output_bytes: int = 0
    failed_tasks: int = 0


def attribute(
    wall_s: float,
    job_stages: dict[int, list[int]],
    stages: dict[int, StageStats],
    cores: int,
) -> tuple[dict, int, int]:
    """Counters of one span from the jobs it ran.

    ``job_stages`` maps each job of the span to its stage ids and
    ``stages`` holds the stats of every stage that exists. A stage
    listed by several jobs (a shuffle one job wrote and a later one
    reused) counts once, and a skipped stage counts nothing. Returns
    ``(counters, output_bytes, failed_tasks)``.
    """
    seen: set[int] = set()
    run_ms = write_ms = shuffle = spill = gc_ms = out = failed = 0
    for sids in job_stages.values():
        for sid in sids:
            if sid in seen:
                continue
            seen.add(sid)
            st = stages.get(sid)
            if st is None or st.status == "SKIPPED":
                continue
            run_ms += st.run_ms
            if st.output_bytes > 0:
                write_ms += st.run_ms
            shuffle += st.shuffle_write_bytes
            spill += st.spill_bytes
            gc_ms += st.gc_ms
            out += st.output_bytes
            failed += st.failed_tasks
    task_s = run_ms / 1000
    counters = {
        "wall_s": wall_s,
        "task_s": task_s,
        "idle_core_s": wall_s * cores - task_s,
        "write_task_s": write_ms / 1000,
        "shuffle_mb": shuffle / MB,
        "spill_mb": spill / MB,
        "gc_s": gc_ms / 1000,
        "jobs": len(job_stages),
    }
    return counters, out, failed


class NullTracer:
    """Tracing off: spans cost one context manager and nothing else."""

    @contextmanager
    def span(self, name: str):
        yield None


class SparkTracer:
    """Tracing on: job group per span, counters from the status store."""

    def __init__(self, spark, cores: int):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc
        self._cores = cores
        self._seq = itertools.count()
        self.spans: list[Span] = []
        self.op = 0
        self._parent: str | None = None

    @contextmanager
    def operation(self, name: str):
        """The closed-loop operation that parents this op's layer spans."""
        self._parent = name
        span = Span(name, None, self.op, time.perf_counter())
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            span.counters = {"wall_s": span.end - span.start}
            self.spans.append(span)
            self._parent = None
            self.op += 1

    @contextmanager
    def span(self, name: str):
        group = f"perfbench-{next(self._seq)}"
        self._sc.setJobGroup(group, name, False)
        span = Span(name, self._parent, self.op, time.perf_counter())
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._jsc.clearJobGroup()
            span.counters, span.output_bytes, span.failed_tasks = attribute(
                span.end - span.start, *self._collect(group), self._cores
            )
            self.spans.append(span)

    def _collect(self, group: str):
        # stage-completion events reach the status store asynchronously
        self._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = self._jsc.sc().statusStore()
        job_stages: dict[int, list[int]] = {}
        stages: dict[int, StageStats] = {}
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            job_stages[jid] = list(info.stageIds)
            for sid in info.stageIds:
                if sid in stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # evicted or never attempted
                    continue
                stages[sid] = StageStats(
                    status=sd.status().toString(),
                    run_ms=sd.executorRunTime(),
                    output_bytes=sd.outputBytes(),
                    shuffle_write_bytes=sd.shuffleWriteBytes(),
                    spill_bytes=sd.diskBytesSpilled(),
                    gc_ms=sd.jvmGcTime(),
                    failed_tasks=sd.numFailedTasks(),
                )
        return job_stages, stages

    def per_op_means(self, names) -> dict[str, float]:
        """``<span>.<counter>`` averaged over the traced operations; a
        span this workload never runs reads 0."""
        out: dict[str, float] = {}
        for name in names:
            recs = [s for s in self.spans if s.name == name]
            for c in COUNTERS:
                out[f"{name}.{c}"] = (
                    sum(r.counters[c] for r in recs) / len(recs) if recs else 0.0
                )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "parent": s.parent, "op": s.op,
                    "start": s.start, "end": s.end, **s.counters,
                    "output_bytes": s.output_bytes,
                    "failed_tasks": s.failed_tasks,
                }) + "\n")
