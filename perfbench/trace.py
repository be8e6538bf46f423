"""Spans recorded around calls into the program, with Spark counters.

A span records name, start, end, parent and trace id. Each span also gets
the counters of the Spark jobs it submitted, found by job-ID window: the
scheduler's next job id is read before and after the call, and every job in
between belongs to the span. A window, not a job group, because
``column_stats`` submits from a thread pool that does not inherit the
caller's group. Counters come from the driver's status store, which works
with the UI disabled. The span also gets the number of classes Spark's code
generator compiled and the JVM's JIT compile time during the call.
"""

from __future__ import annotations

import contextlib
import json
import time


class Counters:
    """Job and stage counters for a job-ID window, read from the driver."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._scheduler = jsc.dagScheduler()
        jvm = spark._jvm
        # Whole-stage and expression classes compiled by Janino (the codegen
        # cache's misses), and the JVM's JIT compile time: both JVM-wide.
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def mark(self) -> tuple[int, int, int]:
        """The next job id, the codegen compile count and the JIT compile
        milliseconds, read where a span starts and where it ends."""
        return (
            int(self._scheduler.nextJobId()),
            int(self._codegen.METRIC_COMPILATION_TIME().getCount()),
            int(self._jit.getTotalCompilationTime()),
        )

    def read(self, start: tuple[int, int, int], t0: float, t1: float) -> dict:
        """Counters since ``start``, a ``mark()``: those of jobs
        ``start[0] <= id < `` the next job id, plus the codegen compiles and
        JIT time in between. ``t0``/``t1`` are the span's wall-clock bounds,
        for the time no job was running."""
        end_job, codegen, jit_ms = self.mark()
        first_job = start[0]
        self._bus.waitUntilEmpty()
        out = {
            "codegen_compiles": codegen - start[1],
            "jit_compile_s": (jit_ms - start[2]) / 1e3,
            "jobs": end_job - first_job,
            "stages": 0,
            "tasks": 0,
            "task_s": 0.0,
            "task_cpu_s": 0.0,
            "input_rows": 0,
            "shuffle_write_bytes": 0,
            "shuffle_read_rows": 0,
            "spill_bytes": 0,
        }
        busy: list[tuple[float, float]] = []
        seen: set[int] = set()
        for job_id in range(first_job, end_job):
            job = self._store.job(job_id)
            start = job.submissionTime()
            end = job.completionTime()
            if start.isDefined():
                s = start.get().getTime() / 1000.0
                e = end.get().getTime() / 1000.0 if end.isDefined() else t1
                busy.append((max(s, t0), min(e, t1)))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                seen.add(int(stage_ids.apply(i)))
        for stage_id in sorted(seen):
            st = self._store.lastStageAttempt(stage_id)
            if st.status().toString() in ("SKIPPED", "PENDING"):
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["input_rows"] += st.inputRecords()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_rows"] += st.shuffleReadRecords()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["driver_gap_s"] = (t1 - t0) - _union_length(busy)
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Keeps spans in memory; ``dump`` writes them out at the end.

    The time spent reading counters is kept in ``overhead_s``: it is the
    work tracing adds.
    """

    def __init__(self, counters: Counters) -> None:
        self.counters = counters
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._trace_id = 0

    def new_trace(self) -> None:
        self._trace_id += 1

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "trace_id": self._trace_id,
            "parent": self._stack[-1] if self._stack else None,
        }
        start = self.counters.mark()
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            c0 = time.perf_counter()
            rec.update(self.counters.read(start, rec["start"], rec["end"]))
            self.overhead_s += time.perf_counter() - c0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
