"""Spans and engine counters for the traced run.

Spans (name, start, end, parent, op id) are kept in memory around each
public engine call the benchmark makes and written out once, at exit.
Engine work is attributed per op through Spark job groups: every op runs
under its own group, and its jobs' stages are read back from the
status store. JIT and GC time come from the JVM's MXBeans through py4j.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass

from pyspark.sql import SparkSession


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None    # index of the enclosing span
    op_id: str


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "StageTotals") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass(frozen=True)
class JvmCounters:
    jit_s: float
    gc_s: float
    gc_count: int
    heap_used_mb: float


def jvm_counters(spark: SparkSession) -> JvmCounters:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = gc_n = 0
    for bean in mf.getGarbageCollectorMXBeans():
        gc_ms += bean.getCollectionTime()
        gc_n += bean.getCollectionCount()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return JvmCounters(
        jit_s=mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        gc_s=gc_ms / 1e3, gc_count=gc_n, heap_used_mb=heap / 2**20)


class Tracer:
    """In-memory span log plus per-op engine totals."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._n_ops = 0

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None):
        """Record a span; a span given an op id also runs its Spark jobs
        under a job group named after it."""
        parent = self._stack[-1] if self._stack else None
        if op_id is None:
            op_id = self.spans[parent].op_id if parent is not None else ""
        else:
            self._n_ops += 1
            group = f"bench-{self._n_ops}"
            self._groups.append(group)
            self.spark.sparkContext.setJobGroup(group, op_id)
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def forget_ops(self) -> None:
        """Stop attributing the ops run so far."""
        self._groups.clear()

    def drain_stage_totals(self) -> StageTotals:
        """Engine totals of the ops run since the last drain. Waits for
        the listener bus first, so the last stage of each op is in."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        out = StageTotals()
        for group in self._groups:
            for job in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                out.jobs += 1
                for stage in info.stageIds:
                    try:
                        attempts = store.stageData(
                            stage, False, sc._jvm.java.util.ArrayList(),
                            False, no_quantiles)
                    except Exception:  # noqa: BLE001 — evicted stage
                        continue
                    for i in range(attempts.size()):
                        s = attempts.apply(i)
                        out.stages += 1
                        out.tasks += s.numCompleteTasks()
                        out.executor_run_s += s.executorRunTime() / 1e3
                        out.executor_cpu_s += s.executorCpuTime() / 1e9
                        out.shuffle_write_mb += s.shuffleWriteBytes() / 2**20
                        out.spill_mb += (s.memoryBytesSpilled()
                                         + s.diskBytesSpilled()) / 2**20
        self._groups.clear()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return out

    def span_seconds(self, name: str, since: float = 0.0) -> list[float]:
        return [s.end - s.start for s in self.spans
                if s.name == name and s.start >= since]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
