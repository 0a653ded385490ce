"""Shared run state: op accounting, timing windows and metric summaries.

An op is one public engine call plus the checks on its result. An op
that raises or whose check fails counts as failed; the run goes on.
"""

from __future__ import annotations

import contextlib
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import proctree
from tracing import JvmCounters, StageTotals, Tracer, jvm_counters


class CheckFailed(Exception):
    """An op's result differs from what its inputs determine."""


@dataclass
class Run:
    work: str
    seed: int
    seconds: float
    trace: bool
    spark: object = None
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    peak_rss_mb: float = 0.0

    def attach(self, spark) -> None:
        self.spark = spark
        if self.trace:
            self.tracer = Tracer(spark)

    @contextlib.contextmanager
    def op(self, name: str, op_id: str):
        """Count, time and (when tracing) span one op; a failure is
        logged and counted, never propagated."""
        self.attempted += 1
        span = (self.tracer.span(name, op_id) if self.tracer
                else contextlib.nullcontext())
        try:
            with span:
                yield
        except Exception:  # noqa: BLE001 — a failed op must not end the run
            self.fail(f"{name} {op_id}:\n{traceback.format_exc()}")

    def span(self, name: str):
        """A span enclosing ops (a pass or a cycle), when tracing."""
        return (self.tracer.span(name) if self.tracer
                else contextlib.nullcontext())

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"FAILED {msg}", file=sys.stderr, flush=True)


@dataclass
class Window:
    """The timed window: wall clock, process-tree CPU and, when
    tracing, JVM counters and engine totals. The window is split into
    work units (a pass or a cycle); each unit's wall and CPU time is
    kept, so a run reports the median unit and a slow stretch of the
    host moves it less than it moves a mean."""
    run: Run
    t0: float = 0.0
    wall_s: float = 0.0
    unit_wall_s: list = field(default_factory=list)
    unit_cpu_s: list = field(default_factory=list)    # JIT compiler aside
    unit_jit_cpu_s: list = field(default_factory=list)
    mark: tuple = (0.0, None)       # wall clock and snapshot at unit start
    proc0: proctree.Snapshot | None = None
    proc1: proctree.Snapshot | None = None
    jvm0: JvmCounters | None = None
    jvm1: JvmCounters | None = None
    cache0: int = 0
    cache1: int = 0
    stages: StageTotals = field(default_factory=StageTotals)

    def __enter__(self) -> "Window":
        if self.run.tracer:
            self.run.tracer.forget_ops()
            self.jvm0 = jvm_counters(self.run.spark)
            self.cache0 = cache_entries(self.run.spark)
        self.proc0 = proctree.snapshot()
        self.t0 = time.perf_counter()
        self.mark = (self.t0, self.proc0)
        return self

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def unit_done(self) -> None:
        """Called after each work unit: records its wall and CPU time,
        samples memory and, when tracing, folds the unit's engine totals
        in before the status store can evict them (outside any unit's
        time)."""
        snap = proctree.snapshot()
        now = time.perf_counter()
        t0, snap0 = self.mark
        jit = snap.compiler_cpu_since(snap0)
        self.unit_wall_s.append(now - t0)
        self.unit_cpu_s.append(snap.cpu_s - snap0.cpu_s - jit)
        self.unit_jit_cpu_s.append(jit)
        self.run.peak_rss_mb = max(self.run.peak_rss_mb, snap.rss_mb)
        if self.run.tracer:
            self.stages.add(self.run.tracer.drain_stage_totals())
            snap, now = proctree.snapshot(), time.perf_counter()
        self.mark = (now, snap)

    def median_unit(self) -> tuple[float, float]:
        """Median wall and median CPU seconds (JIT compiler threads
        aside) of one unit."""
        return (statistics.median(self.unit_wall_s),
                statistics.median(self.unit_cpu_s))

    def __exit__(self, *exc) -> None:
        self.wall_s = self.elapsed()
        self.proc1 = proctree.snapshot()
        if self.run.tracer:
            self.jvm1 = jvm_counters(self.run.spark)
            self.cache1 = cache_entries(self.run.spark)

    def layer_metrics(self, units: int) -> dict[str, float]:
        """Per-layer metrics common to every workload, per work unit."""
        d0, d1 = self.proc0, self.proc1
        out = {
            "proc.driver_py_cpu_s": (d1.driver_cpu_s - d0.driver_cpu_s) / units,
            "proc.jvm_cpu_s": (d1.jvm_cpu_s - d0.jvm_cpu_s) / units,
            "proc.pyworker_cpu_s": (d1.worker_cpu_s - d0.worker_cpu_s) / units,
            "io.write_mb": (d1.write_mb - d0.write_mb) / units,
            "spark.jobs": self.stages.jobs / units,
            "spark.stages": self.stages.stages / units,
            "spark.tasks": self.stages.tasks / units,
            "spark.executor_run_s": self.stages.executor_run_s / units,
            "spark.executor_cpu_s": self.stages.executor_cpu_s / units,
            "spark.shuffle_write_mb": self.stages.shuffle_write_mb / units,
            "spark.spill_mb": self.stages.spill_mb / units,
            "jvm.jit_s": (self.jvm1.jit_s - self.jvm0.jit_s) / units,
            "jvm.jit_cpu_s": sum(self.unit_jit_cpu_s) / units,
            "jvm.gc_s": (self.jvm1.gc_s - self.jvm0.gc_s) / units,
            "jvm.gc_count": (self.jvm1.gc_count - self.jvm0.gc_count) / units,
            "jvm.heap_used_mb": self.jvm1.heap_used_mb,
            "cache.entries": self.cache1,
            "cache.entries_added": (self.cache1 - self.cache0) / units,
        }
        return out


def cache_entries(spark) -> int:
    """Entries in the engine's session cache (`operators._cache`)."""
    from snowflake_azure_etl_spark.operators._cache import session_cache
    return len(session_cache(spark))

