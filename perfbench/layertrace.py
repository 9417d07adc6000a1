"""Per-layer attribution for the traced benchmark run.

Two sources, both read from outside the program:

* **Spans** around calls into the engine's layers.  ``Tracer.install``
  wraps public functions of ``csv_etl_spark`` modules and rebinds every
  module-level reference to them (``from x import f`` copies the name, so
  patching only the defining module would miss most call sites).  A
  span's self time is its duration minus its direct children's.
* **Engine counters** from Spark's in-process status store, which keeps
  stage and job data with the UI off.  ``StageSnapshot`` diffs stage
  lists taken before and after an operation, outside its timed window.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        # name -> [calls, total_s, self_s]
        self.totals: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
        self._stack: list[list] = []  # [name, children_s]

    @contextmanager
    def span(self, name: str):
        frame = [name, 0.0]
        self._stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._stack.pop()
            if self._stack:
                self._stack[-1][1] += dt
            acc = self.totals[name]
            acc[0] += 1
            acc[1] += dt
            acc[2] += dt - frame[1]

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, functions: list[tuple[str, object]]) -> None:
        """Wrap each ``(span name, function)`` and rebind every reference
        to it held by a loaded ``csv_etl_spark`` module or the
        ``__spark_entry__`` module."""
        wrapped = {id(fn): (fn, self.wrap(fn, name)) for name, fn in functions}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name.startswith("csv_etl_spark") or mod_name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrapped.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])

    def install_methods(self, cls, methods: list[str], name: str) -> None:
        """Wrap methods of ``cls`` under one span name."""
        for m in methods:
            setattr(cls, m, self.wrap(getattr(cls, m), name))


class StageSnapshot:
    """Stage and job counters from ``AppStatusStore``, diffed by id."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self.cores = sc.defaultParallelism
        self.mark()

    def mark(self) -> None:
        """Start counting from the stages and jobs seen so far."""
        self._drain()
        self.last_stage = next((s.stageId() for s in self._stages()), -1)
        self.last_job = self.max_job_id()

    def _drain(self) -> None:
        # the status listener runs on the async listener bus: wait until
        # it has seen every event of the jobs that just finished
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self):
        # newest first: the store lists stages by descending id
        lst = self._jsc.statusStore().stageList(
            self._jvm.java.util.ArrayList(), False, False, self._no_quantiles,
            self._jvm.java.util.ArrayList(),
        )
        it = lst.iterator()
        while it.hasNext():
            yield it.next()

    def max_job_id(self) -> int:
        """Id of the newest job the status store has seen."""
        self._drain()
        jobs = self._jsc.statusStore().jobsList(self._jvm.java.util.ArrayList())
        return jobs.head().jobId() if jobs.nonEmpty() else -1  # newest first

    def take(self, wall_start: float, wall_end: float) -> dict:
        """Counters of the stages that ran since the previous call, for an
        operation that spanned ``[wall_start, wall_end]`` (epoch seconds)."""
        self._drain()
        out = defaultdict(float)
        intervals = []
        newest = self.last_stage
        for s in self._stages():
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            newest = max(newest, sid)
            if str(s.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["input_mb"] += s.inputBytes() / 1e6
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                a, b = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                intervals.append((a, b))
                if s.numTasks() == 1:
                    out["single_task_stage_s"] += b - a
        self.last_stage = newest
        newest_job = self.max_job_id()
        out["jobs"], self.last_job = newest_job - self.last_job, newest_job
        wall = wall_end - wall_start
        busy = _union_length(intervals, wall_start, wall_end)
        out["core_busy_frac"] = out["task_run_s"] / (wall * self.cores) if wall > 0 else 0.0
        out["gap_ms"] = (wall - busy) * 1e3
        return dict(out)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def catalyst_plan_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query execution
    (``QueryPlanningTracker`` phases); forces planning if not yet done."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)
