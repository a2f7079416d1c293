"""Benchmark-side timing and Spark accounting.

``Recorder`` times every call the benchmark makes into the package
(warm-up calls included, so the warm-up rule can be checked from the
trace output).  With tracing on it also labels the call's Spark jobs
with a job group and reads, from the status tracker and the JVM
status store, the jobs, stages, shuffle bytes, bytes written and
executor run time of every job that ran during the call.

A span owns the jobs submitted between its start and end whose job
group is the span's own or not one of the benchmark's: the streaming
import runs its micro-batches on the query's thread under the query's
own group, while a late job of the previous span (an adaptive
broadcast, say) still carries that span's group and is left out.
Spark threads inherit the group, and the monitor's handler thread
sets it from ``Recorder.group`` (see workloads._AppSlot).
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

GROUP_PREFIX = "journeybench-"


class Recorder:
    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self._jsc = self.sc._jsc.sc()
        # kind -> list of (seconds, measured?) in call order
        self.calls: dict[str, list[tuple[float, bool]]] = defaultdict(list)
        self.spans: list[dict] = []
        self.group: str | None = None    # job group of the open span
        self.bookkeeping_s = 0.0         # wall spent tracing, not timed
        self._next_job = 0
        self._n = 0

    # -- job accounting ----------------------------------------------

    def _settle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def _job_exists(self, job_id: int) -> bool:
        try:
            self._jsc.statusStore().job(job_id)
            return True
        except Py4JJavaError:
            return False

    def _skip_to_next_job(self) -> None:
        while self._job_exists(self._next_job):
            self._next_job += 1

    def _jobs_since(self, first: int, group: str) -> dict:
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "shuffle_bytes": 0,
               "executor_run_s": 0.0, "bytes_written": 0}
        j = first
        while self._job_exists(j):
            g = store.job(j).jobGroup()
            if g.isDefined() and g.get().startswith(GROUP_PREFIX) \
                    and g.get() != group:
                j += 1
                continue
            out["jobs"] += 1
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(s)
                except Py4JJavaError:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["shuffle_bytes"] += (sd.shuffleReadBytes()
                                         + sd.shuffleWriteBytes())
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["bytes_written"] += sd.outputBytes()
            j += 1
        self._next_job = j
        return out

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, layer: str, kind: str | None = None,
             measured: bool = True):
        """Time one call into ``layer``; ``kind`` names the operation
        whose per-call durations are kept (defaults to the layer)."""
        kind = kind or layer
        rec: dict = {"layer": layer, "kind": kind, "measured": measured}
        if self.traced:
            t = time.perf_counter()
            self._settle()
            self._skip_to_next_job()
            first = self._next_job
            self._n += 1
            self.group = f"{GROUP_PREFIX}{self._n}"
            self.sc.setJobGroup(self.group, layer)
            self.bookkeeping_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.calls[kind].append((rec["wall_s"], measured))
            if self.traced:
                t = time.perf_counter()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._settle()
                rec.update(self._jobs_since(first, self.group))
                self.spans.append(rec)
                self.group = None
                self.bookkeeping_s += time.perf_counter() - t

    def measured(self, kind: str) -> list[float]:
        return [s for s, m in self.calls[kind] if m]

    def layer_spans(self, layer: str) -> list[dict]:
        """Traced spans of measured calls into ``layer``."""
        return [s for s in self.spans if s["layer"] == layer and s["measured"]]


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that still has at
    least ten samples beyond it, or None with ten samples or fewer."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return None
    i = n - 11                           # ten samples lie above s[i]
    return 100.0 * (i + 1) / n, s[i]
