"""Spans around the benchmark's calls into the engine, and the Spark stage
counters of each span.

Every job the benchmark runs goes through :meth:`Tracer.job`, which times
it, counts persisted RDDs left behind (``cachectl`` hygiene) and records a
span ``(id, name, layer, start, end, parent, run)``. With tracing on, the
span id is also set as the Spark job group for the duration of the call, and
right after the call the group's jobs and stages are read from the
application status store -- immediately, because Spark keeps only the last
``spark.ui.retainedStages`` stages. Spans stay in memory and are written out
by the caller at the end of the run.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict

# stage counters summed over a span's stages
STAGE_COUNTERS = (
    "executor_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_rows",
    "output_bytes",
    "failed_tasks",
    "gc_s",
)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Times jobs and, when ``enabled``, harvests their Spark counters."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.failures: list[dict] = []
        self.leaked_rdds = 0
        self._ids = itertools.count()
        self._seen_job = -1
        self._store = self.sc._jsc.sc().statusStore() if enabled else None

    def span_id(self) -> str:
        return f"{self.run_id}-{next(self._ids)}"

    def job(self, layer: str, name: str, fn, parent: str | None = None, extra_groups=()):
        """Run ``fn()`` as one job. Returns ``(result, seconds)``; a raised
        exception or a persisted RDD left behind is recorded in
        ``failures`` and the result is ``None``."""
        sid = self.span_id()
        if self.enabled:
            self.sc.setJobGroup(sid, name)
        start = time.time()
        t0 = time.perf_counter()
        error = None
        try:
            result = fn()
        except Exception as e:  # a failing job is counted, the run goes on
            result, error = None, f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        seconds = time.perf_counter() - t0
        end = time.time()
        span = {"id": sid, "name": name, "layer": layer, "start": start, "end": end, "parent": parent, "run": self.run_id}
        if self.enabled:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            span.update(self._harvest({sid, *extra_groups}, start, end))
        leaked = self.sc._jsc.getPersistentRDDs().size()
        if leaked:
            self.leaked_rdds += leaked
            for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
                rdd.unpersist(True)
            error = error or f"{leaked} persisted RDD(s) left behind"
        if error:
            self.failures.append({"job": name, "error": error})
            result = None
        self.spans.append(span)
        return result, seconds

    def open_span(self, layer: str, name: str) -> dict:
        span = {"id": self.span_id(), "name": name, "layer": layer, "start": time.time(), "parent": None, "run": self.run_id}
        self.spans.append(span)
        return span

    @staticmethod
    def close_span(span: dict) -> None:
        span["end"] = time.time()

    def _harvest(self, groups: set[str], start: float, end: float) -> dict:
        out = dict.fromkeys(STAGE_COUNTERS, 0)
        intervals: list[tuple[float, float]] = []
        jobs = self._store.jobsList(None)  # newest first
        newest = self._seen_job
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._seen_job:
                break
            newest = max(newest, jid)
            group = job.jobGroup()
            if group.isEmpty() or group.get() not in groups:
                continue
            n_jobs += 1
            ids = job.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        self._seen_job = newest
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, None, False, None)
            for j in range(attempts.size()):
                st = attempts.apply(j)
                if str(st.status()) not in ("COMPLETE", "FAILED"):
                    continue
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["input_rows"] += st.inputRecords()
                out["output_bytes"] += st.outputBytes()
                out["failed_tasks"] += st.numFailedTasks()
                out["gc_s"] += st.jvmGcTime() / 1e3
                sub, done = st.submissionTime(), st.completionTime()
                if not sub.isEmpty() and not done.isEmpty():
                    a = max(sub.get().getTime() / 1e3, start)
                    b = min(done.get().getTime() / 1e3, end)
                    if b > a:
                        intervals.append((a, b))
        out["jobs"] = n_jobs
        out["driver_only_s"] = max(0.0, (end - start) - _union_length(intervals))
        return out


def self_times(spans: list[dict]) -> None:
    """Set ``self_s`` on every closed span: its duration minus the part of
    its interval that its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s.get("parent"):
            children[s["parent"]].append((s["start"], s["end"]))
    for s in spans:
        if "end" in s:
            s["self_s"] = (s["end"] - s["start"]) - _union_length(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in children[s["id"]] if b > a]
            )
