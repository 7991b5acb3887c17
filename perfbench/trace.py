"""In-memory tracing for the benchmark's traced runs.

Spans are recorded from outside the package, around the benchmark's calls
into each layer. Three sources feed them:

- ``time.perf_counter`` around each call (the span's start and end);
- a counting wrapper on the py4j gateway client's ``send_command``, in
  place only while a counted block runs, so a span knows how many
  driver-to-JVM round trips it made;
- Spark's status store. Every phase runs under its own job group
  (``SparkContext.setJobGroup``), and after the op the group's jobs and
  stages are read back with their submission and completion times,
  shuffle, spill, CPU and GC figures. This works with the UI disabled.
"""

from __future__ import annotations

import contextlib
import time

MB = 1024 * 1024


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._seen_stages: set[int] = set()
        # status-store times are epoch milliseconds; spans use perf_counter
        self._epoch_minus_perf = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def counting(self):
        """Count the py4j round trips made inside the block, in the
        yielded dict's ``calls``."""
        client = self.sc._gateway._gateway_client
        send = client.send_command
        counter = {"calls": 0}

        def counting_send(*args, **kwargs):
            counter["calls"] += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        try:
            yield counter
        finally:
            del client.send_command  # back to the class's method

    def begin(self, name: str, parent: dict | None = None, **attrs) -> dict:
        span = {
            "id": len(self.spans),
            "parent": None if parent is None else parent["id"],
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(span)
        return span

    def end(self, span: dict) -> float:
        span["end"] = time.perf_counter()
        return span["end"] - span["start"]

    def add(self, name: str, parent: dict, start: float, end: float, **attrs) -> dict:
        span = self.begin(name, parent, **attrs)
        span["start"], span["end"] = start, end
        return span

    def tag(self, group: str) -> None:
        """Attribute every job started from here on to ``group``."""
        self.sc.setJobGroup(group, group)

    def group_jobs(self, group: str) -> list[dict]:
        """Jobs of one group, each with its interval on the span clock and
        the summed counters of the stages it ran that no earlier group
        already reported."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = []
        for job_id in sorted(tracker.getJobIdsForGroup(group)):
            data = store.job(job_id)
            sub, done = data.submissionTime(), data.completionTime()
            job = {
                "start": self._perf(sub.get().getTime()) if sub.isDefined() else None,
                "end": self._perf(done.get().getTime()) if done.isDefined() else None,
                "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                "input_mb": 0.0,
            }
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info is not None else []):
                if stage_id in self._seen_stages:
                    continue
                stage = store.lastStageAttempt(stage_id)
                if stage.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(stage_id)
                job["stages"] += 1
                job["tasks"] += stage.numCompleteTasks()
                job["run_s"] += stage.executorRunTime() / 1e3
                job["cpu_s"] += stage.executorCpuTime() / 1e9
                job["gc_s"] += stage.jvmGcTime() / 1e3
                job["shuffle_read_mb"] += stage.shuffleReadBytes() / MB
                job["shuffle_write_mb"] += stage.shuffleWriteBytes() / MB
                job["spill_mb"] += stage.diskBytesSpilled() / MB
                job["input_mb"] += stage.inputBytes() / MB
            jobs.append(job)
        return jobs

    def _perf(self, epoch_ms: int) -> float:
        return epoch_ms / 1e3 - self._epoch_minus_perf


def merged(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[list[float]]:
    """The union of ``intervals`` clipped to [lo, hi], as disjoint
    intervals in order."""
    out: list[list[float]] = []
    for start, end in sorted(intervals):
        start, end = max(start, lo), min(end, hi)
        if end <= start:
            continue
        if out and start <= out[-1][1]:
            out[-1][1] = max(out[-1][1], end)
        else:
            out.append([start, end])
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    return sum(end - start for start, end in merged(intervals, lo, hi))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
