"""Measurement helpers: percentiles, spans with self time, Spark work
counters read through the public status tracker, and on-disk sizes.

Nothing here imports pyspark, so the logic is testable without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: samples a tail percentile must leave beyond it
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least TAIL_BEYOND samples beyond
    it, but never below the upper quartile.

    Returns (percentile, value, samples beyond).  With sorted samples
    x_1..x_n, x_k has n-k samples above it, so the TAIL_BEYOND rule picks
    rank k = n - TAIL_BEYOND.  That rank reaches the upper quartile only
    when n >= 4*TAIL_BEYOND; a shorter run reports the upper quartile
    (nearest rank) with the fewer samples it has beyond it.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    k = max(n - TAIL_BEYOND, math.ceil(0.75 * n))
    return 100.0 * k / n, xs[k - 1], n - k


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Spans at layer boundaries, kept in memory until ``dump``.

    Disabled, ``span`` costs one branch and records nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, op)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        return {
            s.id: self_time(s, children.get(s.id, [])) for s in self.spans
        }

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans], fh
            )


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.

    Children may overlap each other (work started from several threads)
    or spill past the parent; covered time is the union of the child
    intervals clipped to the parent.
    """
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_end is None or lo > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = lo, hi
        else:
            cur_end = max(cur_end, hi)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (span.end - span.start) - covered


@dataclass
class SparkWork:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


class JobCounter:
    """Spark work since the previous ``take``, from job-id deltas.

    Job ids are dense and increasing, so the jobs of an op are the ids
    after the last one seen.  This also counts jobs started from other
    threads, which a job group set on the calling thread would miss.

    The tracker reads a status store that Spark's listener bus fills
    asynchronously, so ``take`` first calls ``drain`` (which waits until
    the bus has delivered every event posted so far) and then waits for
    each new job to report an end state before it reads its stages.
    """

    DONE = ("SUCCEEDED", "FAILED")

    def __init__(self, tracker, drain=lambda: None, timeout_s: float = 30.0):
        self.tracker = tracker
        self.drain = drain
        self.timeout_s = timeout_s
        self.next_id = 0
        drain()
        while tracker.getJobInfo(self.next_id) is not None:
            self.next_id += 1

    def _finished(self, job_id: int):
        deadline = time.monotonic() + self.timeout_s
        job = self.tracker.getJobInfo(job_id)
        while str(job.status) not in self.DONE:
            if time.monotonic() > deadline:
                raise RuntimeError(f"Spark job {job_id} still {job.status}")
            time.sleep(0.01)
            self.drain()
            job = self.tracker.getJobInfo(job_id)
        return job

    def take(self) -> SparkWork:
        self.drain()
        work = SparkWork()
        stage_ids: set[int] = set()
        while self.tracker.getJobInfo(self.next_id) is not None:
            job = self._finished(self.next_id)
            work.jobs += 1
            stage_ids.update(job.stageIds)
            self.next_id += 1
        for sid in stage_ids:
            st = self.tracker.getStageInfo(sid)
            # skipped stages (reused shuffle output) ran no tasks
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            work.stages += 1
            work.tasks += st.numCompletedTasks
            work.failed_tasks += st.numFailedTasks
        return work


def tree_size(root: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def data_files(root: str) -> int:
    """Parquet data files under ``root`` (what a reader lists and opens)."""
    return sum(
        1 for _, _, names in os.walk(root) for n in names if n.endswith(".parquet")
    )


def peak_rss_mb(pid: int) -> float:
    """High-water resident set of a process (Linux VmHWM)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot (Linux /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])
