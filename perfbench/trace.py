"""Tracing for the benchmark: spans kept in memory, Spark job attribution
from the outside, and a streaming progress collector.

Spans are recorded in the benchmark's own files around the calls into each
layer's public functions; the program is not instrumented.  Spark jobs are
attributed to a span by submission time (a job belongs to the span whose
interval contains its submission), read from the driver's loopback REST
API.  Job groups are not used: ``routing.route`` writes sinks from plain
``ThreadPoolExecutor`` threads, whose jobs land outside the caller's group.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime, timezone


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one traced run.  ``span`` nests on the calling thread;
    ``record`` adds a finished span measured on another thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def _add(self, name: str, start: float, end: float, parent: int | None) -> Span:
        with self._lock:
            s = Span(len(self.spans), name, start, end, parent)
            self.spans.append(s)
        return s

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str):
        s = self._add(name, time.time(), float("nan"), self.current())
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def record(self, name: str, start: float, end: float, parent: int | None) -> Span:
        return self._add(name, start, end, parent)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, **fields) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s) | fields) + "\n")


def merge(intervals) -> list[tuple[float, float]]:
    """Sorted, disjoint union of (start, end) intervals."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    return sum(e - s for s, e in merge(intervals))


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_intervals(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    """The parts of each span's interval that none of its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        gaps, cur = [], s.start
        for a, b in merge(clip([(c.start, c.end) for c in children.get(s.id, ())], s.start, s.end)):
            if a > cur:
                gaps.append((cur, a))
            cur = max(cur, b)
        if s.end > cur:
            gaps.append((cur, s.end))
        out[s.id] = gaps
    return out


def self_s_by_name(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: the time covered by some instance of the
    name and by none of that instance's children.  Concurrent instances
    (sinks written from threads) count each second once."""
    selfs = self_intervals(spans)
    by_name: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).extend(selfs[s.id])
    return {name: union_length(iv) for name, iv in by_name.items()}


# ------------------------------------------------------------ Spark REST

def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


@dataclass
class Job:
    id: int
    submitted: float
    completed: float
    stage_ids: list[int]


@dataclass
class JobSet:
    """Jobs and per-stage metrics summed over stage attempts."""

    jobs: list[Job]
    stages: dict[int, dict[str, float]]

    def within(self, *spans: Span) -> list[Job]:
        """Jobs submitted inside any of ``spans``, each job once."""
        return [j for j in self.jobs if any(s.start <= j.submitted <= s.end for s in spans)]

    def metric(self, jobs: list[Job], key: str) -> float:
        return float(sum(self.stages.get(sid, {}).get(key, 0) for j in jobs for sid in j.stage_ids))

    def busy_s(self, jobs: list[Job]) -> float:
        return self.metric(jobs, "executorRunTime") / 1000.0

    def intervals(self) -> list[tuple[float, float]]:
        return [(j.submitted, j.completed) for j in self.jobs]


_STAGE_KEYS = ("executorRunTime", "shuffleWriteBytes", "diskBytesSpilled", "memoryBytesSpilled")


class SparkRest:
    """Reads jobs and stages of the running application from its UI."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("tracing needs the Spark UI (spark.ui.enabled=true)")
        self.base = f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled(self, timeout: float = 30.0) -> JobSet:
        """Snapshot once no job is running and the job list stopped growing
        (the UI store is fed by an asynchronous listener bus)."""
        deadline, last = time.time() + timeout, None
        while True:
            raw = self._get("/jobs")
            key = (len(raw), sum(j["status"] == "RUNNING" for j in raw))
            if key == last and key[1] == 0 or time.time() > deadline:
                break
            last = key
            time.sleep(0.3)
        jobs = [
            Job(j["jobId"], _epoch(j.get("submissionTime")), _epoch(j.get("completionTime")) or time.time(), j["stageIds"])
            for j in raw
            if j.get("submissionTime")
        ]
        stages: dict[int, dict[str, float]] = {}
        for st in self._get("/stages"):
            acc = stages.setdefault(st["stageId"], dict.fromkeys(_STAGE_KEYS, 0))
            for k in _STAGE_KEYS:
                acc[k] += st.get(k, 0)
        return JobSet(sorted(jobs, key=lambda j: j.id), stages)


# ------------------------------------------------------------ streaming

def progress_collector():
    """A ``StreamingQueryListener`` keeping every progress event (a query's
    ``recentProgress`` keeps only the last 100)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressCollector(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                self.events.append(
                    {"id": str(p.id), "batch": p.batchId, "rows": p.numInputRows, "ms": dict(p.durationMs)}
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def for_query(self, query_id: str, n_batches: int, timeout: float = 30.0) -> list[dict]:
            """Progress events of one query, waiting for ``n_batches``."""
            deadline = time.time() + timeout
            while True:
                with self._lock:
                    got = [e for e in self.events if e["id"] == query_id and e["rows"] > 0]
                if len(got) >= n_batches or time.time() > deadline:
                    return sorted(got, key=lambda e: e["batch"])
                time.sleep(0.1)

    return ProgressCollector()
