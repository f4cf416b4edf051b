"""Traced-run recorder: spans, Spark job counters and store listings.

Spans are (name, start, end, parent, request id) tuples kept in memory and
written out when the run ends. They are recorded from this package's own
files only: either around a call the benchmark makes, or by replacing a
public function in the namespace of the engine module that calls it (the
ask pipeline binds ``classify_intent``, ``ner_filter``, ``tag_entities``
and ``embed_query`` by name, so those are wrapped in that module).

An untraced run uses ``NullRecorder``: no wrapping, no job counting, so
the end-to-end figures carry no tracing cost. The traced run's extra cost
is reported as its own metric (see ``Recorder.overhead_s``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time


class NullRecorder:
    """Recorder stand-in for untraced runs: every hook is a no-op."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def request(self, kind: str, req_id: str):
        yield

    def wrap(self, owner, attr: str, name: str) -> None:
        pass

    def restore(self) -> None:
        pass


class Recorder:
    """Span + Spark-counter recorder for the traced run."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.spans: list[tuple] = []     # (name, start, end, parent, req)
        self._stack: list[int] = []
        self._req: str | None = None
        self._patched: list[tuple] = []
        self._seen_jobs: set[int] = set()
        self.requests: dict[str, dict] = {}   # req_id -> counters
        self.overhead_s = 0.0

    # ---------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, 0.0, 0.0, parent, self._req))
        self._stack.append(idx)
        start = time.perf_counter()
        self.overhead_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = (name, start, end, parent, self._req)
            self.overhead_s += time.perf_counter() - end

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr (module function or class method) with a
        span-recording wrapper; `restore` puts the original back."""
        orig = getattr(owner, attr)
        rec = self

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with rec.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------- spark counters
    def _all_job_ids(self, group: str | None) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    @contextlib.contextmanager
    def request(self, kind: str, req_id: str):
        """One client request: its spans share `req_id`, its Spark jobs run
        under job group `req_id`. Jobs submitted from engine-internal
        worker threads carry no group, so new ungrouped jobs seen during
        the request are counted too (requests run one at a time)."""
        t_in = time.perf_counter()
        self._seen_jobs |= self._all_job_ids(None)
        self.sc.setJobGroup(req_id, kind)
        self._req = req_id
        self.overhead_s += time.perf_counter() - t_in
        try:
            with self.span(f"request.{kind}"):
                yield
        finally:
            t_out = time.perf_counter()
            self._req = None
            jobs = self._all_job_ids(req_id) | (
                self._all_job_ids(None) - self._seen_jobs)
            self._seen_jobs |= jobs
            stages = tasks = 0
            for j in jobs:
                info = self.tracker.getJobInfo(j)
                if info is None:
                    continue
                for s in info.stageIds:
                    stages += 1
                    st = self.tracker.getStageInfo(s)
                    tasks += st.numTasks if st is not None else 0
            self.requests[req_id] = {"kind": kind, "jobs": len(jobs),
                                     "stages": stages, "tasks": tasks}
            self.sc.setJobGroup("perfbench-idle", "idle")
            self.overhead_s += time.perf_counter() - t_out

    def job_floor_s(self, spark, n: int = 5) -> float:
        """Median wall time of a trivial one-task job (planning included)."""
        times = []
        for _ in range(n):
            t = time.perf_counter()
            spark.range(0, 1, 1, 1).count()
            times.append(time.perf_counter() - t)
        return statistics.median(times)

    # ------------------------------------------------------------- analysis
    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover
        (children of one span run one after another on this thread)."""
        child = [0.0] * len(self.spans)
        for name, s, e, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += e - s
        return [e - s - child[i]
                for i, (_, s, e, _, _) in enumerate(self.spans)]

    def per_request(self, name: str, kind: str, self_time: bool = False
                    ) -> float:
        """Mean over requests of `kind` of the summed time of spans `name`
        inside each request (0 when no such request ran)."""
        reqs = [r for r, c in self.requests.items() if c["kind"] == kind]
        if not reqs:
            return 0.0
        selfs = self.self_times() if self_time else None
        tot = {r: 0.0 for r in reqs}
        for i, (n, s, e, _, req) in enumerate(self.spans):
            if n == name and req in tot:
                tot[req] += selfs[i] if self_time else e - s
        return sum(tot.values()) / len(reqs)

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e, _, _ in self.spans if n == name)

    def counter_mean(self, kind: str, key: str) -> float:
        vals = [c[key] for c in self.requests.values() if c["kind"] == kind]
        return sum(vals) / len(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "requests": self.requests}, f)


def store_listing(root: str) -> tuple[int, int]:
    """(bytes, data files) under a store directory."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def file_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)
