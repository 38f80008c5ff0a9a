"""Spans around calls into the engine's layers, with Spark job attribution.

A span is a named interval on the driver. Each span runs under its own Spark
job group (``SparkContext.setJobGroup``), so every job the span's thread
submits — including AQE and broadcast jobs, which inherit the thread's local
properties — is tagged with it. When the span ends the tracer:

1. reads the group's job ids from ``statusTracker().getJobIdsForGroup`` and
   polls until every job reports a terminal status and the id set has
   stopped changing (the status store is fed by the asynchronous listener
   bus, so a job can finish before the store knows about it);
2. reads each job's submission/completion time and each stage attempt's
   metrics from the UI REST API
   (``{uiWebUrl}/api/v1/applications/{app}/{jobs,stages}/{id}``);
3. restores the parent span's job group, so a parent's own jobs and its
   children's jobs never mix.

Job ids are never diffed globally (Spark evicts jobs past
``spark.ui.retainedJobs``); a span reads only its own group, right when it
ends. A stage attempt is attributed once, to the first span that reads it
(the one that ran it: a stage reused by a later job shows up again under
that job, with the earlier attempt's metrics). If the REST API cannot be
reached, the REST-derived counters are ``None`` and a warning is recorded;
the run does not fail. A single job or stage the API no longer has nulls
only the REST counters of the span that asked for it.

Spans are kept in memory as a tree (``Span.children``); the benchmark
writes the first traced pass's tree into its ``detail`` output line.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone
from urllib.parse import urlsplit

_TERMINAL = {"SUCCEEDED", "FAILED"}
_RAN = {"COMPLETE", "FAILED"}


@dataclass
class Span:
    name: str
    parent: "Span | None"
    group: str
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)
    job_ids: list[int] = field(default_factory=list)
    # [(submitted, completed)] epoch seconds of this span's own jobs
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    # own-group stage totals; None when the REST API was unreachable
    cpu_s: float | None = 0.0
    run_s: float | None = 0.0
    gc_s: float | None = 0.0
    shuffle_bytes: int | None = 0
    spill_bytes: int | None = 0
    # tracer bookkeeping inside this span: its own job-group switch at the
    # start, and every descendant's switch and metric reads
    overhead_s: float = 0.0
    # bookkeeping right after this span ends (group restore, metric reads):
    # outside its wall, but inside the caller's
    collect_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - sum(c.wall_s for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def total(self, attr: str):
        """Inclusive value: this span's own group plus every descendant's."""
        vals = [getattr(s, attr) for s in self.walk()]
        if any(v is None for v in vals):
            return None
        return sum(vals)

    @property
    def jobs(self) -> int:
        return sum(len(s.job_ids) for s in self.walk())

    @property
    def driver_s(self) -> float | None:
        """Wall not covered by any Spark job of this span or its descendants."""
        ivs = sorted(
            (max(a, self.start), min(b, self.end))
            for s in self.walk()
            for a, b in s.job_intervals
        )
        if any(s.cpu_s is None for s in self.walk()):
            return None
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return max(0.0, self.wall_s - covered)


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class Tracer:
    """Collects spans for one SparkContext. Not thread-safe: spans must be
    opened and closed on the thread that submits the jobs."""

    def __init__(self, spark, settle_timeout_s: float = 10.0) -> None:
        self.sc = spark.sparkContext
        self.settle_timeout_s = settle_timeout_s
        self.warnings: list[str] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._claimed: set[tuple[int, int]] = set()
        #: seconds spent switching job groups and reading job/stage metrics
        self.overhead_s = 0.0
        url = self.sc.uiWebUrl
        # the UI listens on every interface; always ask the loopback one
        self._rest = (
            f"http://127.0.0.1:{urlsplit(url).port}/api/v1/applications/"
            f"{self.sc.applicationId}"
            if url
            else None
        )
        if self._rest is None:
            self._warn("Spark UI is disabled: REST counters are null")

    def _warn(self, msg: str) -> None:
        if msg not in self.warnings:
            self.warnings.append(msg)

    def _get(self, path: str):
        if self._rest is None:
            return None
        try:
            with urllib.request.urlopen(f"{self._rest}/{path}", timeout=5) as r:
                return json.load(r)
        except urllib.error.HTTPError as e:
            # one job or stage gone (e.g. evicted past spark.ui.retained*):
            # only the span asking for it loses its REST counters
            self._warn(f"Spark REST {path}: HTTP {e.code}; that span's REST counters are null")
            return None
        except (urllib.error.URLError, OSError, ValueError) as e:
            self._warn(f"Spark REST API unreachable ({e}): REST counters are null")
            self._rest = None
            return None

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is not None and parent.name == name:
            # re-entrant call of the same layer function (e.g. one table
            # write delegating to another): one span, not two
            yield parent
            return
        t0 = time.perf_counter()
        s = Span(name, parent, f"lakebench-{next(self._ids)}", time.time())
        overhead0 = self.overhead_s
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        self._set_group(s)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            t0 = time.perf_counter()
            s.overhead_s = self.overhead_s - overhead0
            self._stack.pop()
            self._set_group(parent)
            self._collect(s)
            s.collect_s = time.perf_counter() - t0
            self.overhead_s += s.collect_s

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as span ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def unattributed_jobs(self, span: Span) -> list[int] | None:
        """Jobs the REST API saw submitted during ``span`` that no span in
        its subtree claimed (should be empty); None without REST."""
        jobs = self._get("jobs")
        if jobs is None:
            return None
        claimed = {j for s in span.walk() for j in s.job_ids}
        return sorted(
            j["jobId"]
            for j in jobs
            if span.start <= (_rest_time(j.get("submissionTime")) or 0) <= span.end
            and j["jobId"] not in claimed
        )

    def _settled_job_ids(self, group: str) -> list[int]:
        st = self.sc.statusTracker()
        deadline = time.monotonic() + self.settle_timeout_s
        prev = None
        while True:
            ids = sorted(st.getJobIdsForGroup(group))
            infos = [st.getJobInfo(j) for j in ids]
            done = all(i is not None and i.status in _TERMINAL for i in infos)
            if done and ids == prev:
                return ids
            if time.monotonic() > deadline:
                self._warn(f"job group {group} did not settle in {self.settle_timeout_s}s")
                return ids
            prev = ids if done else None
            time.sleep(0.02)

    def _collect(self, s: Span) -> None:
        s.job_ids = self._settled_job_ids(s.group)
        stage_ids: set[int] = set()
        complete = True
        for jid in s.job_ids:
            job = self._get(f"jobs/{jid}")
            if job is None:
                complete = False
                break
            a, b = _rest_time(job.get("submissionTime")), _rest_time(job.get("completionTime"))
            if a is not None and b is not None:
                s.job_intervals.append((a, b))
            stage_ids.update(job.get("stageIds", []))
        for sid in sorted(stage_ids):
            attempts = self._get(f"stages/{sid}?details=false")
            if attempts is None:
                complete = False
                break
            for att in attempts:
                key = (sid, att.get("attemptId", 0))
                if att.get("status") not in _RAN or key in self._claimed:
                    continue
                self._claimed.add(key)
                s.cpu_s += att.get("executorCpuTime", 0) / 1e9
                s.run_s += att.get("executorRunTime", 0) / 1e3
                s.gc_s += att.get("jvmGcTime", 0) / 1e3
                s.shuffle_bytes += att.get("shuffleReadBytes", 0) + att.get("shuffleWriteBytes", 0)
                s.spill_bytes += att.get("memoryBytesSpilled", 0) + att.get("diskBytesSpilled", 0)
        if not complete or self._rest is None:
            s.cpu_s = s.run_s = s.gc_s = s.shuffle_bytes = s.spill_bytes = None
            s.job_intervals = []
