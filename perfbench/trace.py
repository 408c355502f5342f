"""Spans around calls into the product's layers, and the Spark work each
span caused.

Tracing lives entirely in the benchmark: ``Tracer.patch`` replaces a
module attribute with a wrapper for the length of a traced iteration,
and every wrapper opens a span. A span tags the Spark jobs its thread
submits by setting the thread's job description to ``pb:<span id>``;
after the iteration the driver UI's REST API gives each job's stages and
their task metrics, which are summed per layer.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from dataclasses import dataclass

TAG = "pb:"


@dataclass
class Span:
    id: int
    name: str
    db: str | None
    thread: str
    start: float
    parent: int | None
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover. Children run in parallel threads may overlap each other;
    the union is subtracted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, [])]
        out[s.id] = s.duration - _covered([k for k in kids if k[1] > k[0]])
    return out


class Tracer:
    """Collects spans in memory; patches and restores product functions."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, db: str | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            span = Span(len(self.spans), name, db, threading.current_thread().name,
                        time.time(), parent)
            self.spans.append(span)
        if self._root is None:
            self._root = span.id
        stack.append(span.id)
        self.sc.setJobDescription(f"{TAG}{span.id}")
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        if span.id == self._root:
            self._root = None
        outer = stack[-1] if stack else None
        self.sc.setJobDescription(None if outer is None else f"{TAG}{outer}")

    def call(self, name: str, fn, *args, db: str | None = None, **kwargs):
        span = self.open(name, db)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    def patch(self, owner, attr: str, name: str, db_of) -> None:
        """Wrap ``owner.attr`` so each call opens span ``name``;
        ``db_of(args)`` names the database the call works on."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            return self.call(name, orig, *args, db=db_of(args), **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class SparkRest:
    """The driver UI's REST API for the running application."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}/"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self.get("jobs")), default=-1)

    def cached_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in self.get("storage/rdd"))

    def jobs_after(self, job_id: int, timeout: float = 10.0) -> list[dict]:
        """Jobs with id > ``job_id``, once the UI has recorded them all as
        finished (its listener runs behind the scheduler)."""
        deadline = time.time() + timeout
        prev = None
        while True:
            jobs = [j for j in self.get("jobs") if j["jobId"] > job_id]
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            key = sorted((j["jobId"], j["status"]) for j in jobs)
            if done and key == prev or time.time() > deadline:
                return jobs
            prev = key
            time.sleep(0.2)

    def stages(self) -> dict[int, dict]:
        """Completed stages by id (latest attempt)."""
        return {s["stageId"]: s for s in self.get("stages?status=complete")}


#: Stage metric fields summed per layer, with the name used in output.
STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "task_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "rows": ("outputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
}


def spark_work(jobs: list[dict], stages: dict[int, dict], owner) -> dict[str, dict]:
    """Sum jobs, completed stages and their task metrics per group.

    ``owner(job)`` names the group a job belongs to. A stage shared by
    several jobs counts once, for the first job that lists it."""
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        acc = out.setdefault(owner(job), {"jobs": 0, "stages": 0,
                                          **{k: 0.0 for k in STAGE_FIELDS}})
        acc["jobs"] += 1
        for sid in job.get("stageIds", []):
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            acc["stages"] += 1
            for k, (field, scale) in STAGE_FIELDS.items():
                acc[k] += stages[sid].get(field, 0) * scale
    for acc in out.values():
        acc["spill_bytes"] += acc.pop("disk_spill_bytes")
    return out


def job_span(job: dict) -> int | None:
    """The span id a job was tagged with, or None."""
    desc = job.get("description") or ""
    return int(desc[len(TAG):]) if desc.startswith(TAG) else None
