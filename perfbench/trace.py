"""Spans around the engine's public functions, kept in memory.

A :class:`Tracer` wraps a layer's public function so each call records
a span (name, start, end, parent, run id) and tags the Spark jobs it
starts with a job group of its own. Job groups are thread-local, so a
span opened in a worker thread of ``run_batch_pipeline`` still tags
its own jobs; such a span's parent is the current run's root span.

An overlay span (``overlay=True``) only records its time: it sets no
job group, so the jobs it starts stay with the span that called it,
and it is not subtracted from its parent's self time. The catalog's
read and write helpers are traced this way, so a stage's figures
include the catalog I/O it does. Spans stay in memory until
:meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass

JOB_GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: int
    overlay: bool = False


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it that its child spans
    cover. Children may overlap each other (parallel legs), so their
    intervals are merged before subtracting. Overlay spans are not
    subtracted."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None and not s.overlay:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (s.end - s.start) - covered
    return out


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.run_id = 0
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object, bool]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, *, root: bool = False, overlay: bool = False):
        stack = self._stack()
        span_id = next(self._ids)
        parent = stack[-1] if stack else (None if root else self.root)
        if root:
            self.root = span_id
        tag = self.sc is not None and not overlay
        prev_group = None
        if tag:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"{JOB_GROUP_PREFIX}{span_id}")
        if not overlay:
            stack.append(span_id)
        start = time.perf_counter()
        try:
            yield span_id
        finally:
            end = time.perf_counter()
            if not overlay:
                stack.pop()
            if tag:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(
                    Span(span_id, name, start, end, parent, self.run_id, overlay)
                )

    def wrap(self, fn, name: str, *, root: bool = False, overlay: bool = False):
        def wrapper(*args, **kwargs):
            with self.span(name, root=root, overlay=overlay):
                return fn(*args, **kwargs)

        return wrapper

    def patch(self, owner, attr: str, name: str, *, overlay: bool = False) -> None:
        """Replace ``owner.attr`` by a traced wrapper until :meth:`unpatch`."""
        had_own = attr in vars(owner)
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original, had_own))
        setattr(owner, attr, self.wrap(original, name, overlay=overlay))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original, had_own = self._patches.pop()
            if had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.loads(resp.read().decode())


def spark_job_stats(spark, span_ids) -> dict[int, dict[str, int]]:
    """Jobs, completed tasks and shuffle bytes (read + written) of the
    jobs each span in ``span_ids`` tagged, from the driver's status
    REST API. The API keeps only the latest ``spark.ui.retainedJobs``
    jobs, so call this after each unit of work. A stage that several
    jobs share is counted once, for the first job that lists it."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    stages = {
        st["stageId"]: st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
        for st in _get_json(f"{base}/stages")
        if st.get("status") != "SKIPPED"
    }
    wanted = {f"{JOB_GROUP_PREFIX}{i}": i for i in span_ids}
    out = {i: {"jobs": 0, "tasks": 0, "shuffle_bytes": 0} for i in span_ids}
    seen: set[int] = set()
    for job in sorted(_get_json(f"{base}/jobs"), key=lambda j: j["jobId"]):
        span_id = wanted.get(job.get("jobGroup"))
        if span_id is None:
            continue
        new = [s for s in job.get("stageIds", []) if s not in seen]
        seen.update(new)
        rec = out[span_id]
        rec["jobs"] += 1
        rec["tasks"] += job.get("numCompletedTasks", 0)
        rec["shuffle_bytes"] += sum(stages.get(s, 0) for s in new)
    return out
