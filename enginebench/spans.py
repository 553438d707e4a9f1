"""Spans around the engine's layer boundaries, attributed to Spark work.

A traced run wraps public callables of ``letarette_spark`` in spans
(name, start, end, parent, query id). Each wrapper is installed where the
caller looks the name up: a class attribute for methods, the importing
module's global for names imported with ``from … import``. Spans stay in
memory until the run ends.

While a span is open, its id rides on the calling thread's Spark local
property ``enginebench.span``, so every job that thread submits carries
it. Jobs submitted from other threads (the builder's thread pools) lose
the property; they are attributed to the innermost span open at their
submission time and counted as unattributed. ``attribute`` reads the
local, uncompressed event log and sums jobs, stages, tasks, task CPU,
shuffle and spill per span.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "enginebench.span"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    qid: str | None
    end: float = 0.0
    jobs: int = 0
    unattributed_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None                  # SparkContext, once the session exists
        self._tl = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    def _tag(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None if sid is None else str(sid))

    @contextmanager
    def span(self, name: str, qid: str | None = None):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            s = Span(
                len(self.spans), name, time.time(),
                parent.sid if parent else None,
                qid if qid is not None else (parent.qid if parent else None),
            )
            self.spans.append(s)
        st.append(s)
        self._tag(s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            st.pop()
            self._tag(parent.sid if parent else None)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``;
        ``on_result(span, result)`` may record facts about the call."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name) as s:
                out = orig(*a, **kw)
                if on_result is not None:
                    on_result(s, out)
                return out

        wrapper.__name__ = orig.__name__
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Span duration minus the union of its children's intervals."""
        iv = sorted((c.start, c.end) for c in kids.get(s.sid, []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return s.dur - covered

    def subtree(self, s: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x.sid, []))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")

    # ------------------------------------------------------------------
    def attribute(self, eventlog_dir: str) -> dict:
        """Attribute every job, stage and task in the event log to a span.
        Returns totals for the consistency checks."""
        files = glob.glob(os.path.join(eventlog_dir, "*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {eventlog_dir}, found {files}")
        by_id = {s.sid: s for s in self.spans}
        job_span: dict[int, Span] = {}
        stage_span: dict[int, Span] = {}
        n_jobs = n_tasks = 0
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    n_jobs += 1
                    sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    if sid is not None:
                        s = by_id[int(sid)]
                    else:
                        s = self._innermost_at(ev["Submission Time"] / 1000.0)
                        s.unattributed_jobs += 1
                    s.jobs += 1
                    job_span[ev["Job ID"]] = s
                    for st in ev.get("Stage IDs", []):
                        stage_span.setdefault(st, s)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    s = stage_span.get(info["Stage ID"])
                    if s is not None:
                        s.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    s = stage_span.get(ev["Stage ID"])
                    if s is None:
                        continue
                    n_tasks += 1
                    s.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    rd = m.get("Shuffle Read Metrics") or {}
                    s.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    s.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    s.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        return {
            "jobs": n_jobs,
            "tasks": n_tasks,
            "jobs_on_spans": sum(s.jobs for s in self.spans),
            "unattributed_jobs": sum(s.unattributed_jobs for s in self.spans),
        }

    def _innermost_at(self, t: float) -> Span:
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        if best is None:
            raise RuntimeError(f"job submitted at {t} outside every span")
        return best
