"""Spans around the benchmark's calls into the library, and Spark's
own job, stage and task data attributed to them.

A :class:`Tracer` records one span per public call the benchmark makes
(name, wall-clock start and end, parent span, request id, attributes).
Spans live in memory and are written out once, when the run ends.
With tracing off, :meth:`Tracer.span` returns a shared no-op context,
so the untraced run pays one attribute lookup per call.

Spark-side counts come from Spark's event log, which only the traced
run enables.  After the session stops, :func:`read_event_log` parses
it and :func:`attribute` charges every job (and its stages and tasks)
to the innermost span whose time window holds the job's submission
time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager, nullcontext
from typing import Dict, Iterator, List, Optional

_NO_SPAN = nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    def span(self, name: str, rid: Optional[str] = None, **attrs):
        if not self.enabled:
            return _NO_SPAN
        return self._span(name, rid, attrs)

    @contextmanager
    def _span(self, name: str, rid: Optional[str],
              attrs: dict) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent]["rid"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "rid": rid, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()

    def named(self, name: str) -> List[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> Dict[int, float]:
        """Span id -> duration minus the part of it that child spans
        cover (children of one span never overlap: the benchmark calls
        the library from one thread)."""
        out = {s["id"]: s["dur"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["dur"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


# -- Spark event log ---------------------------------------------------

def _acc(accumulables: list, name: str) -> int:
    for a in accumulables:
        if a.get("Name") == name:
            return int(a.get("Value") or 0)
    return 0


def read_event_log(log_dir: str) -> Dict[str, dict]:
    """Jobs, completed stages and per-stage task sums from the one
    application log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(paths)}")
    jobs: Dict[int, dict] = {}
    stages: Dict[int, dict] = {}
    stage_job: Dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submit": ev["Submission Time"] / 1e3,
                             "stages": []}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = info.get("Accumulables", [])
                stages[info["Stage ID"]] = {
                    "tasks": int(info.get("Number of Tasks", 0)),
                    "run_ms": _acc(acc, "internal.metrics.executorRunTime"),
                    "gc_ms": _acc(acc, "internal.metrics.jvmGCTime"),
                    "input_bytes": _acc(
                        acc, "internal.metrics.input.bytesRead"),
                    "shuffle_write_bytes": _acc(
                        acc, "internal.metrics.shuffle.write.bytesWritten"),
                }
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid in jobs:
            jobs[jid]["stages"].append(st)
    return jobs


def attribute(tracer: Tracer, jobs: Dict[str, dict]) -> None:
    """Add ``jobs``/``stages``/``tasks``/byte and time sums to every
    span: its own jobs plus those of its descendants."""
    for s in tracer.spans:
        s.update(jobs=0, stages=0, tasks=0, run_ms=0, gc_ms=0,
                 input_bytes=0, shuffle_write_bytes=0)
    for job in jobs.values():
        owner = None
        for s in tracer.spans:
            if s["start"] <= job["submit"] <= s["end"] and (
                    owner is None or s["start"] >= owner["start"]):
                owner = s
        while owner is not None:
            owner["jobs"] += 1
            for st in job["stages"]:
                owner["stages"] += 1
                for k in ("tasks", "run_ms", "gc_ms", "input_bytes",
                          "shuffle_write_bytes"):
                    owner[k] += st[k]
            owner = (tracer.spans[owner["parent"]]
                     if owner["parent"] is not None else None)
