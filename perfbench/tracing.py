"""Tracing for the benchmark's traced runs, all of it from outside the engine.

Three sources, none of which needs a change to the program:

- ``Tracer``: spans kept in memory (run -> batch -> layer call), each with
  name, start, end and parent, opened by wrappers that the traced task
  installs around the layers' public functions;
- ``Progress``: a ``StreamingQueryListener`` collecting each micro-batch's
  ``durationMs`` phases (the untraced run uses it too, for
  ``batch_mean_ms``);
- ``read_event_log``: Spark's event log, which also sees the jobs that
  the streaming query thread submits.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from typing import Callable, Optional

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans.  A span's parent is the innermost span open on the
    same thread, else the open micro-batch span (the ingest spine writes
    its artifacts from a thread pool), else the root."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.batch: Optional[dict] = None

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, parent: Optional[dict], batch: Optional[int], attrs: dict) -> dict:
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "batch": batch,
            "name": name,
            "start": time.time(),
            "end": None,
            "thread": threading.current_thread().name,
            "attrs": attrs,
        }
        with self._lock:
            self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        batch = self.batch
        rec = self._open(name, stack[-1] if stack else batch, batch["batch"] if batch else None, attrs)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    @contextlib.contextmanager
    def batch_span(self, batch_id: int, parent: dict):
        """A micro-batch: parented to the run span, which is open on the
        main thread while the batch runs on the streaming thread."""
        rec = self._open("batch", parent, batch_id, {"batch_id": batch_id})
        self.batch = rec
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.batch = None

    def wrap(
        self,
        owner,
        attr: str,
        name: str,
        attrs: Optional[Callable] = None,
        keep: Optional[dict] = None,
    ) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``.
        ``attrs(*args, **kwargs)`` adds span attributes; with ``keep`` the
        last return value is stored under ``keep[name]``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, **(attrs(*args, **kwargs) if attrs else {})):
                out = fn(*args, **kwargs)
            if keep is not None:
                keep[name] = out
            return out

        setattr(owner, attr, wrapper)

    def self_times(self) -> dict:
        """Self time of each span, by id: its duration minus the part of
        its interval that its children cover."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        return {s["id"]: self_time(s, children.get(s["id"], [])) for s in self.spans}

    def write_jsonl(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, self_s=own[s["id"]])) + "\n")

    def self_time_by_name(self) -> dict:
        """(count, total self time) per span name."""
        own, out = self.self_times(), {}
        for s in self.spans:
            n, t = out.get(s["name"], (0, 0.0))
            out[s["name"]] = (n + 1, t + own[s["id"]])
        return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: dict, children: list) -> float:
    end = span["end"] if span["end"] is not None else span["start"]
    return (end - span["start"]) - covered(
        [(c["start"], c["end"] or c["start"]) for c in children], span["start"], end
    )


class Progress(StreamingQueryListener):
    """Micro-batch progress events, plus a flag set when the query ends
    (the listener bus delivers every progress event before that one)."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append(
            {"batch_id": p.batchId, "rows": p.numInputRows, "ms": dict(p.durationMs)}
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.set()

    def non_empty(self) -> list[dict]:
        return [b for b in self.batches if b["rows"] > 0]


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from Spark's event log: submission and completion time (epoch
    seconds), completed stages, finished tasks and shuffle bytes written."""
    jobs: dict = {}
    stage_job: dict = {}
    # rolling (v2) event logs are a directory of ``events_<n>_<app>`` files
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p) and "appstatus" not in p):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = {
                        "start": e["Submission Time"] / 1000,
                        "end": None,
                        "stages": 0,
                        "tasks": 0,
                        "shuffle_bytes": 0,
                    }
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif ev == "SparkListenerStageCompleted":
                    jid = stage_job.get(e["Stage Info"]["Stage ID"])
                    if jid in jobs:
                        jobs[jid]["stages"] += 1
                elif ev == "SparkListenerTaskEnd":
                    jid = stage_job.get(e["Stage ID"])
                    if jid in jobs:
                        jobs[jid]["tasks"] += 1
                        metrics = e.get("Task Metrics") or {}
                        jobs[jid]["shuffle_bytes"] += (
                            metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                        )
    return [j for j in jobs.values() if j["end"] is not None]


def job_counts(jobs: list[dict], lo: float, hi: float) -> dict:
    """Counts over the jobs submitted within ``[lo, hi]``."""
    sel = [j for j in jobs if lo <= j["start"] <= hi]
    return {
        "spark.jobs": len(sel),
        "spark.stages": sum(j["stages"] for j in sel),
        "spark.tasks": sum(j["tasks"] for j in sel),
        "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in sel),
    }
