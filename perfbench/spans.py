"""Spans recorded around calls into the program, and Spark event-log totals.

Spans are kept in memory (name, start, end, parent id, attributes) and
written as JSON when the benchmark ends.  ``Tracer.wrap`` replaces a
public function or method of a program module with a wrapper that
records one span per call; ``unwrap`` restores the originals, so a run
can switch tracing off between passes.

Per-stage executor metrics come from Spark's own event log
(``spark.eventLog.enabled``), parsed after the session stops.  Jobs are
attributed by the job description the benchmark sets before each
action (``label`` spans do that).  No accumulators are used: speculation
is on, and accumulators would count duplicated tasks twice.
"""
from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time


class Tracer:
    def __init__(self):
        self.spans: list = []
        self._stack: list = []
        self._patched: list = []
        self.set_label = None  # callable(str | None): sets the Spark job description

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None, **attrs):
        """Record a span; with ``label``, Spark jobs started inside it
        carry that job description (restored on exit)."""
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        if label is not None:
            attrs["label"] = label
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(sid)
        if label is not None and self.set_label:
            self.set_label(label)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if label is not None and self.set_label:
                self.set_label(self._enclosing_label())

    def _enclosing_label(self):
        for sid in reversed(self._stack):
            lab = (self.spans[sid].get("attrs") or {}).get("label")
            if lab:
                return lab
        return None

    def wrap(self, owner, attr: str, name=None) -> None:
        """Record a span around every call of ``owner.attr``.  ``name`` is
        the span name, or a callable of the call's arguments returning
        (span name, job label)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if callable(name):
                sname, label = name(*args, **kwargs)
            else:
                sname, label = name or f"{owner.__name__}.{attr}", None
            with tracer.span(sname, label=label):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def by_name(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def _zero() -> dict:
    return {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "input_bytes": 0}


def event_log_totals(log_dir: str) -> dict:
    """Task metrics summed per job description, from every event log in
    ``log_dir``: executor run and CPU time over all task attempts
    (speculative copies are real work), bytes over successful ones."""
    stage_label: dict = {}
    out: dict = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", ()):
                        stage_label.setdefault(sid, label)
                elif kind == "SparkListenerStageSubmitted":
                    label = (ev.get("Properties") or {}).get("spark.job.description")
                    sid = ev["Stage Info"]["Stage ID"]
                    if label:
                        stage_label[sid] = label
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    agg = out.setdefault(stage_label.get(ev["Stage ID"]), _zero())
                    agg["tasks"] += 1
                    agg["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    if (ev.get("Task End Reason") or {}).get("Reason") == "Success":
                        agg["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                        agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                        agg["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return out
