"""Spans around the engine's layer boundaries, and Spark's own stage metrics.

The tracer replaces the module and class attributes each layer is called
through with timing wrappers, so the engine itself is untouched.  Spans
(name, start, end, parent, request id) stay in memory until the run ends.
A wrapper that launches Spark jobs also sets the job group of its calling
thread to the path of layer names it runs under, so stages read back from
Spark's event log can be charged to the layers that ran them.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Span:
    __slots__ = ("id", "parent", "name", "request", "t0", "t1", "thread")

    def __init__(self, sid, parent, name, request, thread):
        self.id, self.parent, self.name, self.request = sid, parent, name, request
        self.thread = thread
        self.t0 = time.perf_counter()
        self.t1 = self.t0

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "request": self.request, "start": self.t0, "end": self.t1,
                "thread": self.thread}


class Tracer:
    """Spans, counters and sampled calls of one traced pass, and the Spark
    stages in ``log_dir``, the session's event-log directory."""

    def __init__(self, log_dir: str | None = None, sc=None):
        self.log_dir, self.sc = log_dir, sc
        self._stages: list[dict] | None = None
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.calls: dict[str, list[dict]] = defaultdict(list)
        self.request = 0
        # open spans whose work may start threads: (span id, job group)
        self._anchors: list[tuple[int, str | None]] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # ---- spans ----------------------------------------------------------
    def _stack(self) -> list[Span]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def active(self, name: str) -> bool:
        return any(s.name == name for s in self._stack())

    def _set_group(self, group: str | None) -> str | None:
        prev = getattr(self._tls, "group", None)
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP, group)
        self._tls.group = group
        return prev

    @contextmanager
    def span(self, name: str, spark_jobs: bool = False, anchor: bool = False):
        """A span.  Job groups are paths of layer names, e.g.
        ``append/incremental.build_index/postings.stats_hot_scan``.  A
        thread with no open span of its own continues under the innermost
        open ``anchor`` span (one whose work starts threads)."""
        stack = self._stack()
        if stack:
            parent, parent_group = stack[-1].id, getattr(self._tls, "group", None)
        else:
            parent, parent_group = self._anchors[-1] if self._anchors else (None, None)
        sp = Span(next(self._ids), parent, name, self.request, threading.get_ident())
        stack.append(sp)
        prev = None
        if spark_jobs:
            prev = self._set_group(f"{parent_group}/{name}" if parent_group else name)
        if anchor:
            self._anchors.append((sp.id, getattr(self._tls, "group", None)))
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            if anchor:
                self._anchors.pop()
            if spark_jobs:
                self._set_group(prev)
            with self._lock:
                self.spans.append(sp)

    def op(self, name: str, request: int):
        """One benchmark operation: the root span of a request."""
        self.request = request
        return self.span(name, spark_jobs=True, anchor=True)

    def count(self, key: str, n: float = 1.0) -> None:
        with self._lock:
            self.counters[key] += n

    # ---- wrappers -------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, spark_jobs: bool = False, anchor: bool = False,
             before=None, after=None, sample=None) -> None:
        """Time calls to ``owner.attr`` as spans called ``name``.  ``before``
        and ``after`` see the arguments (and result); with ``sample``, each
        call's duration, result and ``sample()`` readings taken before and
        after it are kept in ``calls[name]``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, spark_jobs, anchor) as sp:
                if before is not None:
                    before(args, kwargs)
                s0 = sample() if sample is not None else None
                out = orig(*args, **kwargs)
                if sample is not None:
                    rec = {"dur": time.perf_counter() - sp.t0, "out": out,
                           "before": s0, "after": sample()}
                    with self._lock:
                        self.calls[name].append(rec)
                if after is not None:
                    after(args, kwargs, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---- reports ---------------------------------------------------------
    def self_times(self, under: str | None = None) -> dict[str, dict]:
        """Per span name: calls, total seconds, and self seconds (duration
        minus the union of its children's intervals).  With ``under``, only
        spans that have an ancestor of that name count."""
        children: dict[int, list[Span]] = defaultdict(list)
        by_id = {s.id: s for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)

        def inside(s: Span) -> bool:
            p = by_id.get(s.parent)
            while p is not None:
                if p.name == under:
                    return True
                p = by_id.get(p.parent)
            return False

        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            if under is not None and not inside(s):
                continue
            covered, end = 0.0, s.t0
            for c in sorted(children.get(s.id, ()), key=lambda c: c.t0):
                lo, hi = max(c.t0, end), min(c.t1, s.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            row = out[s.name]
            row["calls"] += 1
            row["total_s"] += s.t1 - s.t0
            row["self_s"] += (s.t1 - s.t0) - covered
        return dict(out)

    def stages(self) -> list[dict]:
        """Completed stages so far (read once, when first asked)."""
        if self._stages is None:
            self._stages = event_log_stages(self.log_dir) if self.log_dir else []
        return self._stages

    def stage_totals(self, *layers: str) -> dict[str, float]:
        """Stage totals over the stages charged to any of ``layers`` (every
        tagged stage when none is named)."""
        stages = self.stages()
        if layers:
            stages = [s for s in stages
                      if s["group"] and set(s["group"].split("/")) & set(layers)]
        return stage_totals(stages)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


# ---- Spark event log ------------------------------------------------------
_ACC = {
    "internal.metrics.executorRunTime": "task_ms",
    "internal.metrics.executorCpuTime": "task_cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.write.recordsWritten": "shuffle_records",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.recordsRead": "input_records",
}


def event_log_stages(log_dir: str) -> list[dict]:
    """Completed stages from every uncompressed event log in ``log_dir``:
    job group, task time, shuffle bytes and records, spill."""
    stages = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        group_of: dict[int, str | None] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP)
                    for sid in ev.get("Stage IDs", []):
                        group_of[int(sid)] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    row = {"stage": int(info["Stage ID"]), "group": group_of.get(int(info["Stage ID"])),
                           "tasks": int(info.get("Number of Tasks", 0))}
                    for key in set(_ACC.values()):
                        row[key] = 0
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key is not None:
                            row[key] += int(float(acc.get("Value", 0)))
                    stages.append(row)
    return stages


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Sum of stage metrics over the tagged ones of ``stages``."""
    tot = {"stages": 0, "task_s": 0.0, "shuffle_write_bytes": 0, "shuffle_records": 0,
           "spill_bytes": 0}
    for st in stages:
        if st["group"] is None:
            continue
        tot["stages"] += 1
        tot["task_s"] += st["task_ms"] / 1000.0
        tot["shuffle_write_bytes"] += st["shuffle_write_bytes"]
        tot["shuffle_records"] += st["shuffle_records"]
        tot["spill_bytes"] += st["spill_bytes"]
    return tot


def by_group(stages: list[dict]) -> dict[str, dict]:
    """Stage totals per exact job-group path."""
    out: dict[str, dict] = {}
    for g in sorted({s["group"] for s in stages if s["group"]}):
        out[g] = stage_totals([s for s in stages if s["group"] == g])
    return out
