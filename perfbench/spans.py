"""Spans, py4j round trips, Spark jobs/stages and event-log folding.

Everything here lives in the benchmark, not in the package: spans are
opened around calls into the package's public functions by replacing
module attributes at run time (``Tracer.wrap``) and put back afterwards
(``Tracer.unwrap_all``).

- A span records name, start, end, parent and run id, and is kept in
  memory until ``Tracer.dump`` writes them all out.
- py4j round trips are counted by wrapping ``send_command`` on the py4j
  connection classes, and charged to the innermost open span.
- Each span sets its own Spark job group, so ``statusTracker`` gives the
  jobs (and their stages) each span launched. A streaming query files
  its micro-batch jobs under its own run id, so a span that runs a
  query adds that run id to its ``groups``.
- ``fold_event_log`` reads the run's ``spark.eventLog`` and sums shuffle
  bytes written, disk spill and GC time per job group, plus the task
  times per stage (for skew).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.enabled = True
        self.sc = None
        self._local = threading.local()
        self._main = self._stack()
        self._ids = 0
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        """Innermost open span of this thread; a callback thread (a
        ``foreachBatch`` sink) falls back to the main thread's span."""
        st = self._stack()
        if st:
            return st[-1]
        return self._main[-1] if self._main else None

    @contextmanager
    def internal(self):
        """py4j calls made by the tracer itself are not counted."""
        self._local.internal = True
        try:
            yield
        finally:
            self._local.internal = False

    def _job_group(self) -> str | None:
        with self.internal():
            return self.sc.getLocalProperty("spark.jobGroup.id")

    def _set_group(self, group: str | None, name: str = "") -> None:
        with self.internal():
            if group is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(group, name)

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a span with its own Spark job group. On exit the thread's
        previous job group comes back, which on a ``foreachBatch``
        callback thread is the streaming query's, not the parent span's."""
        if not self.enabled:
            yield {}
            return
        parent = self.current()
        with self._lock:
            self._ids += 1
            sid = self._ids
        sp = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "groups": [f"{self.run_id}-{sid}"],
            "py4j": 0,
            **attrs,
        }
        stack = self._stack()
        stack.append(sp)
        prev = None
        if self.sc is not None:
            prev = self._job_group()
            self._set_group(sp["groups"][0], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self._set_group(prev)
            self.spans.append(sp)

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Open span ``name`` around every call of ``module.attr``;
        ``after(span, args, kwargs, result)`` may add counts to it."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if after is not None and sp:
                    with self.internal():
                        after(sp, args, kwargs, out)
                return out

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def count_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, *args, _orig=orig, **kwargs):
                if self.enabled and not getattr(self._local, "internal", False):
                    sp = self.current()
                    if sp:
                        sp["py4j"] += 1
                return _orig(conn, command, *args, **kwargs)

            cls.send_command = counted
            self._patches.append((cls, "send_command", orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- after the run -------------------------------------------------
    def collect_jobs(self) -> None:
        """Jobs and distinct stages launched under each span's job
        groups (call before the session stops)."""
        with self.internal():
            tracker = self.sc.statusTracker()
            for sp in self.spans:
                jobs = [j for g in sp["groups"] for j in tracker.getJobIdsForGroup(g)]
                stages: set[int] = set()
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    if info is not None:
                        stages.update(info.stageIds)
                sp["jobs"] = len(jobs)
                sp["stages"] = len(stages)

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append(sp)
        return kids

    def subtree(self, root: dict, kids: dict[int, list[dict]]) -> list[dict]:
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(kids.get(sp["id"], ()))
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f)


def self_time(sp: dict, kids: dict[int, list[dict]]) -> float:
    """Span duration minus the time its direct children cover."""
    dur = sp["end"] - sp["start"]
    covered = sum(c["end"] - c["start"] for c in kids.get(sp["id"], ()))
    return max(dur - covered, 0.0)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: shuffle bytes written, disk spill bytes, GC
    seconds, and per-stage task wall times (ms)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", ()):
                            stage_group.setdefault(s, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = out.setdefault(
                        group, {"shuffle_bytes": 0, "spill_bytes": 0, "gc_s": 0.0, "tasks": {}}
                    )
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    g["tasks"].setdefault(ev["Stage ID"], []).append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
    return out


def task_skew(stage_tasks: dict[int, list[int]]) -> float:
    """Worst stage's max/median task wall time, over stages with at
    least two tasks (a 1 ms floor keeps sub-millisecond medians from
    dividing by zero); 1.0 when no stage has two tasks."""
    worst = 1.0
    for times in stage_tasks.values():
        if len(times) >= 2:
            worst = max(worst, max(times) / max(statistics.median(times), 1.0))
    return worst
