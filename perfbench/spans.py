"""Span tracing for the benchmark's traced run.

A :class:`Tracer` records one span per call into a layer's public function:
name, start, end, parent span and op id, kept in memory and written out
once at the end. While a span is open its id is the Spark job group, so
the jobs, tasks and failed tasks each span launched come from
``statusTracker()`` (works with the UI disabled), and shuffle-write and
spill bytes come from the Spark event log, which only the traced run
enables. Self time is a span's duration minus the union of its children.

With tracing off, :class:`Tracer` is a null object: ``span`` yields
without touching Spark, ``force`` leaves frames lazy and ``patch`` does
nothing, so the untraced run executes the program exactly as a user
would call it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.sc = None
        self.op = None

    # -- recording -----------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"span-{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "start": time.perf_counter(),
        }
        self._stack.append(s)
        self._set_group(s["id"])
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent["id"] if parent else None)
            self._count_jobs(s)
            self.spans.append(s)

    def force(self, df):
        """In the traced run, persist and count ``df`` inside the current
        span so the span covers the work its lazy call deferred; returns
        the (persisted) frame. Untraced: returns ``df`` untouched."""
        if not self.enabled:
            return df
        df = df.persist()
        df.count()
        return df

    def note(self, key: str, value) -> None:
        """Attach a counter to the innermost open span."""
        if self.enabled and self._stack:
            self._stack[-1][key] = value

    @contextlib.contextmanager
    def patch(self, module, attr: str, name: str, after=None):
        """Wrap ``module.attr`` in a span named ``name`` for the duration
        of the block (traced run only). ``after(tracer, result)`` runs
        inside the span and may replace the result (e.g. force it)."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)

        def wrapped(*a, **kw):
            with self.span(name):
                out = orig(*a, **kw)
                if after is not None:
                    out = after(self, out)
                return out

        setattr(module, attr, wrapped)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    # -- Spark counters ------------------------------------------------

    def _set_group(self, gid):
        if self.sc is None:
            return
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(gid, gid)

    def _count_jobs(self, s: dict) -> None:
        s.update(jobs=0, stages=0, tasks=0, failed_tasks=0)
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(s["id"]):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            s["jobs"] += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                s["stages"] += 1
                s["tasks"] += si.numCompletedTasks + si.numFailedTasks
                s["failed_tasks"] += si.numFailedTasks

    def add_event_log(self, log_dir: Path) -> None:
        """Attribute shuffle-write and spill bytes from the event log(s)
        in ``log_dir`` to spans through each job's group id. Call after
        the SparkContext stopped (the log is flushed on stop)."""
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s.update(shuffle_write_bytes=0, spill_bytes=0)
        stage_group: dict[int, str] = {}
        for f in sorted(p for p in Path(log_dir).rglob("*") if p.is_file()):
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    if '"SparkListenerJobStart"' in line:
                        ev = json.loads(line)
                        gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if gid in by_id:
                            for sid in ev.get("Stage IDs", []):
                                stage_group[sid] = gid
                    elif '"SparkListenerTaskEnd"' in line:
                        ev = json.loads(line)
                        gid = stage_group.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics") or {}
                        if gid is None or not m:
                            continue
                        sw = m.get("Shuffle Write Metrics") or {}
                        by_id[gid]["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                        by_id[gid]["spill_bytes"] += (
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        )

    # -- analysis ------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """span id -> duration minus the union of its children's
        intervals (children of one span never overlap here: calls are
        sequential on one thread, so the union is the sum)."""
        kids = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - kids[s["id"]] for s in self.spans}

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree_total(self, root: dict, key: str) -> float:
        """Sum of ``key`` over ``root`` and all spans below it."""
        children = defaultdict(list)
        for s in self.spans:
            children[s["parent"]].append(s)
        total, todo = 0.0, [root]
        while todo:
            s = todo.pop()
            total += s.get(key, 0) or 0
            todo.extend(children[s["id"]])
        return total

    def dump(self, path: Path) -> None:
        selfs = self.self_times()
        rows = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        path.write_text(json.dumps(rows, indent=1, sort_keys=True))
