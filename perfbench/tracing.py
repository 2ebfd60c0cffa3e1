"""Spans, counters and timing wrappers for the traced run.

``Tracer.wrap`` replaces an engine method or module function by a wrapper
that records a span per call: name, start, end, parent span and run id,
plus counters taken from the call's result. ``Tracer.uninstall`` restores
the originals; untraced runs never wrap anything. Spans stay in memory and
are written out as JSON when the run ends. A span's self time is its
duration minus the part of it that its child spans cover.

``SparkProbe`` reads Spark's status store (jobs, stages, tasks, task time,
shuffle and spill bytes) for the jobs of one job group, and the JVM's
garbage-collector MXBeans.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self._patches: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span per call;
        ``on_result(span, result)`` may attach counters from the result."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ analysis
    def children(self, rec: dict) -> list:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it covered by its child spans."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(rec))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def named(self, name: str, within=None) -> list:
        """Spans called ``name``; with ``within``, only those that have an
        ancestor span of that name."""
        out = [s for s in self.spans if s["name"] == name]
        if within is None:
            return out

        def inside(s):
            p = s["parent"]
            while p is not None:
                if self.spans[p]["name"] == within:
                    return True
                p = self.spans[p]["parent"]
            return False

        return [s for s in out if inside(s)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


class SparkProbe:
    """Per-call Spark runtime counters through job groups and the status
    store (readable with the UI disabled), and JVM GC time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        self._gc = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._n = 0

    def gc_s(self) -> float:
        return sum(max(b.getCollectionTime(), 0) for b in self._gc) / 1000.0

    @contextmanager
    def group(self, label: str):
        """Run the body under a fresh job group; yields a dict that is
        filled with the group's job/stage/task counters on exit."""
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        stats: dict = {}
        self.sc.setJobGroup(gid, label)
        try:
            yield stats
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            stats.update(self.group_stats(gid))

    def group_stats(self, gid: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        from py4j.protocol import Py4JJavaError

        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "task_s": 0.0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(int(sid))
            except Py4JJavaError:  # stage skipped (reused shuffle): never ran
                continue
            if sd.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out
