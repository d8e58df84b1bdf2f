"""Tracing from outside the program.

- ``Tracer`` keeps spans in memory (name ``<module>.<function>``, start,
  end, parent, trace id) and writes them out once, at the end.
- ``Tracer.wrap`` replaces a module attribute with a span-recording
  wrapper, so calls the package makes into its own modules on the driver
  (kernels, spans) show up as child spans. Executor-side calls run in
  other processes and are not seen; Spark counters cover them.
- ``SparkWork`` counts the Spark jobs, stages and tasks of one call by
  tagging it with its own job group and reading ``statusTracker()``.
"""
from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._trace = 0
        self._patched: list = []

    @contextmanager
    def span(self, name: str, root: bool = False):
        if not self.enabled:
            yield
            return
        if root:
            self._trace += 1
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "trace": self._trace,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str) -> None:
        """Record a span around every driver-side call of module.attr."""
        fn = getattr(module, attr)
        name = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def self_times(self) -> Dict[str, float]:
        """Seconds of self time per module: a span's duration minus the
        part of its interval its children cover."""
        kids: Dict[int, list] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: Dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"].split(".", 1)[0]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class SparkWork:
    """Spark jobs/stages/tasks launched by one operation, read back from
    the status tracker through a per-operation job group."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.st = self.sc.statusTracker()
        self.enabled = enabled
        self._n = 0
        self._group = None  # the last job group set

    @contextmanager
    def op(self, label: str, out: Optional[list] = None):
        """Count the work of the enclosed call. Jobs the program submits
        from threads of its own carry no job group; with one client they
        are the ungrouped jobs that appear during the call."""
        if not self.enabled or out is None:
            yield
            return
        self._n += 1
        group = self._group = f"perfbench-{self._n}-{label}"
        before = set(self.st.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, label)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            extra = set(self.st.getJobIdsForGroup(None)) - before
            out.append(self.count(group, extra))

    def jobs_submitted(self) -> int:
        """Jobs the context has submitted so far: job ids are sequential,
        and the newest job is ungrouped or in the last group set."""
        ids = list(self.st.getJobIdsForGroup(None))
        if self._group is not None:
            ids += self.st.getJobIdsForGroup(self._group)
        return max(ids, default=-1) + 1

    def count(self, group: str, extra=()) -> dict:
        st = self.st
        jobs = set(st.getJobIdsForGroup(group)) | set(extra)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                ran = 0 if si is None else (si.numCompletedTasks
                                            + si.numFailedTasks)
                if not ran:  # skipped stage (shuffle output reused)
                    continue
                stages += 1
                tasks += ran
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}
