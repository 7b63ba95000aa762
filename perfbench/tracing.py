"""In-memory span tracer that wraps the package's public functions at run
time, from the benchmark's own files.  No file of the package changes.

A span holds name, layer, start, end, parent span and op id (the
benchmark operation that caused it).  Spans stay in memory and are
written out once, when the run ends.  Spans that can launch Spark jobs
tag them with their own job group (``setJobGroup``); ``statusTracker()``
then gives job, task and failed-task counts per span at the end.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
from contextlib import contextmanager

CATALOG_WRITES = frozenset(
    {"start_info", "end_info", "exported_table_info", "imported_table_info", "compact", "maintain"}
)
JOB_GROUP_KEY = "spark.jobGroup.id"


class Span:
    __slots__ = ("sid", "parent", "op", "name", "layer", "t0", "t1", "group")

    def __init__(self, sid, parent, op, name, layer, t0, group):
        self.sid, self.parent, self.op, self.name, self.layer = sid, parent, op, name, layer
        self.t0, self.t1, self.group = t0, None, group

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects spans.  ``enabled=False`` makes :meth:`span` a no-op, so the
    benchmark's own op spans cost nothing in an untraced run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # set once the SparkContext exists
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, job_group: bool = True):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        # a pool thread's first span hangs off the client's open span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        group = f"pb{sid}" if job_group and self.sc is not None else None
        prev_group = None
        if group is not None:
            prev_group = self.sc.getLocalProperty(JOB_GROUP_KEY)
            self.sc.setJobGroup(group, name)
        sp = Span(sid, parent.sid if parent else None, parent.op if parent else sid, name, layer, 0.0, group)
        stack.append(sp)
        sp.t0 = time.perf_counter()
        own = sp.t0 - t_in
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            if group is not None:
                self.sc.setLocalProperty(JOB_GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(sp)
                self.overhead_s += own + (time.perf_counter() - sp.t1)

    # ---- wrapping ----------------------------------------------------------
    def wrap(self, fn, name: str, layer: str, job_group: bool = True):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer, job_group):
                return fn(*a, **kw)

        return traced

    def wrap_fence(self, fn, name: str):
        """``storage.path_fence`` is a context manager: the time to acquire
        it is the fence wait; the body it guards belongs to the caller."""
        tracer = self

        class _Fence:
            def __init__(self, a, kw):
                self._cm = fn(*a, **kw)

            def __enter__(self):
                with tracer.span(f"{name}.acquire", "storage.fence", job_group=False):
                    return self._cm.__enter__()

            def __exit__(self, *exc):
                with tracer.span(f"{name}.release", "storage", job_group=False):
                    return self._cm.__exit__(*exc)

        @functools.wraps(fn)
        def traced(*a, **kw):
            return _Fence(a, kw)

        return traced

    def install(self) -> None:
        """Wrap the public functions of the session, storage, catalog and
        snapshots layers.  The query layer is timed by the benchmark
        around each registry call."""
        from hbacker_spark import session
        from hbacker_spark.catalog import catalog
        from hbacker_spark.operators import snapshots
        from hbacker_spark.sources import storage

        session.get_spark = self.wrap(session.get_spark, "session.get_spark", "session", job_group=False)
        for name, fn in list(vars(storage).items()):
            if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != storage.__name__:
                continue
            if name == "path_fence":
                setattr(storage, name, self.wrap_fence(fn, "storage.path_fence"))
            else:
                setattr(storage, name, self.wrap(fn, f"storage.{name}", "storage", job_group=False))
        for name, fn in list(vars(catalog.Catalog).items()):
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            layer = "catalog.write" if name in CATALOG_WRITES else "catalog.read"
            setattr(catalog.Catalog, name, self.wrap(fn, f"catalog.{name}", layer))
        for name, fn in list(vars(snapshots.SnapshotStore).items()):
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            setattr(snapshots.SnapshotStore, name, self.wrap(fn, f"snapshots.{name}", "snapshots"))

    # ---- results -----------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, end = 0.0, sp.t0
            for c in sorted(children.get(sp.sid, ()), key=lambda c: c.t0):
                lo, hi = max(c.t0, end), min(c.t1, sp.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[sp.sid] = sp.dur - covered
        return out

    def spark_counts(self, untagged_jobs) -> tuple[dict[int, tuple[int, int, int]], tuple[int, int, int]]:
        """{span id: (jobs, tasks, failed tasks)} for spans that tagged a job
        group, plus the totals over those and ``untagged_jobs`` (jobs run
        outside any span)."""
        st = self.sc.statusTracker()

        def count(job_ids) -> tuple[int, int, int]:
            jobs = tasks = failed = 0
            for jid in job_ids:
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        tasks += si.numCompletedTasks + si.numFailedTasks
                        failed += si.numFailedTasks
            return jobs, tasks, failed

        per = {sp.sid: count(st.getJobIdsForGroup(sp.group)) for sp in self.spans if sp.group}
        rest = count(untagged_jobs)
        total = tuple(sum(v[i] for v in per.values()) + rest[i] for i in range(3))
        return per, total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.t0):
                f.write(json.dumps({
                    "id": sp.sid, "parent": sp.parent, "op": sp.op, "name": sp.name,
                    "layer": sp.layer, "start": sp.t0, "end": sp.t1, "job_group": sp.group,
                }) + "\n")
