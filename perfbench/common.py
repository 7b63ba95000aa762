"""Shared pieces of the benchmark: environment, Spark session lifetime,
memory accounting, operation records and small statistics helpers."""

from __future__ import annotations

import os
import resource
import signal
import time
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(work: str) -> dict:
    """Session sizing and scratch placement.  Must run before pyspark is
    imported: the JVM reads these when it starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # well below physical RAM (the machine may be shared) and small enough
    # that the heap reaches its ceiling early, so peak RSS repeats
    heap_mb = min(1024, mem_kb // 1024 // 4)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "SPARK_GRAFT_DUCK_MEM": "1GB",
            # Python workers import the package too
            "PYTHONPATH": os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        }
    )
    return {"cpus": cpus, "jvm_heap_mb": heap_mb, "mem_total_mb": mem_kb // 1024}


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run for the per-op counts
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class Clock:
    """Wall seconds of a block."""

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        return False


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def jvm_pid() -> int | None:
    for p in _children(os.getpid()):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"java" in f.read():
                    return p
        except OSError:
            continue
    return None


def peak_rss_mb(jvm: int | None) -> tuple[float, float]:
    """Peak resident memory of this Python process and of the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm is not None:
        with open(f"/proc/{jvm}/status") as f:
            jvm_kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            alive = [p for p in procs if os.path.exists(f"/proc/{p}") and not _zombie(p)]
            if not alive:
                break
            time.sleep(0.1)
        for p in procs:
            if os.path.exists(f"/proc/{p}") and not _zombie(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for p in procs:
            try:
                os.waitpid(p, 0)
            except ChildProcessError:
                pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def host_sample() -> dict:
    """Load average and cumulative steal jiffies (annotations, not metrics)."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return {"load1": load1, "steal_jiffies": steal}


# ---- operations ------------------------------------------------------------


@dataclass
class Op:
    """One timed client operation.  ``ok`` is None until checked."""

    kind: str
    seconds: float
    error: str | None = None
    ok: bool | None = None
    info: dict = field(default_factory=dict)

    @property
    def failed(self) -> bool:
        return self.error is not None or self.ok is False


def export_session(ctx, store, tables, dest: str, session: str, window: int, versions: int, **kw) -> Op:
    """One timed export session: ``export_tables`` for window 0, else
    ``export_incremental`` up to the end of ``window``.  Each table first
    grows to hold its increments up to ``window``, and is read the way the
    CLI reads it."""
    import gen
    from hbacker_spark.operators.snapshots import CELLS_SCHEMA

    for t in tables:
        t.stage(window)
    dfs = {t.name: ctx.spark.read.schema(CELLS_SCHEMA).parquet(t.path) for t in tables}
    clk = Clock()
    err = None
    with clk, ctx.tracer.span(f"bench.export.{'full' if window == 0 else 'incremental'}", "bench"):
        try:
            if window == 0:
                store.export_tables(dfs, dest, session, 0, gen.window_end(0), versions, **kw)
            else:
                store.export_incremental(dfs, dest, session, end_time=gen.window_end(window), versions=versions, **kw)
        except Exception as ex:  # noqa: BLE001 — a failed op is counted, the run goes on
            err = f"{type(ex).__name__}: {ex}"[:300]
    return Op("export", clk.wall, err, info={
        "dest": dest, "session": session, "window": window, "tables": [t.name for t in tables],
        "n_tables": len(tables), "cells": sum(t.window_cells[window] for t in tables),
    })


def rate(units: float, seconds: float) -> float | None:
    """units / seconds, None when nothing was timed (every op failed)."""
    return units / seconds if seconds else None


def percentile(xs: list[float], q: float) -> float | None:
    """Linear-interpolated percentile (q in 0..100), None for no samples."""
    s = sorted(xs)
    if not s:
        return None
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median_gmean(by_kind: dict[str, list[float]]) -> float | None:
    """Geometric mean over request kinds of each kind's median.  Every kind
    weighs the same, so the figure does not hinge on whichever kind's times
    happen to sit in the middle of the pooled samples."""
    import math

    meds = [percentile(xs, 50) for xs in by_kind.values() if xs]
    if not meds:
        return None
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def latency_summary(xs: list[float]) -> dict:
    return {
        "samples": len(xs),
        "p50": percentile(xs, 50),
        "p90": percentile(xs, 90),
        "beyond_p90": sum(1 for x in xs if x > percentile(xs, 90)),
    }


def like_to_regex(pattern: str) -> str:
    """SQL LIKE (``%``, ``_``, no escape) as an anchored regex."""
    import re

    return "^" + "".join(".*" if c == "%" else "." if c == "_" else re.escape(c) for c in pattern) + "$"
