"""Benchmark for hbacker_spark: backup/restore, a small-table fleet and an
analytics mix, in one process with one SparkSession of local[cores].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (both closed loops with one client):
  backup_restore   whole rounds, each a bulk chain (full + incremental
                   exports of large cells tables, point-in-time restores
                   across the chain) and a fleet chain (full + incremental
                   export sessions over tiny tables, catalog lookups after
                   each, one import by pattern)
  analytics_mix    a fixed stratified draw over the query registry

Inputs come from --seed (same seed, same inputs).  Outputs are checked
after the timed window against independent DuckDB expectations.  The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}.  --trace 0 reports the end-to-end metrics, --trace 1 runs the
same workload with every layer wrapped and reports the per-layer metrics;
the line before it carries annotations (sizes, host load, layer state,
the workload's own named metrics).  Scratch data lives under
.perfbench_work/ at the repository root and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("backup_restore", "analytics_mix")


class Ctx:
    def __init__(self, seed, work, cpus, tracer):
        self.seed, self.work, self.cpus, self.tracer = seed, work, cpus, tracer
        self.spark = None


def make_workload(name, ctx):
    if name == "backup_restore":
        from backup import BackupRestore

        return BackupRestore(ctx)
    from analytics import Analytics

    return Analytics(ctx)


def layer_state(wl) -> tuple[dict, dict]:
    """Exact end-of-run counts: catalog data files and committed versions per
    catalog table, snapshot files and bytes per exported cell."""
    import re

    import pyarrow.parquet as pq

    cat = {}
    for root in wl.catalog_roots():
        for t in sorted(os.listdir(root)) if os.path.isdir(root) else []:
            d = os.path.join(root, t)
            if not os.path.isdir(d):
                continue
            versions = sorted(int(m.group(1)) for f in os.listdir(d) if (m := re.match(r"^_v(\d{6})\.commit$", f)))
            cur = os.path.join(d, f"v{versions[-1]:06d}") if versions else d
            files = [f for f in os.listdir(cur) if f.endswith(".parquet") and not f.startswith((".", "_"))]
            cat[t] = {"data_files": len(files), "committed_versions": len(versions)}
    n_files = n_bytes = n_cells = 0
    for root in wl.snapshot_roots():
        for dirpath, _, names in os.walk(root):
            for f in names:
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    p = os.path.join(dirpath, f)
                    n_files += 1
                    n_bytes += os.path.getsize(p)
                    n_cells += pq.read_metadata(p).num_rows
    snaps = {"files": n_files, "bytes": n_bytes, "cells": n_cells,
             "bytes_per_cell": n_bytes / n_cells if n_cells else 0.0}
    return cat, snaps


def layer_metrics(tracer, cat, snaps, total_spark) -> dict:
    spans = tracer.spans
    by_id = {s.sid: s for s in spans}
    selft = tracer.self_times()
    per, total = total_spark

    def parent_layer(s):
        p = by_id.get(s.parent)
        return p.layer if p else ""

    def outer(prefixes):
        return [s for s in spans if s.layer.startswith(prefixes) and not parent_layer(s).startswith(prefixes)]

    def dur(ss):
        return sum(s.dur for s in ss)

    def named(n):
        return [s for s in spans if s.name == n]

    def spark(prefixes, i):
        return sum(per.get(s.sid, (0, 0, 0))[i] for s in spans if s.layer.startswith(prefixes))

    storage = outer(("storage",))
    cat_read = outer(("catalog.read", "catalog.lookup"))
    cat_write = outer(("catalog.write",))
    sessions = [s for s in spans if s.name in
                ("snapshots.export_tables", "snapshots.export_incremental", "snapshots.import_tables")]
    per_table = [s for s in spans if s.name in ("snapshots.export_table", "snapshots.import_table")]
    m = {
        "session.get_spark.s": (dur(named("session.get_spark")), "s"),
        "storage.calls": (sum(1 for s in storage if not s.name.endswith(".release")), "count"),
        "storage.busy_s": (dur(storage), "s"),
        "storage.fence_wait_s": (dur([s for s in spans if s.layer == "storage.fence"]), "s"),
        "storage.commit_version.calls": (len(named("storage.commit_version")), "count"),
        "catalog.write.calls": (len(cat_write), "count"),
        "catalog.write.s": (dur(cat_write), "s"),
        "catalog.read.calls": (len(cat_read), "count"),
        "catalog.read.s": (dur(cat_read), "s"),
        "catalog.read.spark_tasks": (spark(("catalog.read", "catalog.lookup"), 1), "count"),
        "catalog.files": (sum(v["data_files"] for v in cat.values()), "count"),
        "catalog.versions": (sum(v["committed_versions"] for v in cat.values()), "count"),
        "snapshots.export_table.calls": (len(named("snapshots.export_table")), "count"),
        "snapshots.export_table.self_s": (sum(selft[s.sid] for s in named("snapshots.export_table")), "s"),
        "snapshots.pool_overlap": (dur(per_table) / dur(sessions) if sessions else 0.0, "ratio"),
        "snapshots.restore.plan_s": (dur(named("snapshots.restore_point_in_time")), "s"),
        "snapshots.restore.exec_s": (dur(named("snapshots.restore.exec")), "s"),
        "snapshots.import_table.self_s": (sum(selft[s.sid] for s in named("snapshots.import_table")), "s"),
        "snapshots.spark_jobs": (spark(("snapshots",), 0), "count"),
        "snapshots.spark_tasks": (spark(("snapshots",), 1), "count"),
        "snapshots.files_written": (snaps["files"], "count"),
        "snapshots.bytes_per_cell": (snaps["bytes_per_cell"], "B/cell"),
        "queries.plan_s": (dur([s for s in spans if s.layer == "queries.plan"]), "s"),
        "queries.exec_s": (dur([s for s in spans if s.layer == "queries.exec"]), "s"),
    }
    from analytics import QUOTA

    for module in QUOTA:
        m[f"queries.{module}.s"] = (dur([s for s in spans if s.layer == f"queries.{module}"]), "s")
    m["queries.spark_jobs"] = (spark(("queries",), 0), "count")
    m["queries.spark_tasks"] = (spark(("queries",), 1), "count")
    m["spark.failed_tasks"] = (total[2], "count")
    m["trace.overhead_s"] = (tracer.overhead_s, "s")
    return m


def spark_per_op(tracer, per) -> dict:
    """Spark jobs, tasks and failed tasks per client operation, summed by
    operation kind (the name of the operation's root span)."""
    by_id = {s.sid: s for s in tracer.spans}
    out: dict[str, dict] = {}
    for s in tracer.spans:
        if s.parent is None:
            out.setdefault(s.name, {"ops": 0, "jobs": 0, "tasks": 0, "failed_tasks": 0})["ops"] += 1
    for s in tracer.spans:
        root = by_id.get(s.op)
        if root is None or s.sid not in per:
            continue
        row = out[root.name]
        jobs, tasks, failed = per[s.sid]
        row["jobs"] += jobs
        row["tasks"] += tasks
        row["failed_tasks"] += failed
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_base = os.path.join(common.REPO, ".perfbench_work")
    work = os.path.join(work_base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = common.prepare_env(work)
    sys.path.insert(0, common.REPO)

    from tracing import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(args.seed, work, env["cpus"], tracer)
    host0 = common.host_sample()
    spark = None
    try:
        from hbacker_spark import session

        if args.trace:
            tracer.install()
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench", extra_conf=common.spark_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx.spark = spark
        tracer.sc = spark.sparkContext if args.trace else None
        tracer.enabled = False  # per-layer figures cover the timed window only

        wl = make_workload(args.workload, ctx)
        t0 = time.perf_counter()
        sizes = wl.generate(os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0 - getattr(wl, "oracle_s", 0.0)
        setup_s = session_s + gen_s + warm_s

        untagged_before = set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        tracer.enabled = bool(args.trace)
        with common.Clock() as window:
            wl.run(args.seconds)
        window_s = window.wall
        tracer.enabled = False
        untagged = set(spark.sparkContext.statusTracker().getJobIdsForGroup(None)) - untagged_before
        jvm = common.jvm_pid()
        rss_py, rss_jvm = common.peak_rss_mb(jvm)
        host1 = common.host_sample()
        t0 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t0

        ops = wl.ops
        failed = sum(1 for o in ops if o.failed)
        done, reqs = wl.work(), wl.requests()
        named = wl.metrics()
        cat, snaps = layer_state(wl)
        notes = {
            "workload": args.workload,
            "why": wl.why,
            "seed": args.seed,
            "sizes": sizes,
            "env": env,
            "setup": {"session_s": session_s, "generate_s": gen_s, "warm_up_s": warm_s},
            "phases_s": {"window": window_s, "check": check_s},
            "peak_rss_mb": {"python": rss_py, "jvm": rss_jvm},
            "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "failed_op_share": failed / len(ops) if ops else None,
            "op_errors": sorted({o.error for o in ops if o.error})[:5],
            "host": {"load1_start": host0["load1"], "load1_end": host1["load1"],
                     "steal_jiffies": host1["steal_jiffies"] - host0["steal_jiffies"]},
            "catalog_state": cat,
            "snapshot_state": snaps,
            "run": wl.annotations(),
            "ops": [[o.kind, o.info.get("name") or o.info.get("kind") or o.info.get("table"), round(o.seconds, 4)]
                    for o in ops],
        }
        units = sum(u for u, _ in done)
        lat = common.latency_summary([o.seconds for o in reqs]) if reqs else {"samples": 0}
        by_kind: dict[str, list[float]] = {}
        for o in reqs:
            by_kind.setdefault(o.info.get("name") or o.info["kind"], []).append(o.seconds)
        lat["kinds"] = {k: len(v) for k, v in by_kind.items()}
        lat["p50_gmean"] = common.median_gmean(by_kind)
        notes["latency_s"] = lat  # pooled p50/p90 are annotations: too few samples beyond p90 to gate on
        e2e = {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss_py + rss_jvm, "MB"),
            "ok_op_share": ((len(ops) - failed) / len(ops) if ops else 0.0, "ratio"),
            "throughput_per_s": (common.rate(units, sum(o.seconds for _, o in done)) or 0.0, "1/s"),
            "latency_s_p50_gmean": (lat.get("p50_gmean") or 0.0, "s"),
        }
        results = os.path.join(work_base, "results")
        os.makedirs(results, exist_ok=True)
        untraced = os.path.join(results, f"untraced-{args.workload}-{args.seed}.json")
        if args.trace:
            t0 = time.perf_counter()
            counts = tracer.spark_counts(untagged)
            notes["trace"] = {
                "spans": len(tracer.spans),
                "count_collection_s": time.perf_counter() - t0,
                "end_to_end_traced": {k: v for k, (v, _) in e2e.items()},
            }
            if os.path.exists(untraced):  # overhead against this checkout's untraced run
                with open(untraced) as f:
                    base = json.load(f)
                notes["trace"]["overhead_vs_untraced"] = {
                    k: e2e[k][0] / base[k] - 1.0
                    for k in ("throughput_per_s", "latency_s_p50_gmean") if base.get(k)
                }
            metrics = layer_metrics(tracer, cat, snaps, counts)
            notes["trace"]["spark_per_op"] = spark_per_op(tracer, counts[0])
            tracer.dump(os.path.join(results, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = e2e
            with open(untraced, "w") as f:
                json.dump({k: v for k, (v, _) in e2e.items()}, f)
        incomplete = wl.complete()
        notes["incomplete"] = incomplete
        correct = bool(ops) and failed == 0 and bool(done) and bool(reqs) and incomplete is None
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1

    common.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"annotations": notes}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
