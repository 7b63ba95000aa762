"""backup_restore: bulk and fleet backup traffic from one client, closed loop.

One round is the whole backup sequence: a bulk chain (full export of the
large tables, incremental exports, then point-in-time restores at cutoffs
spread across the chain, see ``bulk.py``) and a fleet chain (full and
incremental export sessions over tiny tables with ``max_concurrent`` =
cores, a fixed batch of catalog lookups after each, one ``import_tables``
by pattern at the end, see ``fleet.py``).  Whole rounds repeat while time
is left, so every round has the same mix.  Both kinds of traffic share one
catalog, as one deployment does.  Set-up runs the fleet chain once over
two tiny tables in a catalog of its own, one lookup of each kind per
session, plus one restore, so every code path the window times is warm.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from bulk import Bulk
from fleet import Fleet

WHY = ("large Zipf-skewed versioned tables plus a fleet of tiny ones: scan, version window and "
       "parquet write on one side, per-table fixed costs and catalog lookups on the other")


class BackupRestore:
    name = "backup_restore"
    why = WHY

    def __init__(self, ctx):
        self.ctx = ctx
        self.bulk, self.fleet = Bulk(ctx), Fleet(ctx)
        self.rounds = 0

    @property
    def ops(self):
        return self.bulk.ops + self.fleet.ops

    def _store(self, root):
        from hbacker_spark.catalog.catalog import Catalog
        from hbacker_spark.operators.snapshots import SnapshotStore

        cat = Catalog(self.ctx.spark, os.path.join(root, "catalog"))
        return SnapshotStore(self.ctx.spark, cat), cat

    def generate(self, out: str) -> dict:
        sizes = {"bulk": self.bulk.generate(os.path.join(out, "bulk")),
                 "fleet": self.fleet.generate(os.path.join(out, "fleet"))}
        rng = np.random.default_rng(self.ctx.seed)
        self.warm = [
            gen.gen_cells_table(os.path.join(out, "warm"), os.path.join(out, "warm_staging", f"w{i}"),
                                f"app_warm_{i}", rng, 20, len(self.fleet.tables[0].increments), 5, 10)
            for i in range(2)
        ]
        return sizes

    def warm_up(self) -> None:
        root = os.path.join(self.ctx.work, "warm")
        store, cat = self._store(root)
        fleet = os.path.join(root, "fleet")
        ops = self.fleet.sessions(store, cat, fleet, "f", self.warm, reps=1)
        ops.append(self.bulk.restore(store, self.warm[0], os.path.join(fleet, "dest", "f"), 0,
                                     os.path.join(root, "bulk", "restored")))
        self.warm_ops = [[o.kind, round(o.seconds, 3)] for o in ops]
        errors = [o.error for o in ops if o.error]
        if errors:
            raise RuntimeError(f"warm-up failed: {errors[0]}")

    def run(self, seconds: float) -> None:
        root = os.path.join(self.ctx.work, "backup")
        self.catalog_root = os.path.join(root, "catalog")
        store, self.cat = self._store(root)
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:  # whole rounds: the mix stays fixed
            self.bulk.round(store, os.path.join(root, "bulk"), f"b{self.rounds:02d}")
            self.fleet.round(store, self.cat, os.path.join(root, "fleet"), f"f{self.rounds:02d}")
            self.rounds += 1

    def check(self) -> None:
        self.bulk.check()
        self.fleet.check()
        self._check_catalog()

    def _check_catalog(self) -> None:
        """One non-error catalog row per (session, table) of every export,
        and each incremental starts at the previous end_time of its chain."""
        rows: dict[tuple, list[dict]] = {}
        for r in self.cat.read("tables").collect():
            if r["mode"] == "export":
                rows.setdefault((r["session_name"], r["table_name"]), []).append(r.asDict())
        last_end: dict[tuple, int] = {}
        self.watermarks_checked = 0
        for op in self.ops:
            if op.kind != "export" or op.error:
                continue
            for n in op.info["tables"]:
                recs = rows.get((op.info["session"], n), [])
                ok = len(recs) == 1 and not recs[0]["error"]
                if ok and op.info["window"] > 0:
                    ok = recs[0]["start_time"] == last_end.get((op.info["dest"], n))
                    self.watermarks_checked += 1
                if recs:
                    last_end[(op.info["dest"], n)] = recs[0]["end_time"]
                op.ok = op.ok is not False and ok

    def complete(self) -> str | None:
        """Why the window did not exercise the whole sequence, or None."""
        exports = [o for o in self.ops if o.kind == "export" and not o.failed]
        if not any(o.info["window"] > 0 for o in exports):
            return "no incremental export succeeded"
        if not self.watermarks_checked:
            return "no incremental watermark was checked"
        if not any(o.kind == "restore" and not o.failed for o in self.ops):
            return "no restore succeeded"
        return None

    def metrics(self) -> dict:
        return {**self.bulk.metrics(), **self.fleet.metrics()}

    def work(self) -> list[tuple[int, object]]:
        """(tables, op) for every table operation: tables exported, restored
        or imported.  Tables, not cells: the fleet's table sizes vary with
        the seed, its per-table costs do not."""
        return [(o.info.get("n_tables", 1), o) for o in self.ops
                if o.kind in ("export", "restore", "import") and not o.failed]

    def requests(self) -> list:
        """Client requests whose latency is reported: catalog lookups."""
        return [o for o in self.ops if o.kind == "lookup" and not o.failed]

    def annotations(self) -> dict:
        return {"rounds": self.rounds, "watermarks_checked": self.watermarks_checked, "warm_up_ops": self.warm_ops,
                "bulk": self.bulk.annotations(), "fleet": self.fleet.annotations()}

    def snapshot_roots(self) -> list[str]:
        return self.bulk.snapshot_roots() + self.fleet.snapshot_roots()

    def catalog_roots(self) -> list[str]:
        return [self.catalog_root]
