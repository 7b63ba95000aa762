"""Bulk traffic: a few large cells tables.

One chain per round: a full ``export_tables`` (with ``versions`` below
the version depth, so the version limit prunes), then one
``export_incremental`` session per increment, each table first growing by
one parquet file.  Then the client restores point-in-time
(``restore_point_in_time``) at cutoffs spread across the chain and writes
each result out as the CLI ``import`` does.  Every round starts a new
chain in a destination of its own.
"""

from __future__ import annotations

import os

import numpy as np

import gen
from common import Clock, Op, export_session, rate
from oracle import cells_digest, export_digest, latest_within, snapshot_digest

TABLES = 2
# Every export window holds about the same number of cells per table, so
# full and incremental sessions do comparable work: the base rows, then
# per increment new rows plus new versions of old cells.
ROWS = 900  # ~40 cells per row (Zipf row widths x 1-8 versions)
INCREMENTS = 1
NEW_ROWS = 650
UPDATED_CELLS = 9000
VERSIONS = 3  # export version limit, below the generated depth of 8


def restore_plan(tables: int, windows: int) -> list[tuple[int, int]]:
    """(table, cutoff window) of each restore after a chain: one cutoff at
    the end of every window of the chain, the tables taking turns."""
    return [(j % tables, j) for j in range(windows)]


class Bulk:
    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[Op] = []
        self.dests: list[str] = []

    # ---- inputs --------------------------------------------------------------
    def generate(self, out: str) -> dict:
        rng = np.random.default_rng(self.ctx.seed)
        self.tables = [
            gen.gen_cells_table(
                os.path.join(out, "cells"), os.path.join(out, "staging", f"bulk{i}"), f"bulk{i}", rng,
                ROWS, INCREMENTS, NEW_ROWS, UPDATED_CELLS,
            )
            for i in range(TABLES)
        ]
        cells = [t.window_cells for t in self.tables]
        return {
            "tables": TABLES,
            "base_cells": int(sum(c[0] for c in cells)),
            "cells_per_increment": int(sum(sum(c[1:]) for c in cells) / INCREMENTS),
            "increments": INCREMENTS,
            "restores_per_chain": len(restore_plan(TABLES, INCREMENTS + 1)),
            "export_versions": VERSIONS,
            "max_versions_per_cell": 8,
        }

    # ---- program calls -------------------------------------------------------
    def restore(self, store, t, dest, j, out) -> Op:
        tr = self.ctx.tracer
        clk = Clock()
        err = None
        with clk, tr.span("bench.restore", "bench"):
            try:
                df = store.restore_point_in_time(t.name, dest, cutoff_ts=gen.window_end(j) - 1)
                with tr.span("snapshots.restore.exec", "snapshots.exec"):
                    df.write.mode("overwrite").parquet(out)
            except Exception as ex:  # noqa: BLE001 — a failed op is counted, the run goes on
                err = f"{type(ex).__name__}: {ex}"[:300]
        return Op("restore", clk.wall, err, info={"table": t.name, "window": j, "out": out})

    def round(self, store, root: str, tag: str) -> None:
        """One chain: full export, INCREMENTS incremental exports, then the
        restores; stops at the first failed export."""
        dest = os.path.join(root, "dest", tag)
        self.dests.append(dest)
        for k in range(INCREMENTS + 1):
            self.ops.append(export_session(self.ctx, store, self.tables, dest, f"{tag}_s{k}", k, VERSIONS))
            if self.ops[-1].error:
                return
        for i, j in restore_plan(TABLES, INCREMENTS + 1):
            t = self.tables[i]
            self.ops.append(self.restore(store, t, dest, j, os.path.join(root, "restored", tag, f"w{j}", t.name)))

    # ---- checks and metrics ----------------------------------------------------
    def check(self) -> None:
        by_name = {t.name: t for t in self.tables}
        for op in self.ops:
            if op.error:
                continue
            if op.kind == "export":
                op.ok = all(
                    snapshot_digest(os.path.join(op.info["dest"], op.info["session"], name))
                    == export_digest(by_name[name].files(), op.info["window"], VERSIONS)
                    for name in op.info["tables"]
                )
            else:
                want = cells_digest(latest_within(by_name[op.info["table"]].files(), gen.window_end(op.info["window"]) - 1))
                op.ok = snapshot_digest(op.info["out"]) == want
                op.info["cells"] = want[0]

    def metrics(self) -> dict:
        exp = [o for o in self.ops if o.kind == "export" and not o.failed]
        res = [o for o in self.ops if o.kind == "restore" and not o.failed]
        return {
            "backup_cells_per_s": (rate(sum(o.info["cells"] for o in exp), sum(o.seconds for o in exp)), "cells/s"),
            "restore_cells_per_s": (rate(sum(o.info["cells"] for o in res), sum(o.seconds for o in res)), "cells/s"),
        }

    def annotations(self) -> dict:
        return {
            "full_exports": sum(1 for o in self.ops if o.kind == "export" and o.info["window"] == 0),
            "incremental_exports": sum(1 for o in self.ops if o.kind == "export" and o.info["window"] > 0),
            "restores": sum(1 for o in self.ops if o.kind == "restore"),
            "restore_windows": sorted({o.info["window"] for o in self.ops if o.kind == "restore"}),
            "cells_exported": sum(o.info["cells"] for o in self.ops if o.kind == "export"),
            "cells_restored": sum(o.info.get("cells", 0) for o in self.ops if o.kind == "restore"),
        }

    def snapshot_roots(self) -> list[str]:
        return list(self.dests)
