"""Fleet traffic: tiny tables of spread-out sizes.

One round is a full export session over the fleet, then incremental
sessions (every table grows by one parquet file first), all with
``max_concurrent`` = cores and into a destination of the round's own.
After every session the client issues a fixed batch of catalog lookups.
The round ends with one ``import_tables`` by LIKE pattern, written out as
the CLI ``import`` does.
"""

from __future__ import annotations

import math
import os
import re

import numpy as np

import gen
from common import Clock, Op, export_session, like_to_regex, percentile, rate
from oracle import export_digest, snapshot_digest

DOMAINS = ("app", "web", "ml", "ops")
KINDS = ("users", "events", "metrics")
TABLES = 6
INCREMENTS = 1  # incremental sessions per round after the full export
LOOKUP_REPS = 2  # every kind of lookup this many times per batch
VERSIONS = 3
DESCRIPTORS = [
    {"name": "d", "compression": "NONE", "versions": VERSIONS, "blocksize": 65536, "in_memory": False},
    {"name": "m", "compression": "SNAPPY", "versions": 1, "blocksize": 65536, "ttl": 86400},
]


class Fleet:
    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[Op] = []
        self.dests: list[str] = []

    def generate(self, out: str) -> dict:
        rng = np.random.default_rng(self.ctx.seed)
        names = [f"{d}_{k}_{i:02d}" for d in DOMAINS for k in KINDS for i in range(4)]
        names = sorted(names[i] for i in rng.permutation(len(names))[:TABLES])
        self.tables = []
        for n in names:
            rows = int(math.exp(rng.uniform(0.0, math.log(400.0))))
            self.tables.append(gen.gen_cells_table(
                os.path.join(out, "cells"), os.path.join(out, "staging", n), n, rng,
                rows, INCREMENTS, int(rng.integers(0, rows // 4 + 1)), int(rng.integers(0, rows + 1)),
            ))
        cells = [sum(t.window_cells) for t in self.tables]
        return {
            "tables": TABLES,
            "cells_min": int(min(cells)),
            "cells_median": int(np.median(cells)),
            "cells_max": int(max(cells)),
            "increments": INCREMENTS,
            "lookups_per_session": LOOKUP_REPS * 5,
            "max_concurrent": self.ctx.cpus,
        }

    # ---- program calls -------------------------------------------------------
    def _lookup(self, kind: str, call, expect) -> Op:
        clk = Clock()
        err, got = None, None
        with clk, self.ctx.tracer.span(f"bench.lookup.{kind}", "catalog.lookup"):
            try:
                got = call()
            except Exception as ex:  # noqa: BLE001 — a failed op is counted, the run goes on
                err = f"{type(ex).__name__}: {ex}"[:300]
        return Op("lookup", clk.wall, err, info={"kind": kind, "got": got, "expect": expect})

    def _lookups(self, cat, sessions: list[dict], by_name: dict, absent: str, reps: int) -> list[Op]:
        """The fixed batch, aimed at the session just exported."""
        s = sessions[-1]
        session, dest, k, names = s["session"], s["dest"], s["window"], s["tables"]
        t = names[0]
        pattern = f"%{t.split('_')[1]}%"
        sess_pat = session.split("_")[0] + "%"
        batch = [
            ("table_names", lambda: sorted(r[0] for r in cat.table_names(session, dest, pattern).collect()),
             sorted(n for n in names if re.match(like_to_regex(pattern), n))),
            ("session_report",
             lambda: sorted((r["session_name"], r["table_name"])
                            for r in cat.session_report("export", sess_pat).collect()),
             sorted((x["session"], n) for x in sessions for n in x["tables"])),
            ("column_descriptors",
             lambda: sorted((d["name"], d.get("compression")) for d in cat.column_descriptors(t, session)),
             sorted((d["name"], d["compression"]) for d in DESCRIPTORS)),
            ("restore_sessions",
             lambda: [r["session_name"] for r in cat.restore_sessions(t, dest, gen.window_end(k) - 1).collect()],
             [x["session"] for x in sessions if by_name[t].window_cells[x["window"]] > 0]),
            ("exists", lambda: cat.exists(absent, session), False),
        ]
        return [self._lookup(kind, call, expect) for _ in range(reps) for kind, call, expect in batch]

    def _import(self, store, s: dict, by_name: dict, out_root: str) -> Op:
        pattern = s["tables"][0].split("_")[0] + "%"
        clk = Clock()
        err, restored = None, {}
        with clk, self.ctx.tracer.span("bench.import", "bench"):
            try:
                got = store.import_tables(s["dest"], s["session"], f"imp_{s['session']}", pattern=pattern,
                                          max_concurrent=self.ctx.cpus)
                with self.ctx.tracer.span("snapshots.import.exec", "snapshots.exec"):
                    for n, df in got.items():
                        path = os.path.join(out_root, f"{n}.parquet")
                        df.write.mode("overwrite").parquet(path)
                        restored[n] = path
            except Exception as ex:  # noqa: BLE001
                err = f"{type(ex).__name__}: {ex}"[:300]
        expect = sorted(
            n for n in s["tables"]
            if re.match(like_to_regex(pattern), n) and by_name[n].window_cells[s["window"]] > 0
        )
        return Op("import", clk.wall, err, info={"session": s, "restored": restored, "expect": expect,
                                                 "n_tables": len(restored)})

    def sessions(self, store, cat, root: str, tag: str, tables=None, reps: int = LOOKUP_REPS) -> list[Op]:
        """Full and incremental sessions with a lookup batch after each, then
        the import; stops at the first failed export."""
        tables = tables or self.tables
        by_name = {t.name: t for t in tables}
        absent = f"{tables[0].name}_absent"
        dest = os.path.join(root, "dest", tag)
        done: list[dict] = []
        ops = []
        for k in range(INCREMENTS + 1):
            op = export_session(self.ctx, store, tables, dest, f"{tag}_s{k}", k, VERSIONS,
                                descriptors={t.name: DESCRIPTORS for t in tables}, max_concurrent=self.ctx.cpus)
            ops.append(op)
            if op.error:
                return ops
            done.append(op.info)
            ops += self._lookups(cat, done, by_name, absent, reps)
        ops.append(self._import(store, done[-1], by_name, os.path.join(root, "imported", tag)))
        return ops

    def round(self, store, cat, root: str, tag: str) -> None:
        self.dests.append(os.path.join(root, "dest", tag))
        self.ops += self.sessions(store, cat, root, tag)

    # ---- checks and metrics ----------------------------------------------------
    def check(self) -> None:
        by_name = {t.name: t for t in self.tables}
        for op in self.ops:
            if op.error:
                continue
            if op.kind == "lookup":
                op.ok = op.info["got"] == op.info["expect"]
            elif op.kind == "export":
                ok = True
                for n in op.info["tables"]:
                    path = os.path.join(op.info["dest"], op.info["session"], n)
                    got = snapshot_digest(path) if os.path.isdir(path) else (0, 0)
                    ok &= got == export_digest(by_name[n].files(), op.info["window"], VERSIONS)
                op.ok = ok
            elif op.kind == "import":
                s = op.info["session"]
                ok = sorted(op.info["restored"]) == op.info["expect"]
                for n, path in op.info["restored"].items():
                    ok &= snapshot_digest(path) == export_digest(by_name[n].files(), s["window"], VERSIONS)
                op.ok = ok

    def metrics(self) -> dict:
        work = [o for o in self.ops if o.kind in ("export", "import") and not o.failed]
        look = [o.seconds for o in self.ops if o.kind == "lookup" and not o.failed]
        return {
            "fleet_tables_per_s": (rate(sum(o.info["n_tables"] for o in work), sum(o.seconds for o in work)), "tables/s"),
            "catalog_query_s_p50": (percentile(look, 50), "s"),
            "catalog_query_s_p90": (percentile(look, 90), "s"),
        }

    def annotations(self) -> dict:
        return {
            "full_exports": sum(1 for o in self.ops if o.kind == "export" and o.info["window"] == 0),
            "incremental_exports": sum(1 for o in self.ops if o.kind == "export" and o.info["window"] > 0),
            "tables_exported": sum(o.info["n_tables"] for o in self.ops if o.kind == "export"),
            "lookups": sum(1 for o in self.ops if o.kind == "lookup"),
            "tables_imported": sum(o.info["n_tables"] for o in self.ops if o.kind == "import"),
        }

    def snapshot_roots(self) -> list[str]:
        return list(self.dests)
