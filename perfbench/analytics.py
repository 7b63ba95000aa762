"""analytics_mix: a fixed, stratified draw over the query registry, one
client, closed loop, every query to the ``noop`` sink.

The draw is made once with a constant seed, so every ``--seed`` measures
the same mix; ``--seed`` generates the tables and orders each pass.  Set-up
runs every drawn query once through the registered DuckDB oracle
(``tests/oracle_harness.compare``), which checks it and warms its plan,
then WARM_PASSES untimed passes to the ``noop`` sink: the JVM keeps
compiling after the cold pass, and each of the next few passes runs 5-20%
faster than the one before it.  The timed passes follow; a query's median
over them sits near the level later passes only wander around.  More warm
passes steady the figures further but do not fit the run budget.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from common import Clock, Op, percentile, rate

WHY = "registry queries over TPC-H-like tables: query, function and operator layers only, no snapshot or catalog state"
SF = 0.01
DRAW_SEED = 20240101
WARM_PASSES = 2
MIN_PASSES = 3
QUOTA = {
    "relational": 1,
    "llm_pipeline": 1,
    "tpch_extra": 1,
    "hbacker_semantics": 1,
    "streaming_shadow": 1,
    "graph": 1,
    "multimodal_udf": 1,
}


# These two build a temporary on-disk Catalog on their first call in a
# process (a fixture), so they run the catalog layer this workload is
# meant to bypass.
CATALOG_FIXTURE_QUERIES = frozenset({"catalog_descriptor_projection", "catalog_session_table_report"})


def draw(specs) -> list:
    """Stratified draw: QUOTA queries per module, fixed for every run."""
    rng = np.random.default_rng(DRAW_SEED)
    out = []
    for module, n in QUOTA.items():
        names = sorted(
            s.name for s in specs.values()
            if module_of(s) == module and s.name not in CATALOG_FIXTURE_QUERIES
        )
        out += [specs[names[i]] for i in sorted(rng.choice(len(names), n, replace=False))]
    return out


def module_of(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[1]


class Analytics:
    name = "analytics_mix"
    why = WHY

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[Op] = []
        self.oracle_s = 0.0

    def generate(self, out: str) -> dict:
        self.sf_dir = os.path.join(out, "tables")
        rows = gen.gen_analytics_tables(self.sf_dir, self.ctx.seed, SF)
        return {"sf": SF, "rows": rows, "draw_per_module": QUOTA}

    def warm_up(self) -> None:
        """Check each drawn query against its oracle (DuckDB time is not
        set-up), then run the draw untimed until the JVM is warm."""
        import tests.oracle_harness as oh
        from hbacker_spark.registry import load_all_queries

        self.draw = draw(load_all_queries())
        inner = oh.duckdb_oracle

        def timed_oracle(*a, **kw):
            t0 = time.perf_counter()
            try:
                return inner(*a, **kw)
            finally:
                self.oracle_s += time.perf_counter() - t0

        oh.duckdb_oracle = timed_oracle
        self.verdict = {}
        try:
            for spec in self.draw:
                try:
                    problems = oh.compare(spec.fn(self.ctx.spark, self.sf_dir), spec.oracle, self.sf_dir)
                except Exception as ex:  # noqa: BLE001 — a failing query is a finding, not a crash
                    problems = [f"{type(ex).__name__}: {ex}"[:300]]
                self.verdict[spec.name] = problems
        finally:
            oh.duckdb_oracle = inner
        for _ in range(WARM_PASSES):
            for spec in self.draw:
                self._query(spec)

    def _query(self, spec) -> Op:
        from hbacker_spark.operators.rank import release_rank_blocks

        spark, tr = self.ctx.spark, self.ctx.tracer
        module = module_of(spec)
        clk = Clock()
        err = None
        with clk, tr.span(f"queries.{module}", f"queries.{module}"):
            try:
                with tr.span("queries.plan", "queries.plan"):
                    df = spec.fn(spark, self.sf_dir)
                with tr.span("queries.exec", "queries.exec"):
                    df.write.format("noop").mode("overwrite").save()
                    release_rank_blocks(spark)
            except Exception as ex:  # noqa: BLE001
                err = f"{type(ex).__name__}: {ex}"[:300]
        return Op("query", clk.wall, err, info={"name": spec.name, "module": module})

    def run(self, seconds: float) -> None:
        t0 = time.perf_counter()
        deadline = t0 + seconds
        rng = np.random.default_rng(self.ctx.seed)
        self.passes = 0
        # whole passes, so the mix stays fixed; at least MIN_PASSES, so each
        # query's median outvotes one slow sample
        while self.passes < MIN_PASSES or time.perf_counter() < deadline:
            for i in rng.permutation(len(self.draw)):
                self.ops.append(self._query(self.draw[i]))
            self.passes += 1
        self.wall = time.perf_counter() - t0

    def check(self) -> None:
        for op in self.ops:
            op.ok = not self.verdict.get(op.info["name"])

    def metrics(self) -> dict:
        lat = [o.seconds for o in self.ops if not o.failed]
        return {
            "queries_per_s": (rate(len(lat), self.wall), "1/s"),
            "query_s_p50": (percentile(lat, 50), "s"),
            "query_s_p90": (percentile(lat, 90), "s"),
        }

    def work(self) -> list[tuple[int, object]]:
        return [(1, o) for o in self.ops if not o.failed]

    def requests(self) -> list:
        """Client requests whose latency is reported: queries, plan to noop sink."""
        return [o for o in self.ops if not o.failed]

    def annotations(self) -> dict:
        return {
            "draw": [s.name for s in self.draw],
            "oracle_failures": {k: v for k, v in self.verdict.items() if v},
            "passes": self.passes,
            "oracle_s_excluded_from_setup": self.oracle_s,
            "window_s": self.wall,
        }

    def complete(self) -> str | None:
        return None if self.passes >= MIN_PASSES else f"{self.passes} passes of the draw ran"

    def snapshot_roots(self) -> list[str]:
        return []

    def catalog_roots(self) -> list[str]:
        return []
