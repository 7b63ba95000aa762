"""Seeded input generators, built on numpy and pyarrow only.

Nothing here imports Spark or the package under test: the benchmark
generates its inputs first and the program only ever reads the files.
Every generator is a pure function of its seed and sizes.

Cells tables are written as ``<cells_root>/<table>.parquet`` in the cells
schema (row_key, cf, qualifier, ts epoch-ms, value).  A table is a
directory of parquet files, so an increment is one more file in it.
Timestamps are distinct within a table, so "latest version wins" always
has exactly one winner.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CELLS_ARROW = pa.schema(
    [
        pa.field("row_key", pa.string(), nullable=False),
        pa.field("cf", pa.string(), nullable=False),
        pa.field("qualifier", pa.string(), nullable=False),
        pa.field("ts", pa.int64(), nullable=False),
        pa.field("value", pa.string()),
    ]
)

T0_MS = 1_700_000_000_000  # first cell timestamp of every cells table
WINDOW_MS = 3_600_000  # one export window: base data, then one per increment


def _strings(prefix: str, ids: np.ndarray, width: int) -> pa.Array:
    digits = pc.utf8_lpad(pa.array(np.asarray(ids, dtype=np.int64)).cast(pa.string()), width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def _window_ts(rng: np.random.Generator, n: int, window: int) -> np.ndarray:
    """n distinct timestamps inside window ``window`` (0 = base data)."""
    stride = WINDOW_MS // max(n, 1)
    if stride < 1:
        raise ValueError(f"{n} cells do not fit one {WINDOW_MS} ms window")
    return T0_MS + window * WINDOW_MS + rng.permutation(n) * stride + rng.integers(0, stride, n)


def window_end(window: int) -> int:
    """Exclusive end (epoch-ms) of export window ``window``."""
    return T0_MS + (window + 1) * WINDOW_MS


def _cells_table(row_ids: np.ndarray, quals: np.ndarray, ts: np.ndarray, rng) -> pa.Table:
    """Cells from integer row and qualifier ids; every third qualifier is
    in column family ``m``, the rest in ``d``."""
    return pa.table(
        {
            "row_key": _strings("row", row_ids, 9),
            "cf": pa.array(np.where(quals % 3 == 2, "m", "d")),
            "qualifier": _strings("q", quals, 3),
            "ts": ts.astype(np.int64),
            "value": _strings("v", rng.integers(0, 10**12, len(ts)), 12),
        },
        schema=CELLS_ARROW,
    )


@dataclass
class CellsTable:
    """One generated cells table: its base file plus staged increments."""

    name: str
    base: str
    increments: list[str] = field(default_factory=list)
    window_cells: list[int] = field(default_factory=list)  # cells per window

    @property
    def path(self) -> str:
        """The table: a directory of parquet files."""
        return os.path.dirname(self.base)

    def stage(self, upto: int) -> None:
        """Make the table hold the base file plus increments 1..upto; the
        other increments go back to staging."""
        for k, staged in enumerate(self.increments, start=1):
            inside = os.path.join(self.path, os.path.basename(staged))
            if k <= upto and os.path.exists(staged):
                os.rename(staged, inside)
            elif k > upto and os.path.exists(inside):
                os.rename(inside, staged)

    def files(self) -> list[str]:
        """Every generated file of the table, wherever it sits now."""
        return [self.base] + [
            p if os.path.exists(p) else os.path.join(self.path, os.path.basename(p)) for p in self.increments
        ]


def gen_cells_table(
    root: str,
    staging: str,
    name: str,
    rng: np.random.Generator,
    n_rows: int,
    increments: int,
    new_rows_per_increment: int,
    updated_cells_per_increment: int,
    max_quals: int = 64,
    zipf_a: float = 1.6,
    max_versions: int = 8,
) -> CellsTable:
    """Base data in window 0, increment k in window k.

    Row sizes (qualifiers per row) are Zipf-skewed and every cell holds
    1..max_versions versions.  Increment k adds ``new_rows_per_increment``
    new rows and 1..3 newer versions of ``updated_cells_per_increment``
    existing cells.  The base file lands in ``<root>/<name>.parquet/``;
    increments wait in ``staging`` until the caller moves them in.
    """

    def rows(first_row: int, n: int):
        per_row = np.minimum(rng.zipf(zipf_a, n), max_quals)
        rk = np.repeat(np.arange(first_row, first_row + n), per_row)
        q = np.arange(len(rk)) - np.repeat(np.cumsum(per_row) - per_row, per_row)
        return rk, q

    def versions(rk, q, lo, hi):
        nv = rng.integers(lo, hi + 1, len(rk))
        return np.repeat(rk, nv), np.repeat(q, nv)

    table_dir = os.path.join(root, f"{name}.parquet")
    os.makedirs(table_dir, exist_ok=True)
    os.makedirs(staging, exist_ok=True)
    cells = rows(0, n_rows)
    vrk, vq = versions(*cells, 1, max_versions)
    base = os.path.join(table_dir, "part-00000.parquet")
    pq.write_table(_cells_table(vrk, vq, _window_ts(rng, len(vrk), 0), rng), base)
    out = CellsTable(name, base, window_cells=[len(vrk)])
    next_row = n_rows
    for k in range(1, increments + 1):
        nrk, nq = rows(next_row, new_rows_per_increment)
        next_row += new_rows_per_increment
        pick = rng.choice(len(cells[0]), size=min(updated_cells_per_increment, len(cells[0])), replace=False)
        urk, uq = versions(cells[0][pick], cells[1][pick], 1, 3)
        irk, iq = np.concatenate([nrk, urk]), np.concatenate([nq, uq])
        path = os.path.join(staging, f"part-{k:05d}.parquet")
        pq.write_table(_cells_table(irk, iq, _window_ts(rng, len(irk), k), rng), path)
        out.increments.append(path)
        out.window_cells.append(len(irk))
        cells = (np.concatenate([cells[0], nrk]), np.concatenate([cells[1], nq]))
    return out


# ---- TPC-H-like analytics tables --------------------------------------------

_EPOCH_DAY = np.datetime64("1970-01-01", "D")
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _pick(rng, values, n, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].astype(str)


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH_DAY).astype(int)
    b = (np.datetime64(hi, "D") - _EPOCH_DAY).astype(int)
    return (_EPOCH_DAY + rng.integers(a, b + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_analytics_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Writes region, nation, customer, supplier, part, orders, lineitem,
    events, documents and embeddings as ``<out_dir>/<name>.parquet`` with
    the column names and types the query registry reads.  ``sf`` scales
    the row counts as TPC-H does (lineitem = 6M x sf).  Returns rows per
    table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32),
             "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
        ),
        "nation": pa.table(
            {"n_nationkey": pa.array(range(25), i32),
             "n_name": [f"NATION_{i}" for i in range(25)],
             "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}
        ),
        "customer": pa.table(
            {"c_custkey": pa.array(np.arange(n_cust), i64),
             "c_name": _strings("Customer#", np.arange(n_cust), 9),
             "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
             "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
             "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)}
        ),
        "supplier": pa.table(
            {"s_suppkey": pa.array(np.arange(n_supp), i64),
             "s_name": _strings("Supplier#", np.arange(n_supp), 9),
             "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
             "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
        ),
        "part": pa.table(
            {"p_partkey": pa.array(np.arange(n_part), i64),
             "p_name": np.char.add(np.char.add(_pick(rng, _P_ADJ, n_part), " "), _pick(rng, _P_NOUN, n_part)),
             "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
             "p_type": _pick(rng, _P_TYPES, n_part),
             "p_size": pa.array(rng.integers(1, 51, n_part), i32),
             "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}
        ),
        "orders": pa.table(
            {"o_orderkey": pa.array(np.arange(n_ord), i64),
             "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
             "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
             "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
             "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
             "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)}
        ),
        "lineitem": pa.table(
            {"l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
             "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
             "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
             "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
             "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
             "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
             "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
             "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
             "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
             "l_linestatus": _pick(rng, ["F", "O"], n_line),
             "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}
        ),
    }
    ev_ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    tables["events"] = pa.table(
        {"event_id": pa.array(np.arange(n_ev), i64),
         "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
         "user_id": pa.array(rng.integers(0, max(150, n_ev // 660), n_ev), i64),
         "event_type": _pick(rng, _EVENT_TYPES, n_ev),
         "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
         "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")}
    )
    # ~5% of documents are an earlier document plus a " dup" marker, so
    # the dedup and near-duplicate queries have real work to find.
    texts: list[str] = []
    for i in range(n_doc):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, _VOCAB, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table(
        {"doc_id": pa.array(np.arange(n_doc), i64),
         "text": texts,
         "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
         "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
         "n_chars": pa.array([len(t) for t in texts], i64)}
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {"vec_id": pa.array(np.arange(n_emb), i64),
         "embedding": pa.array(list(emb), pa.list_(pa.float32())),
         "label": pa.array(rng.integers(0, 10, n_emb), i32)}
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
