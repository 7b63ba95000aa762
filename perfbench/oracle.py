"""Independent expectations for cells outputs, computed by DuckDB straight
from the generated input files.  A digest is (row count, order-insensitive
sum of per-row hashes)."""

from __future__ import annotations

import glob
import os

import duckdb

import gen

_CON = None


def _con():
    global _CON
    if _CON is None:
        _CON = duckdb.connect(config={"memory_limit": "1GB", "threads": "2"})
    return _CON


def _files(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def top_versions_in_window(files: list[str], start: int, end: int, versions: int) -> str:
    """Cells an export of [start, end) keeping ``versions`` per cell must hold."""
    return (
        f"SELECT * FROM read_parquet({_files(files)}) WHERE ts >= {start} AND ts < {end} "
        f"QUALIFY row_number() OVER (PARTITION BY row_key, cf, qualifier ORDER BY ts DESC) <= {versions}"
    )


def export_digest(files: list[str], window: int, versions: int) -> tuple[int, int]:
    """Digest of the snapshot an export of ``window`` must write."""
    start = 0 if window == 0 else gen.window_end(window - 1)
    return cells_digest(top_versions_in_window(files, start, gen.window_end(window), versions))


def latest_within(files: list[str], cutoff: int) -> str:
    """Point-in-time state at ``cutoff``: latest version wins per cell."""
    return (
        f"SELECT * FROM read_parquet({_files(files)}) WHERE ts <= {cutoff} "
        f"QUALIFY row_number() OVER (PARTITION BY row_key, cf, qualifier ORDER BY ts DESC) = 1"
    )


def cells_digest(relation_sql: str) -> tuple[int, int]:
    n, h = _con().execute(
        "SELECT count(*), coalesce(sum(hash(row_key, cf, qualifier, ts, value)::HUGEINT), 0) "
        f"FROM ({relation_sql})"
    ).fetchone()
    return int(n), int(h)


def snapshot_digest(path: str) -> tuple[int, int]:
    """Digest of a Spark-written parquet directory (empty if no data files)."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return 0, 0
    return cells_digest(f"SELECT row_key, cf, qualifier, ts, value FROM read_parquet({_files(files)})")
