"""Correctness gate, independent of the engine.

DuckDB recomputes last-writer-wins state directly from the change-log
parquet: per key ``(conv_id, turn_idx)`` the event with the largest
``(ts, lsn)`` wins, and a winning delete removes the key. The engine's
final ``current()`` is exported to parquet and both sides are reduced
to a row count and an order-independent hash of
``(conv_id, turn_idx, _lsn, text)``.
"""

from __future__ import annotations

import os

import duckdb

_DIGEST = "SELECT count(*), coalesce(sum(hash(conv_id, turn_idx, _lsn, text)::HUGEINT), 0) FROM {src}"


def _digest(con, src: str) -> tuple[int, int]:
    n, h = con.execute(_DIGEST.format(src=src)).fetchone()
    return int(n), int(h)


def oracle_digest(log_files: list[str]) -> tuple[int, int]:
    """(rows, hash) of the LWW state the change log implies."""
    files = ", ".join(f"'{p}'" for p in log_files)
    src = f"""(
      SELECT conv_id, turn_idx, lsn AS _lsn, text FROM (
        SELECT *, row_number() OVER (
          PARTITION BY conv_id, turn_idx ORDER BY ts DESC, lsn DESC) AS rn
        FROM read_parquet([{files}], hive_partitioning = false)
      ) WHERE rn = 1 AND op <> 'D'
    )"""
    with duckdb.connect() as con:
        con.execute("SET threads TO 2")
        return _digest(con, src)


def table_digest(table, out_dir: str) -> tuple[int, int]:
    """(rows, hash) of a table's live rows, exported through Spark."""
    table.refresh().current().select("conv_id", "turn_idx", "_lsn", "text").write.parquet(
        out_dir, mode="overwrite"
    )
    with duckdb.connect() as con:
        con.execute("SET threads TO 2")
        return _digest(con, f"read_parquet('{os.path.join(out_dir, '*.parquet')}', hive_partitioning = false)")
