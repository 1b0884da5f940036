"""Seeded change logs for the benchmark workloads.

The generator is DuckDB SQL, independent of the engine, and follows the
distribution of ``etl_framework_spark.datagen.gen_changes``: 30% of
events hit 3 hot conversations, the rest spread uniformly; 5% deletes,
45% updates, 50% inserts; ``ts`` jittered by up to 300 s against LSN
order; and 2% of events re-delivered byte-identically (same LSN).

A log is cut into epochs by LSN: epoch 0 holds the first ``first``
events and every later epoch the next ``per`` events. ``ts`` is derived
from the LSN, so event time advances together with it as a tailed
binlog's does. (``gen_changes`` derives ``ts`` from the row index, so
calling it once per epoch restarts ``ts`` at the same base, and a later
epoch is *older* than the stored rows and mostly loses last-writer-wins
as no-ops.) :func:`check_winning_shares` asserts that each update epoch
wins for most of the keys it touches.

Each epoch is written to its own directory ``epoch=<n>`` before any
timing starts.
"""

from __future__ import annotations

import glob
import os

import duckdb

from etl_framework_spark.schemas import CHANGE_SCHEMA

#: Each update epoch must win last-writer-wins for at least this share of
#: the keys it touches; below it the epoch is mostly no-ops and the
#: benchmark would time a degenerate workload.
MIN_WINNING_SHARE = 0.9

#: 2026-01-01 00:00:00 UTC, the base event time of ``gen_changes``.
BASE_EPOCH_S = 1767225600

_GEN = """
WITH r AS (
  SELECT range AS i, range + 1 AS lsn,
         hash(range, 'conv', {seed}) % 1000000 / 1e6 < 0.30 AS is_hot,
         hash(range, 'op', {seed}) % 1000000 / 1e6 AS u_op
  FROM range({n})
),
e AS (
  SELECT lsn, i,
    CASE WHEN u_op < 0.05 THEN 'D' WHEN u_op < 0.50 THEN 'U' ELSE 'I' END AS op,
    to_timestamp({base} + i + (hash(i, 'jit', {seed}) % 601)::BIGINT - 300) AS ts,
    'conv-' || lpad((CASE WHEN is_hot THEN hash(i, 'hotpick', {seed}) % 3
                          ELSE 3 + hash(i, 'coldpick', {seed}) % ({n_convs} - 3) END)::VARCHAR,
                    8, '0') AS conv_id,
    (hash(i, 'turn', {seed}) % 50)::INTEGER AS turn_idx,
    ['user', 'assistant', 'system', 'tool'][(1 + hash(i, 'role', {seed}) % 4)::BIGINT] AS role0,
    ['search', 'bash', 'browser', 'python'][(1 + hash(i, 'tname', {seed}) % 4)::BIGINT] AS tool0,
    CASE WHEN lsn <= {first} THEN 0 ELSE 1 + (lsn - {first} - 1) // {per} END AS epoch
  FROM r
),
ev AS (
  SELECT op, lsn, ts, conv_id, turn_idx,
    CASE WHEN op <> 'D' THEN role0 END AS role,
    CASE WHEN op <> 'D' THEN 'turn ' || turn_idx || ' of ' || conv_id || ' rev ' || lsn
         || ' :: ' || repeat('lorem ipsum dolor sit amet ', (1 + hash(lsn, 'len') % 8)::INTEGER)
    END AS text,
    CASE WHEN op <> 'D' AND role0 = 'tool' THEN tool0 END AS tool,
    epoch
  FROM e
)
SELECT * FROM ev
UNION ALL
SELECT * FROM ev WHERE hash(lsn, 'dup', {seed}) % 50 = 0
"""


def write_log(
    out_dir: str, seed: int, first: int, per: int, n_updates: int, n_convs: int
) -> list[str]:
    """Write epoch 0 (``first`` events) and ``n_updates`` epochs of
    ``per`` events, plus re-deliveries, to ``out_dir/epoch=<n>``.
    Returns the epoch directories in order."""
    sql = _GEN.format(
        seed=seed, n=first + per * n_updates, n_convs=n_convs, base=BASE_EPOCH_S,
        first=first, per=per,
    )
    with duckdb.connect() as con:
        con.execute("SET threads TO 4")
        con.execute(f"COPY ({sql}) TO '{out_dir}' (FORMAT parquet, PARTITION_BY (epoch))")
    return [os.path.join(out_dir, f"epoch={e}") for e in range(n_updates + 1)]


def read_epoch(spark, epoch_dir: str):
    return spark.read.schema(CHANGE_SCHEMA).parquet(epoch_dir)


def epoch_files(epoch_dirs: list[str]) -> list[str]:
    """Parquet files of the given epochs, in epoch order."""
    return [p for d in epoch_dirs for p in sorted(glob.glob(os.path.join(d, "*.parquet")))]


def winning_shares(epoch_dirs: list[str]) -> list[float]:
    """For each epoch after the first, the share of its distinct keys
    whose newest event in that epoch beats every earlier epoch's events
    on ``(ts, lsn)``. Computed with DuckDB straight from the parquet."""
    parts = [
        f"SELECT {e} AS epoch, conv_id, turn_idx, ts, lsn FROM read_parquet('{d}/*.parquet', hive_partitioning = false)"
        for e, d in enumerate(epoch_dirs)
    ]
    sql = f"""
    WITH ev AS ({' UNION ALL '.join(parts)}),
    per AS (
      SELECT conv_id, turn_idx, epoch,
             max(epoch(ts)::HUGEINT * 1000000000000 + lsn) AS k
      FROM ev GROUP BY ALL
    ),
    ranked AS (
      SELECT epoch, k,
             max(k) OVER (PARTITION BY conv_id, turn_idx ORDER BY epoch
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      FROM per
    )
    SELECT epoch, avg(CASE WHEN prev IS NULL OR k > prev THEN 1.0 ELSE 0.0 END)
    FROM ranked WHERE epoch > 0 GROUP BY epoch ORDER BY epoch
    """
    with duckdb.connect() as con:
        con.execute("SET threads TO 2")
        return [float(r[1]) for r in con.execute(sql).fetchall()]


def epoch_counts(epoch_dirs: list[str]) -> list[int]:
    """Events per epoch, re-deliveries included."""
    with duckdb.connect() as con:
        return [
            con.execute(
                f"SELECT count(*) FROM read_parquet('{d}/*.parquet', hive_partitioning = false)"
            ).fetchone()[0]
            for d in epoch_dirs
        ]


def check_winning_shares(epoch_dirs: list[str]) -> None:
    shares = winning_shares(epoch_dirs)
    low = [(i + 1, s) for i, s in enumerate(shares) if s < MIN_WINNING_SHARE]
    if low:
        raise RuntimeError(
            f"update epochs win LWW for too few keys (floor {MIN_WINNING_SHARE}): {low}"
        )
