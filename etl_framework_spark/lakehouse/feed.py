"""Format-agnostic CDC-out change feed (§2.10 CDC-out).

The row-level diff between two committed versions of any
:class:`~etl_framework_spark.lakehouse.protocol.KeyedTable` is the same
plan regardless of how the format stores its metadata: read ONLY the
buckets whose file lists differ between the versions (copy-on-write
rewrites whole buckets, so identical file list ⇒ identical content),
then one full-outer join on the key classifies each changed key as
I / U / D. Each format supplies the changed-bucket set from its own
metadata (the shared ``BucketedTable.changes_between`` over LakeTable's
snapshot/shard references or DirTable's commit-log fold; IcebergTable's
snapshots) — the join itself lives here, once.

reference parity: the reference has no CDC-out surface; this mirrors
Delta's ``table_changes`` / Iceberg's changelog scan shape so a
downstream incremental consumer can tail the lake table itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def delta_interval_suffix(
    old_map: dict, new_map: dict
) -> "list[dict] | None":
    """The appended merge-on-read delta entries of a PURELY-ADDITIVE
    interval, or None when any changed bucket was rewritten.

    For each bucket, the newer file list must extend the older one
    (old list is a prefix — appends never reorder or drop entries) and
    every appended entry must be ``kind="delta"``. Then base files are
    byte-identical across the interval, so ONLY keys present in the
    appended deltas can have changed state — the feed can be key-scoped
    to them (O(delta) instead of O(bucket-state) join input). Any
    rewrite in the interval (CoW merge, compact, delete_where,
    rebucket) fails the prefix test and the caller falls back to the
    full-state diff."""
    added: list[dict] = []
    for b in set(old_map) | set(new_map):
        o, n = old_map.get(b, []), new_map.get(b, [])
        if o == n:
            continue
        if len(n) < len(o) or n[: len(o)] != o:
            return None
        suffix = n[len(o) :]
        if any(e.get("kind") != "delta" for e in suffix):
            return None
        added.extend(suffix)
    return added if added else None


def delta_fast_path(old_map: dict, new_map: dict, read_files):
    """Fast-path plumbing for ``BucketedTable.changes_between``:
    detect a purely-additive delta interval and read its appended rows
    with ``_seq``. Returns ``(delta_rows, entries)`` or ``(None,
    None)``. ``read_files(entries)`` is the format's own reader — one
    shared detector input shape so the fast path cannot silently
    enable/disable for one format only."""
    added = delta_interval_suffix(old_map, new_map)
    if not added:
        return None, None
    return read_files(added), added


#: delta intervals larger than this skip the driver-side key extraction
#: (the semi-join scope); the single-pass diff still runs, it just
#: shuffles the old bucket state instead of O(delta) rows.
LOCAL_KEYS_MAX_BYTES = 256 << 20


def _local_delta_keys(table, entries: list[dict], key_columns: list[str]):
    """Distinct keys of the appended delta files, read DRIVER-SIDE with
    thread-pooled pyarrow (same pattern as ``collect_file_ranges``):
    O(delta) bytes, zero Spark jobs — a Spark-side distinct would
    re-scan the delta subtree once per use and pay a stage per job.
    Returns a pandas frame, or None (caller degrades gracefully) when
    the interval exceeds ``LOCAL_KEYS_MAX_BYTES`` or any file resists
    a column-projected read."""
    import os

    paths = [os.path.join(table.path, e["path"]) for e in entries]
    try:
        if sum(os.path.getsize(p) for p in paths) > LOCAL_KEYS_MAX_BYTES:
            return None
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa
        import pyarrow.parquet as pq

        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            parts = list(
                ex.map(lambda p: pq.read_table(p, columns=key_columns), paths)
            )
        return pa.concat_tables(parts).to_pandas().drop_duplicates()
    except Exception:
        return None


def _entry_key_bounds(entries: list[dict], key0: str):
    """(lo, hi) of the delta files' recorded ``key0`` manifest stats —
    job-free file-skipping bounds for the old-state scan. None when any
    entry lacks the stat (no safe bound exists)."""
    from etl_framework_spark.lakehouse.table import _decode_stat

    lo = hi = None
    for e in entries:
        rng = (e.get("stats") or {}).get(key0)
        if not rng:
            return None
        elo, ehi = _decode_stat(rng[0]), _decode_stat(rng[1])
        lo = elo if lo is None or elo < lo else lo
        hi = ehi if hi is None or ehi > hi else hi
    return None if lo is None else (lo, hi)


def diff_versions(
    table,
    v_from: int,
    v_to: int,
    changed_buckets: list[int],
    delta_rows: DataFrame | None = None,
    delta_entries: list[dict] | None = None,
) -> DataFrame:
    """One row per key whose state changed between two versions, with
    ``_change_type`` I/U/D; columns are the newer version's (minus
    ``_deleted``). ``changed_buckets`` must cover every bucket whose
    content can differ — both versions are read bucket-pruned to it.

    new-only ⇒ I, both-with-newer-lsn ⇒ U, old-live-now-gone ⇒ D.
    ``_lsn`` is non-null on every live stored row, so side-nullness of
    ``_lsn`` after the join is the presence test (tombstones were
    already filtered out of each live side).

    ``delta_rows`` + ``delta_entries`` (the delta-only fast path, see
    :func:`delta_interval_suffix`): the interval's appended delta rows
    carrying ``_seq``, plus their manifest entries. Only their keys can
    have changed, and the base files are byte-identical across the
    interval — so the diff is computed in a SINGLE pass with no join
    at all: one scan of the OLD bucket state (file-skipped by the
    deltas' recorded key bounds — job-free, straight from the manifest
    stats — and broadcast-semi-joined down to the touched keys, which
    are extracted driver-side from the delta files so no subtree is
    scanned twice), unioned with the delta rows at base ``_seq=0`` —
    exact, because every base commit precedes every interval delta, so
    the old winner ranks below any delta that beats it on the fold's
    order columns and above none it shouldn't (:func:`delta_rank`
    orders by event time first, ``_seq`` as the tiebreak; for
    "replace" tables ``_seq`` alone, where base < delta always holds).
    The union is shuffled ONCE by key; the fold winner (``_rn==1``) is
    the new state and a same-partition window attaches the base row's
    ``_lsn``/liveness as the old state, so the I/U/D classification is
    a projection — O(delta) shuffle input vs the slow path's two full
    bucket states through a full-outer join. Falls back to the full
    diff when the stored shape lacks ``_lsn`` (the presence test below
    needs it)."""
    from pyspark.sql import Window

    keys = table.key_columns
    if delta_rows is not None and "_lsn" in delta_rows.columns:
        from etl_framework_spark.lakehouse.table import align_to_schema, delta_rank

        key0 = keys[0]
        bounds = _entry_key_bounds(delta_entries or [], key0)
        old_all = table.read(
            buckets=changed_buckets,
            version=v_from,
            ranges={key0: bounds} if bounds else None,
        )
        keys_pdf = (
            _local_delta_keys(table, delta_entries, keys)
            if delta_entries
            else None
        )
        if keys_pdf is not None and len(keys_pdf):
            try:
                scope = table.spark.createDataFrame(
                    keys_pdf, schema=delta_rows.select(*keys).schema
                )
                old_all = old_all.join(
                    F.broadcast(scope), on=keys, how="left_semi"
                )
            except Exception:
                # pandas->Spark conversion or broadcast build can fail
                # on adversarial key data (nulls, overflow) — the diff
                # below is correct without the semi-join, it just
                # shuffles the old bucket state instead of O(delta)
                pass
        target = delta_rows.drop("_seq").schema
        base = align_to_schema(old_all, target).withColumn("_seq", F.lit(0))
        ranked = delta_rank(
            base.unionByName(delta_rows), keys, table.order_columns
        )
        alive = (
            (~F.coalesce(F.col("_deleted"), F.lit(False)))
            if "_deleted" in ranked.columns
            else F.lit(True)
        )
        wp = Window.partitionBy(*keys)
        is_base = F.col("_seq") == 0
        old_live = (
            F.max(F.when(is_base & alive, F.lit(1)).otherwise(F.lit(0))).over(wp)
            == 1
        )
        old_lsn = F.max(F.when(is_base & alive, F.col("_lsn"))).over(wp)
        # U is null-SAFE: a live old row violating the non-null-_lsn
        # contract (blind bootstrap append) must still surface its
        # update instead of vanishing on a NULL comparison
        ctype = (
            F.when(alive & ~old_live, F.lit("I"))
            .when(~alive & old_live, F.lit("D"))
            .when(
                alive & old_live & ~F.col("_lsn").eqNullSafe(old_lsn),
                F.lit("U"),
            )
        )
        out_cols = [f.name for f in target.fields if f.name != "_deleted"]
        # D rows carry only the key, like the slow path (whose new side
        # is absent in the full-outer join) — downstream consumers rely
        # on NULL payload/order columns for deletes
        return (
            ranked.withColumn("_change_type", ctype)
            .where((F.col("_rn") == 1) & F.col("_change_type").isNotNull())
            .select(
                *[
                    F.col(c)
                    if c in keys
                    else F.when(
                        F.col("_change_type") != "D", F.col(c)
                    ).alias(c)
                    for c in out_cols
                ],
                "_change_type",
            )
        )
    from etl_framework_spark.lakehouse.table import align_to_schema

    new = table.current(buckets=changed_buckets, version=v_to)
    # the interval may span a schema evolution: a format whose time
    # travel serves each version under ITS schema (Iceberg) can return
    # older rows without ``_lsn``/added columns — align the old side to
    # the newer shape so the diff below is well-formed either way
    old = align_to_schema(
        table.current(buckets=changed_buckets, version=v_from), new.schema
    )
    # side presence is tested on explicit flags, not on ``_lsn``
    # nullness: live rows violating the non-null-_lsn contract (blind
    # bootstrap appends) must classify by EXISTENCE — otherwise an
    # update of such a row reported "I" and a delete reported a bogus
    # payload-less "I" instead of "D". U is null-safe for the same
    # reason. (The fast path above classifies identically.)
    o = old.select(
        *keys,
        F.col("_lsn").alias("_old_lsn"),
        F.lit(True).alias("_old_present"),
    ).alias("o")
    n = new.withColumn("_new_present", F.lit(True)).alias("n")
    joined = n.join(o, on=keys, how="full_outer")
    ctype = (
        F.when(F.col("o._old_present").isNull(), F.lit("I"))
        .when(F.col("n._new_present").isNull(), F.lit("D"))
        .when(
            ~F.col("n._lsn").eqNullSafe(F.col("o._old_lsn")), F.lit("U")
        )
    )
    out_cols = [
        c for c in new.columns if c not in ("_deleted", "_new_present")
    ]
    return (
        joined.withColumn("_change_type", ctype)
        .where(F.col("_change_type").isNotNull())
        .select(
            *[
                F.col(f"n.{c}").alias(c) if c not in keys else F.col(c)
                for c in out_cols
            ],
            "_change_type",
        )
    )
