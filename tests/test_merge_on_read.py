"""Merge-on-read (round-5 VERDICT #1), rebucket (#3) and file-stats
skipping (#2) — parametrized over BOTH table formats.

The MoR contract under test: a MERGE on a ``merge_policy`` table appends
per-epoch delta files (no bucket rewrite; write cost O(batch)), reads
fold them to the SAME state the copy-on-write path would produce, and
``compact`` collapses deltas back to base files. The fold order is the
table's ``order_columns`` (event-time LWW) with commit sequence as the
tiebreak — so a later delta commit carrying an OLDER event still loses,
exactly like the CoW resolver comparing against the stored row.
"""

from __future__ import annotations

import datetime
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_framework_spark.cdc import apply_changes, sync_once
from etl_framework_spark.cdc.relay import sync_table
from etl_framework_spark.datagen import gen_changes
from etl_framework_spark.lakehouse import (
    CommitConflict,
    DirTable,
    LakeTable,
)
from etl_framework_spark.lakehouse.table import BucketDelta
from etl_framework_spark.schemas import (
    CHANGE_SCHEMA,
    CHANGE_SCHEMA_EVOLVED,
    KEY_COLUMNS,
    TRANSCRIPT_SCHEMA,
)

from tests.oracle import replay

IMPLS = {"lake": LakeTable, "dir": DirTable}


@pytest.fixture(params=sorted(IMPLS))
def impl(request):
    return IMPLS[request.param]


def _mk(impl, spark, path, policy="lww", n_buckets=8, schema=None):
    return impl.create(
        spark,
        str(path),
        schema=schema or TRANSCRIPT_SCHEMA,
        key_columns=KEY_COLUMNS,
        n_buckets=n_buckets,
        merge_policy=policy,
    )


def _ts(s: int) -> datetime.datetime:
    return datetime.datetime(2026, 1, 1, 0, 0, 0) + datetime.timedelta(seconds=s)


def _ch(spark, rows, schema=CHANGE_SCHEMA):
    return spark.createDataFrame(rows, schema)


def _state(t) -> dict:
    return {
        (r.conv_id, r.turn_idx): (r.text, r._lsn)
        for r in t.refresh().current().collect()
    }


# ------------------------------------------------------------------ core


def test_mor_merge_appends_deltas_not_rewrites(spark, tmp_path, impl):
    """The write-amplification contract itself: a second small batch
    must leave the first commit's files untouched in the manifest
    (append), not rewrite the bucket."""
    t = _mk(impl, spark, tmp_path / "t")
    apply_changes(t, gen_changes(spark, 2000, seed=1), stream_id="s", epoch_id=0)
    files_before = set(t.refresh().current().inputFiles())
    apply_changes(
        t,
        _ch(spark, [("U", 10_000, _ts(10_000), "conv-x", 0, "user", "tiny", None)]),
        stream_id="s",
        epoch_id=1,
    )
    files_after = set(t.refresh().current().inputFiles())
    assert files_before < files_after, "delta commit must only ADD files"
    st = t.file_stats()
    assert st["delta_files"] > 0
    # the tiny batch added at most a handful of files (its own rows),
    # not a rewrite of every touched bucket
    assert len(files_after - files_before) <= 2


def test_mor_state_matches_replay_oracle(spark, tmp_path, impl):
    """Three MoR epochs fold to the same state as the sequential replay
    oracle — per-turn text equality, the north-rule invariant."""
    t = _mk(impl, spark, tmp_path / "t")
    full = gen_changes(spark, 4000, seed=11)
    pdf = full.toPandas()
    lo, hi = 1 + 4000 // 3, 1 + (2 * 4000) // 3
    apply_changes(t, full.where(F.col("lsn") < lo), stream_id="s", epoch_id=0)
    apply_changes(
        t, full.where((F.col("lsn") >= lo) & (F.col("lsn") < hi)), stream_id="s", epoch_id=1
    )
    apply_changes(t, full.where(F.col("lsn") >= hi), stream_id="s", epoch_id=2)
    assert t.file_stats()["delta_files"] > 0
    got = (
        t.refresh()
        .current()
        .select("conv_id", "turn_idx", "text", "_lsn")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = replay(pdf)[["conv_id", "turn_idx", "text", "_lsn"]]
    pd.testing.assert_frame_equal(got, exp.reset_index(drop=True), check_dtype=False)


def test_mor_out_of_order_event_in_later_commit_loses(spark, tmp_path, impl):
    t = _mk(impl, spark, tmp_path / "t")
    apply_changes(
        t,
        _ch(spark, [("U", 5, _ts(50), "c1", 0, "user", "newer", None)]),
        stream_id="s",
        epoch_id=0,
    )
    # a LATER delta commit carrying an OLDER event (ts 10 < 50)
    apply_changes(
        t,
        _ch(spark, [("U", 6, _ts(10), "c1", 0, "user", "stale", None)]),
        stream_id="s",
        epoch_id=1,
    )
    assert _state(t) == {("c1", 0): ("newer", 5)}


def test_mor_delete_tombstone_blocks_late_event(spark, tmp_path, impl):
    t = _mk(impl, spark, tmp_path / "t")
    apply_changes(
        t,
        _ch(spark, [("U", 1, _ts(1), "c1", 0, "user", "v1", None)]),
        stream_id="s",
        epoch_id=0,
    )
    apply_changes(
        t,
        _ch(spark, [("D", 9, _ts(90), "c1", 0, None, None, None)]),
        stream_id="s",
        epoch_id=1,
    )
    assert _state(t) == {}
    # an out-of-order event BELOW the tombstone's (ts, lsn) must not
    # resurrect the key — the tombstone delta row carries the order
    # columns and wins the fold
    apply_changes(
        t,
        _ch(spark, [("U", 2, _ts(2), "c1", 0, "user", "late", None)]),
        stream_id="s",
        epoch_id=2,
    )
    assert _state(t) == {}
    # but a genuinely NEWER event re-creates it
    apply_changes(
        t,
        _ch(spark, [("U", 10, _ts(100), "c1", 0, "user", "reborn", None)]),
        stream_id="s",
        epoch_id=3,
    )
    assert _state(t) == {("c1", 0): ("reborn", 10)}


def test_compact_collapses_deltas_preserving_state(spark, tmp_path, impl):
    t = _mk(impl, spark, tmp_path / "t")
    full = gen_changes(spark, 3000, seed=5)
    mid = 1500
    apply_changes(t, full.where(F.col("lsn") <= mid), stream_id="s", epoch_id=0)
    apply_changes(t, full.where(F.col("lsn") > mid), stream_id="s", epoch_id=1)
    before = _state(t)
    assert t.file_stats()["delta_files"] > 0
    t.refresh().compact(min_files=1)
    st = t.refresh().file_stats()
    assert st["delta_files"] == 0, "compact must collapse deltas to base"
    assert _state(t) == before
    # post-compact MoR merges keep working (fresh deltas over new base)
    apply_changes(
        t,
        _ch(spark, [("U", 99_999, _ts(99_999), "conv-z", 1, "user", "post", None)]),
        stream_id="s",
        epoch_id=2,
    )
    assert _state(t)[("conv-z", 1)] == ("post", 99_999)


def test_mor_epoch_exactly_once_under_concurrent_appliers(spark, tmp_path, impl):
    """Append commits carry no bucket preconditions, so exactly-once
    rides the in-commit ledger check: two appliers racing the SAME
    epoch must land exactly one delta commit."""
    path = str(tmp_path / "t")
    _mk(impl, spark, path)
    batch = gen_changes(spark, 1200, seed=9)
    results, errors = [], []

    def run():
        try:
            t = impl(spark, path)
            results.append(apply_changes(t, batch, stream_id="s", epoch_id=0))
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    committed = [r for r in results if r is not None]
    assert len(committed) == 1, f"exactly one applier must commit: {results}"
    t = impl(spark, path)
    got = (
        t.current()
        .select("conv_id", "turn_idx", "text", "_lsn")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = replay(batch.toPandas())[["conv_id", "turn_idx", "text", "_lsn"]]
    pd.testing.assert_frame_equal(got, exp.reset_index(drop=True), check_dtype=False)


def test_mor_time_travel_and_changes_between(spark, tmp_path, impl):
    t = _mk(impl, spark, tmp_path / "t")
    full = gen_changes(spark, 2000, seed=13)
    mid = 1000
    apply_changes(t, full.where(F.col("lsn") <= mid), stream_id="s", epoch_id=0)
    v1 = t.version
    apply_changes(t, full.where(F.col("lsn") > mid), stream_id="s", epoch_id=1)
    v2 = t.version
    # time travel folds only the first commit's deltas
    tt = (
        t.current(version=v1)
        .select("conv_id", "turn_idx", "text", "_lsn")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp1 = replay(full.where(F.col("lsn") <= mid).toPandas())[
        ["conv_id", "turn_idx", "text", "_lsn"]
    ]
    pd.testing.assert_frame_equal(tt, exp1.reset_index(drop=True), check_dtype=False)
    # CDC-out across delta commits classifies I/U/D against the folds
    feed = t.changes_between(v1, v2).toPandas()
    s1 = replay(full.where(F.col("lsn") <= mid).toPandas())
    s2 = replay(full.toPandas())
    # itertuples mangles leading-underscore names; use dict records
    k1 = {(r["conv_id"], r["turn_idx"]): r["_lsn"] for r in s1.to_dict("records")}
    k2 = {(r["conv_id"], r["turn_idx"]): r["_lsn"] for r in s2.to_dict("records")}
    exp_types = {}
    for k in set(k1) | set(k2):
        if k not in k1:
            exp_types[k] = "I"
        elif k not in k2:
            exp_types[k] = "D"
        elif k1[k] != k2[k]:
            exp_types[k] = "U"
    got_types = {
        (r["conv_id"], r["turn_idx"]): r["_change_type"]
        for r in feed.to_dict("records")
    }
    assert got_types == exp_types


def test_mor_schema_evolution_mid_stream(spark, tmp_path, impl):
    """An evolved batch (new column + widened key type) through the MoR
    path: old base/delta files upcast at read, the fold sees one
    schema."""
    t = _mk(impl, spark, tmp_path / "t")
    apply_changes(
        t,
        _ch(spark, [("U", 1, _ts(1), "c1", 0, "user", "v1", None)]),
        stream_id="s",
        epoch_id=0,
    )
    evolved = _ch(
        spark,
        [("U", 2, _ts(2), "c1", 1, "asst", "v2", None, "meta!")],
        schema=CHANGE_SCHEMA_EVOLVED,
    )
    apply_changes(t, evolved, stream_id="s", epoch_id=1)
    t.refresh()
    assert "tool_meta" in [f.name for f in t.schema.fields]
    got = {
        (r.conv_id, r.turn_idx): (r.text, r.tool_meta)
        for r in t.current().collect()
    }
    assert got == {("c1", 0): ("v1", None), ("c1", 1): ("v2", "meta!")}


def test_delete_where_folds_mor_history(spark, tmp_path):
    """delete_where on a delta-carrying table must fold first: the kept
    rewrite collapses the bucket (never persists superseded versions)."""
    t = _mk(LakeTable, spark, tmp_path / "t")
    apply_changes(
        t,
        _ch(spark, [("U", 1, _ts(1), "c1", 0, "user", "old", None)]),
        stream_id="s",
        epoch_id=0,
    )
    apply_changes(
        t,
        _ch(
            spark,
            [
                ("U", 2, _ts(2), "c1", 0, "user", "new", None),
                ("U", 3, _ts(3), "c2", 0, "user", "purge-me", None),
            ],
        ),
        stream_id="s",
        epoch_id=1,
    )
    t.refresh().delete_where(F.col("text") == "purge-me")
    assert _state(t) == {("c1", 0): ("new", 2)}
    # the rewritten bucket holds ONE version of c1/0 (folded), so even a
    # raw read shows no superseded duplicates in that bucket
    raw = t.refresh().read().where(F.col("conv_id") == "c1").collect()
    assert len(raw) == 1 and raw[0].text == "new"


# ----------------------------------------------------------------- relay


def test_relay_into_mor_replica_matches_source(spark, tmp_path, impl):
    """Replace-policy replica: every sync is one delta append folded by
    commit order. Must track the source through updates, deletes, AND a
    source-side delete_where that regresses a key to an older event —
    the case an event-time fold would get wrong."""
    src = _mk(LakeTable, spark, tmp_path / "src", policy="lww", n_buckets=8)
    dst = _mk(impl, spark, tmp_path / "dst", policy="replace", n_buckets=4)
    apply_changes(
        src,
        _ch(
            spark,
            [
                ("U", 1, _ts(1), "c1", 0, "user", "a", None),
                ("U", 2, _ts(2), "c2", 0, "user", "b", None),
            ],
        ),
        stream_id="s",
        epoch_id=0,
    )
    sync_once(src, dst)
    assert dst.refresh().file_stats()["delta_files"] > 0
    apply_changes(
        src,
        _ch(
            spark,
            [
                ("U", 5, _ts(5), "c1", 0, "user", "a2", None),
                ("D", 6, _ts(6), "c2", 0, None, None, None),
            ],
        ),
        stream_id="s",
        epoch_id=1,
    )
    sync_once(src, dst)
    assert _state(dst) == {("c1", 0): ("a2", 5)}
    # source-side predicate delete physically removes c1; a later OLDER
    # event re-inserts it at the source. The replica must follow BOTH.
    src.refresh().delete_where(F.col("conv_id") == "c1")
    sync_once(src, dst)
    assert _state(dst) == {}
    apply_changes(
        src,
        _ch(spark, [("U", 3, _ts(3), "c1", 0, "user", "older-rebirth", None)]),
        stream_id="s",
        epoch_id=2,
    )
    sync_table(src, dst)
    assert _state(dst) == {("c1", 0): ("older-rebirth", 3)}
    # replica compaction is state-preserving
    dst.refresh().compact(min_files=1)
    assert dst.refresh().file_stats()["delta_files"] == 0
    assert _state(dst) == {("c1", 0): ("older-rebirth", 3)}


def test_relay_into_lww_target_falls_back_to_cow(spark, tmp_path):
    """An event-time ("lww") fold cannot apply a state diff (NULL-order
    D rows, post-GC regressions) — the relay must route such targets
    through copy-on-write, never write mis-ordered deltas."""
    src = _mk(LakeTable, spark, tmp_path / "src", policy="lww")
    dst = _mk(LakeTable, spark, tmp_path / "dst", policy="lww", n_buckets=4)
    apply_changes(
        src,
        _ch(spark, [("U", 1, _ts(1), "c1", 0, "user", "a", None)]),
        stream_id="s",
        epoch_id=0,
    )
    sync_once(src, dst)
    assert dst.refresh().file_stats()["delta_files"] == 0, "must be CoW"
    src.refresh().delete_where(F.col("conv_id") == "c1")
    sync_once(src, dst)
    assert _state(dst) == {}


# -------------------------------------------------------------- rebucket


def test_rebucket_preserves_state_epochs_and_history(spark, tmp_path, impl):
    t = _mk(impl, spark, tmp_path / "t", n_buckets=4)
    full = gen_changes(spark, 2500, seed=21)
    mid = 1250
    apply_changes(t, full.where(F.col("lsn") <= mid), stream_id="s", epoch_id=0)
    pre_version = t.version
    pre_state = _state(t)
    t.refresh().rebucket(16)
    assert t.n_buckets == 16
    assert t.last_epoch("s") == 0, "epoch ledger must survive rebucket"
    assert _state(t) == pre_state
    # old versions stay readable under their own layout
    tt = {
        (r.conv_id, r.turn_idx): r._lsn
        for r in t.current(version=pre_version).collect()
    }
    assert tt == {k: v[1] for k, v in pre_state.items()}
    # applies against the NEW layout reach the right buckets
    apply_changes(t, full.where(F.col("lsn") > mid), stream_id="s", epoch_id=1)
    got = (
        t.refresh()
        .current()
        .select("conv_id", "turn_idx", "text", "_lsn")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = replay(full.toPandas())[["conv_id", "turn_idx", "text", "_lsn"]]
    pd.testing.assert_frame_equal(got, exp.reset_index(drop=True), check_dtype=False)
    # a reopened handle adopts the new width from table metadata alone
    t2 = type(t)(spark, t.path)
    assert t2.n_buckets == 16


def test_rebucket_conflicts_with_concurrent_commit(spark, tmp_path, impl):
    path = str(tmp_path / "t")
    t = _mk(impl, spark, path, n_buckets=4)
    apply_changes(t, gen_changes(spark, 800, seed=3), stream_id="s", epoch_id=0)
    t.refresh()
    pre = t.version
    data = t.read()
    ref, _ = t._ensure_schema(t.schema)
    new_buckets = t._write_data(data, ref, n_buckets=8)
    # a concurrent writer lands between the read and the commit
    other = type(t)(spark, path)
    apply_changes(
        other,
        _ch(spark, [("U", 50_000, _ts(50_000), "conv-r", 0, "u", "x", None)]),
        stream_id="s",
        epoch_id=1,
    )
    with pytest.raises(CommitConflict):
        t._commit(
            BucketDelta("overwrite", new_buckets),
            ref,
            {"operation": "rebucket"},
            expect_version=pre,
            n_buckets=8,
        )
    # the concurrent write survives; state is the full replay
    assert ("conv-r", 0) in _state(type(t)(spark, path))


def test_rebucket_survives_relay_watermark(spark, tmp_path, impl):
    """Relay watermarks live in the target's epoch ledger — a replica
    rebucket must not reset them (no spurious re-bootstrap)."""
    src = _mk(LakeTable, spark, tmp_path / "src", policy="lww")
    dst = _mk(impl, spark, tmp_path / "dst", policy="replace", n_buckets=4)
    apply_changes(
        src,
        _ch(spark, [("U", 1, _ts(1), "c1", 0, "user", "a", None)]),
        stream_id="s",
        epoch_id=0,
    )
    sync_once(src, dst)
    dst.refresh().rebucket(8)
    assert sync_once(src, dst) is None, "caught-up replica must no-op"
    apply_changes(
        src,
        _ch(spark, [("U", 2, _ts(2), "c1", 1, "user", "b", None)]),
        stream_id="s",
        epoch_id=1,
    )
    sync_once(src, dst)
    assert _state(dst) == {("c1", 0): ("a", 1), ("c1", 1): ("b", 2)}


# ------------------------------------------------------- file-stat skips


def test_manifest_entries_record_column_ranges(spark, tmp_path, impl):
    t = _mk(impl, spark, tmp_path / "t", policy=None, n_buckets=4)
    apply_changes(t, gen_changes(spark, 1000, seed=7), stream_id="s", epoch_id=0)
    t.refresh()
    entries = [e for fs in t._bucket_map().values() for e in fs]
    assert entries and all("stats" in e for e in entries)
    assert all(
        {"conv_id", "ts", "_lsn"} <= set(e["stats"]) for e in entries
    ), entries[0]


def test_range_bounded_read_skips_files(spark, tmp_path, impl):
    """The file-skipping gate: an lsn-bounded read must OPEN fewer
    files than the full scan and still return exactly the rows the
    row-filter would."""
    t = _mk(impl, spark, tmp_path / "t", policy=None, n_buckets=4)
    # broad first batch (every bucket), NARROW second batch (one conv ->
    # one bucket): copy-on-write rewrites only that bucket, so the other
    # buckets' files keep lsn <= 1000 ranges the bounded read can skip
    full = gen_changes(spark, 1000, seed=17)
    mx = full.agg(F.max("lsn")).head()[0]
    apply_changes(t, full, stream_id="s", epoch_id=0)
    apply_changes(
        t,
        _ch(
            spark,
            [
                ("U", 1001, _ts(1001), "conv-narrow", 0, "user", "n0", None),
                ("U", 1002, _ts(1002), "conv-narrow", 1, "user", "n1", None),
            ],
        ),
        stream_id="s",
        epoch_id=1,
    )
    mx = 1002
    t.refresh()
    all_files = t.read().inputFiles()
    bounded = t.read(ranges={"_lsn": (1001, None)})
    assert len(bounded.inputFiles()) < len(all_files)
    # pruning + row filter == full scan + row filter
    want = sorted(
        (r.conv_id, r.turn_idx, r._lsn)
        for r in t.read().where(F.col("_lsn") >= 1001).collect()
    )
    got = sorted(
        (r.conv_id, r.turn_idx, r._lsn)
        for r in bounded.where(F.col("_lsn") >= 1001).collect()
    )
    assert got == want and want
    # an impossible bound prunes everything
    assert t.read(ranges={"_lsn": (mx + 10, None)}).count() == 0


def test_range_pruning_disabled_over_unfolded_deltas(spark, tmp_path, impl):
    """With MoR deltas in the read set, file skipping could promote a
    superseded row version to fold winner — the read must ignore the
    bounds (correctness first) until compaction collapses the deltas."""
    t = _mk(impl, spark, tmp_path / "t", policy="lww", n_buckets=2)
    apply_changes(
        t,
        _ch(spark, [("U", 1, _ts(1), "c1", 0, "user", "old", None)]),
        stream_id="s",
        epoch_id=0,
    )
    apply_changes(
        t,
        _ch(spark, [("U", 100, _ts(100), "c1", 0, "user", "new", None)]),
        stream_id="s",
        epoch_id=1,
    )
    t.refresh()
    # a bound that would drop the winner's file: the fold must still win
    rows = t.read(ranges={"_lsn": (None, 50)}).collect()
    assert [(r.text, r._lsn) for r in rows] == [("new", 100)]
    # after compaction the same bound skips for real
    t.compact(min_files=1)
    t.refresh()
    assert t.read(ranges={"_lsn": (None, 50)}).count() == 0


def test_fold_scoped_to_delta_buckets(spark, tmp_path, impl):
    """A small delta in one bucket must not drag clean buckets through
    the fold (`split_fold_entries`): the full read still matches the
    replay oracle, and clean buckets KEEP range-based file skipping
    while deltas are unfolded elsewhere — only the delta-holding
    bucket's files are exempt from pruning."""
    t = _mk(impl, spark, tmp_path / "t", policy="lww", n_buckets=8)
    base = gen_changes(spark, 4000, seed=7)
    base_pdf = base.toPandas()
    apply_changes(t, base, stream_id="s", epoch_id=0)
    t.refresh()
    t.compact(min_files=1)
    t.refresh()
    assert t.file_stats()["delta_files"] == 0
    delta_rows = [("U", 10_000, _ts(10_000), "conv-x", 0, "user", "winner", None)]
    apply_changes(t, _ch(spark, delta_rows), stream_id="s", epoch_id=1)
    t.refresh()
    assert t.file_stats()["delta_files"] > 0

    # correctness through the split read: fold bucket + clean buckets
    # union to exactly the replay-oracle state
    full_pdf = pd.concat(
        [base_pdf, pd.DataFrame(delta_rows, columns=base_pdf.columns)],
        ignore_index=True,
    )
    got = (
        t.current()
        .select("conv_id", "turn_idx", "text", "_lsn")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = replay(full_pdf)[["conv_id", "turn_idx", "text", "_lsn"]]
    pd.testing.assert_frame_equal(got, exp.reset_index(drop=True), check_dtype=False)

    # pruning stays LIVE in clean buckets: a bound no base row can
    # satisfy skips every clean-bucket file, yet the delta bucket is
    # read un-pruned and its fold winner survives
    all_files = set(t.read().inputFiles())
    pruned_df = t.read(ranges={"_lsn": (None, 0)})
    pruned_files = set(pruned_df.inputFiles())
    assert pruned_files < all_files, "clean-bucket files must be skipped"
    rows = pruned_df.collect()
    assert ("winner", 10_000) in {(r.text, r._lsn) for r in rows}
    assert len(rows) < t.read().count()


def test_multi_seq_base_bucket_still_folds(spark, tmp_path, impl):
    """A blind append() of an existing key after a compact leaves a
    bucket with NO delta files but base entries from two commit
    sequences — that bucket must still fold to one winner per key
    (review finding on the fold-scoping change: a delta-presence-only
    scope rule served it base-only and returned BOTH versions). Covers
    both the no-deltas-anywhere case and the delta-in-another-bucket
    case, which the pre-scoping global fold ALSO got wrong in the
    former (zero deltas ⇒ no fold at all)."""
    t = _mk(impl, spark, tmp_path / "t", policy="replace", n_buckets=4)

    def row(conv, text):
        return spark.createDataFrame(
            [(conv, 0, "user", text, None, _ts(1))], TRANSCRIPT_SCHEMA
        )

    t.merge(row("c1", "old"), lambda tgt, src: src)
    t.refresh()
    t.compact(min_files=1)
    t.refresh()
    assert t.file_stats()["delta_files"] == 0
    # blind correction lands as a second base commit in c1's bucket
    t.append(row("c1", "corrected"))
    t.refresh()
    assert t.file_stats()["delta_files"] == 0
    rows = t.current().where(F.col("conv_id") == "c1").collect()
    assert len(rows) == 1 and rows[0].text == "corrected", rows
    # now park an unfolded delta in a DIFFERENT bucket: c1's bucket is
    # delta-free but multi-sequence and must still fold
    other = next(
        f"cx{i}" for i in range(100)
        if _bucket_of(spark, f"cx{i}", 4) != _bucket_of(spark, "c1", 4)
    )
    t.merge(row(other, "elsewhere"), lambda tgt, src: src)
    t.refresh()
    assert t.file_stats()["delta_files"] > 0
    got = {r.conv_id: r.text for r in t.current().collect()}
    assert got == {"c1": "corrected", other: "elsewhere"}, got
    # and compaction converges to the same state
    t.compact(min_files=1)
    t.refresh()
    got = {r.conv_id: r.text for r in t.current().collect()}
    assert got == {"c1": "corrected", other: "elsewhere"}, got


def test_lww_fold_on_schema_without_lsn(spark, tmp_path, impl):
    """An "lww" table created on the bare event schema (no ``_lsn`` —
    the default order includes it, expecting the CDC stored shape) must
    still fold: order columns missing from the current schema are
    skipped, not failed (pre-fix every MoR read on such a table raised
    UNRESOLVED_COLUMN). Later-ts events still win; once evolution adds
    ``_lsn`` it joins the order."""
    t = _mk(impl, spark, tmp_path / "t", policy="lww", n_buckets=4)

    def row(text, ts_s):
        return spark.createDataFrame(
            [("c1", 0, "user", text, None, _ts(ts_s))], TRANSCRIPT_SCHEMA
        )

    t.merge(row("first", 10), lambda tgt, src: src)
    t.refresh()
    t.merge(row("older-event", 5), lambda tgt, src: src)  # must LOSE (lww)
    t.refresh()
    assert t.file_stats()["delta_files"] > 0
    rows = t.current().collect()
    assert len(rows) == 1 and rows[0].text == "first", rows
    # evolution adds _lsn; it now participates as the ts tiebreak
    evolved = T.StructType(
        TRANSCRIPT_SCHEMA.fields + [T.StructField("_lsn", T.LongType(), True)]
    )
    late = spark.createDataFrame(
        [("c1", 0, "user", "tiebreak-winner", None, _ts(10), 99)], evolved
    )
    t.merge(late, lambda tgt, src: src)
    t.refresh()
    rows = t.current().collect()
    assert len(rows) == 1 and rows[0].text == "tiebreak-winner", rows


def _bucket_of(spark, conv_id: str, n_buckets: int) -> int:
    from etl_framework_spark.lakehouse.table import bucket_expr

    df = spark.createDataFrame(
        [(conv_id,)],
        T.StructType([T.StructField("conv_id", T.StringType())]),
    )
    return df.select(
        bucket_expr("conv_id", n_buckets).alias("b")
    ).collect()[0]["b"]


def test_delta_interval_suffix_detection():
    """Unit: the feed's delta-only-interval detector. Additive delta
    appends ⇒ the appended entries; ANY rewrite (changed prefix,
    shrunk list, non-delta suffix) ⇒ None (fall back to the full
    diff)."""
    from etl_framework_spark.lakehouse.feed import delta_interval_suffix

    b = lambda p, kind=None: (
        {"path": p, "kind": kind} if kind else {"path": p}
    )
    old = {"0": [b("a")], "1": [b("c")]}
    # pure delta appends
    new = {"0": [b("a"), b("d1", "delta")], "1": [b("c")]}
    assert delta_interval_suffix(old, new) == [b("d1", "delta")]
    # appended entry is a base rewrite product -> None
    assert delta_interval_suffix(old, {"0": [b("a"), b("x")], "1": [b("c")]}) is None
    # prefix changed (bucket rewritten) -> None
    assert delta_interval_suffix(old, {"0": [b("z"), b("d1", "delta")], "1": [b("c")]}) is None
    # list shrank (compact / delete_where) -> None
    assert delta_interval_suffix({"0": [b("a"), b("d1", "delta")]}, {"0": [b("a")]}) is None
    # no change at all -> None (nothing to scope; caller's changed set is empty anyway)
    assert delta_interval_suffix(old, old) is None
    # new bucket appearing with only deltas is additive
    assert delta_interval_suffix({}, {"2": [b("d2", "delta")]}) == [b("d2", "delta")]


def test_changes_between_delta_fast_path_matches_full_diff(
    spark, tmp_path, impl, monkeypatch
):
    """A delta-only interval takes the key-scoped fast path, and its
    feed equals the full-state diff exactly — including an I (new key),
    a U (newer event), a D (tombstone), and a late event that LOSES to
    the base (must emit nothing). A compact inside the interval
    disables the fast path."""
    import etl_framework_spark.lakehouse.feed as feed

    t = _mk(impl, spark, tmp_path / "t", policy="lww", n_buckets=4)
    apply_changes(t, gen_changes(spark, 2000, seed=11), stream_id="s", epoch_id=0)
    t.refresh()
    t.compact(min_files=1)
    t.refresh()
    v_base = t.version
    base_pdf = t.current().toPandas()
    exist = base_pdf.sort_values(["conv_id", "turn_idx"]).iloc[0]
    max_lsn = int(base_pdf["_lsn"].max())
    rows = [
        # I: brand-new key
        ("I", max_lsn + 1, _ts(10**6), "conv-new", 0, "user", "fresh", None),
        # U: newer event for an existing key
        ("U", max_lsn + 2, _ts(10**6 + 1), str(exist.conv_id), int(exist.turn_idx), "user", "updated", None),
        # D: delete another existing key
        ("D", max_lsn + 3, _ts(10**6 + 2), None, None, None, None, None),
        # late event for a third key that must LOSE to the base row
        ("U", -1, _ts(0), None, None, "user", "too-late", None),
    ]
    others = base_pdf[base_pdf["conv_id"] != exist.conv_id].drop_duplicates("conv_id")
    del_key, late_key = others.iloc[0], others.iloc[1]
    rows[2] = ("D", max_lsn + 3, _ts(10**6 + 2), str(del_key.conv_id), int(del_key.turn_idx), None, None, None)
    rows[3] = ("U", -1, _ts(0), str(late_key.conv_id), int(late_key.turn_idx), "user", "too-late", None)
    apply_changes(t, _ch(spark, rows), stream_id="s", epoch_id=1)
    t.refresh()
    assert t.file_stats()["delta_files"] > 0
    v_head = t.version

    taken = {}
    real_suffix = feed.delta_interval_suffix

    def spy(old_map, new_map):
        taken["added"] = real_suffix(old_map, new_map)
        return taken["added"]

    monkeypatch.setattr(feed, "delta_interval_suffix", spy)
    fast = t.changes_between(v_base, v_head)
    assert taken["added"], "delta-only interval must take the fast path"
    cols = sorted(fast.columns)
    full = lambda df: sorted(tuple(r[c] for c in cols) for r in df.collect())
    fast_full = full(fast)
    fast_rows = {
        (r["conv_id"], r["turn_idx"]): (r["_change_type"], r["text"])
        for r in fast.collect()
    }
    # force the full-state diff as the reference; EVERY column must
    # match (D rows: key only, NULL payload)
    monkeypatch.setattr(feed, "delta_interval_suffix", lambda o, n: None)
    slow = t.changes_between(v_base, v_head)
    assert sorted(slow.columns) == cols
    assert fast_full == full(slow)
    assert fast_rows[("conv-new", 0)] == ("I", "fresh")
    assert fast_rows[(str(exist.conv_id), int(exist.turn_idx))] == ("U", "updated")
    assert fast_rows[(str(del_key.conv_id), int(del_key.turn_idx))][0] == "D"
    assert (str(late_key.conv_id), int(late_key.turn_idx)) not in fast_rows

    # an interval containing a compact falls back to the full diff
    monkeypatch.setattr(feed, "delta_interval_suffix", spy)
    t.compact(min_files=1)
    t.refresh()
    t.changes_between(v_base, t.version).count()
    assert taken["added"] is None


def test_changes_between_classifies_null_lsn_bootstrap_rows(
    spark, tmp_path, impl, monkeypatch
):
    """Rows blind-appended at bootstrap violate the non-null-``_lsn``
    contract (their ``_lsn`` is NULL); a later delta update of such a
    row must surface as U and a delete as D — by EXISTENCE, not by
    ``_lsn`` nullness — on BOTH feed paths (pre-fix: the fast path
    dropped the update on a NULL comparison and the slow path reported
    "I"/a bogus payload-less "I")."""
    import etl_framework_spark.lakehouse.feed as feed

    t = _mk(impl, spark, tmp_path / "t", policy="lww", n_buckets=4)
    boot = spark.createDataFrame(
        [
            ("cA", 0, "user", "a0", None, _ts(10)),
            ("cB", 0, "user", "b0", None, _ts(10)),
            ("cC", 0, "user", "c0", None, _ts(10)),
        ],
        TRANSCRIPT_SCHEMA,
    )
    t.append(boot)
    t.refresh()
    v0 = t.version
    rows = [
        ("U", 100, _ts(50), "cA", 0, "user", "a1", None),
        ("D", 101, _ts(51), "cB", 0, None, None, None),
    ]
    apply_changes(t, _ch(spark, rows), stream_id="s", epoch_id=0)
    t.refresh()
    assert t.file_stats()["delta_files"] > 0

    def classify(df):
        return {
            (r["conv_id"], r["turn_idx"]): (r["_change_type"], r["text"])
            for r in df.collect()
        }

    fast = classify(t.changes_between(v0, t.version))
    monkeypatch.setattr(feed, "delta_interval_suffix", lambda o, n: None)
    slow = classify(t.changes_between(v0, t.version))
    expected = {("cA", 0): ("U", "a1"), ("cB", 0): ("D", None)}
    assert fast == expected, fast
    assert slow == expected, slow


def test_changes_between_spans_schema_evolution(spark, tmp_path, impl):
    """``changes_between(0, head)`` on a table created with the bare
    event schema (no ``_lsn``) whose interval contains the evolution:
    the old side's rows predate ``_lsn`` (DirTable serves each version
    under ITS schema), and the diff must align it to the newer shape
    instead of failing the ``_old_lsn`` projection (pre-fix: DirTable
    crashed with UNRESOLVED_COLUMN on any from-creation feed after a
    rewrite). Exercises the SLOW path (the compact makes the interval
    non-delta-only)."""
    t = _mk(impl, spark, tmp_path / "t", policy="lww", n_buckets=4)
    apply_changes(t, gen_changes(spark, 500, seed=3), stream_id="s", epoch_id=0)
    t.refresh()
    t.compact(min_files=1)
    t.refresh()
    feed_df = t.changes_between(0, t.version)
    live = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.current().collect()
    }
    got = {
        (r["conv_id"], r["turn_idx"]): (r["_change_type"], r["text"])
        for r in feed_df.collect()
    }
    assert got == {k: ("I", v) for k, v in live.items()}


def test_compact_tombstones_uses_ts_ranges(spark, tmp_path):
    t = _mk(LakeTable, spark, tmp_path / "t", policy=None, n_buckets=2)
    apply_changes(
        t,
        _ch(
            spark,
            [
                ("U", 1, _ts(1), "c1", 0, "user", "a", None),
                ("D", 2, _ts(2), "c2", 0, None, None, None),
                ("U", 3, _ts(1_000_000), "c3", 0, "user", "b", None),
            ],
        ),
        stream_id="s",
        epoch_id=0,
    )
    t.refresh()
    assert t.read().count() == 3  # incl. tombstone
    t.compact_tombstones(older_than=_ts(500))
    t.refresh()
    assert t.read().count() == 2
    assert _state(t) == {("c1", 0): ("a", 1), ("c3", 0): ("b", 3)}


def test_mor_on_sharded_manifest_table(spark, tmp_path):
    """Delta appends + fold + compact through the SHARDED manifest path
    (manifest shards rewrite only where touched; delta entries' kind/seq
    must survive the shard round-trip)."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        schema=TRANSCRIPT_SCHEMA,
        key_columns=KEY_COLUMNS,
        n_buckets=8,
        manifest_shard_size=2,  # 4 shards
        merge_policy="lww",
    )
    assert t.snapshot.sharded
    full = gen_changes(spark, 2000, seed=31)
    apply_changes(t, full.where(F.col("lsn") <= 1000), stream_id="s", epoch_id=0)
    apply_changes(t, full.where(F.col("lsn") > 1000), stream_id="s", epoch_id=1)
    assert t.file_stats()["delta_files"] > 0
    got = (
        t.refresh()
        .current()
        .select("conv_id", "turn_idx", "text", "_lsn")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = replay(full.toPandas())[["conv_id", "turn_idx", "text", "_lsn"]]
    pd.testing.assert_frame_equal(got, exp.reset_index(drop=True), check_dtype=False)
    t.compact(min_files=1)
    t.refresh()
    assert t.file_stats()["delta_files"] == 0
    got2 = (
        t.current()
        .select("conv_id", "turn_idx", "text", "_lsn")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got2, exp.reset_index(drop=True), check_dtype=False)


def test_append_after_delta_wins_replace_fold(spark, tmp_path, impl):
    """A blind append() landing AFTER a delta commit on a "replace"
    table must outrank that delta at read time (round-5 review): base
    entries carry their commit version as fold sequence. Pre-fix they
    folded at seq 0 and the older delta's row silently shadowed the
    newer appended row until a compact."""
    t = _mk(impl, spark, tmp_path / "t", policy="replace", n_buckets=4)

    def src_rows(text):
        return spark.createDataFrame(
            [("c1", 0, "user", text, None, _ts(1))], TRANSCRIPT_SCHEMA
        )

    # delta commit sets c1/0 = "old"
    t.merge(src_rows("old"), lambda tgt, src: src)
    t.refresh()
    assert t.file_stats()["delta_files"] > 0
    # later blind append corrects it
    t.append(src_rows("corrected"))
    t.refresh()
    rows = t.current().collect()
    assert len(rows) == 1 and rows[0].text == "corrected"
    # and the ordering survives compaction
    t.compact(min_files=1)
    t.refresh()
    rows = t.current().collect()
    assert len(rows) == 1 and rows[0].text == "corrected"
