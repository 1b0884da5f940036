"""KeyedTable conformance suite — the Iceberg-seam proof.

Every test here is parametrized over BOTH table formats (LakeTable's
snapshot manifests, DirTable's Delta-style commit log) and drives them
through the SAME engine components (``apply_changes``, ``start_ingest``,
``commit_with_retry``). Passing both means ``docs/ICEBERG_ADAPTER.md``'s
claim — "swapping formats is a constructor change, not an engine
change" — is executable, not aspirational.
"""

from __future__ import annotations

import glob
import os
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_framework_spark.cdc import apply_changes
from etl_framework_spark.datagen import gen_changes
from etl_framework_spark.lakehouse import (
    CommitConflict,
    DirTable,
    KeyedTable,
    LakeTable,
    commit_with_retry,
)
from etl_framework_spark.lakehouse.table import BucketedTable
from etl_framework_spark.schemas import (
    CHANGE_SCHEMA,
    KEY_COLUMNS,
    TRANSCRIPT_SCHEMA,
)

from tests.oracle import replay

IMPLS = {"lake": LakeTable, "dir": DirTable}


@pytest.fixture(params=sorted(IMPLS))
def impl(request):
    return IMPLS[request.param]


STORED = T.StructType(
    TRANSCRIPT_SCHEMA.fields
    + [
        T.StructField("_lsn", T.LongType(), True),
        T.StructField("_deleted", T.BooleanType(), True),
    ]
)

SIMPLE = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SIMPLE)


def test_satisfies_protocol(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=4)
    assert isinstance(t, KeyedTable)


def test_append_read_current_roundtrip(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=4)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    got = sorted((r["id"], r["v"]) for r in t.current().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # bucket pruning returns a subset that unions back to the whole
    per_bucket = []
    for b in range(4):
        per_bucket.extend(
            (r["id"], r["v"]) for r in t.read(buckets=[b]).collect()
        )
    assert sorted(per_bucket) == got


def test_overwrite_replaces_everything(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=4)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.overwrite(_df(spark, [(9, "z")]))
    assert [(r["id"], r["v"]) for r in t.current().collect()] == [(9, "z")]


def test_time_travel_and_history(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=2)
    v1 = t.append(_df(spark, [(1, "a")]))
    v2 = t.append(_df(spark, [(2, "b")]))
    assert t.version == v2 > v1
    assert t.read(version=v1).count() == 1
    assert t.read(version=v2).count() == 2
    ops = [h["summary"].get("operation") for h in t.history()]
    assert ops[-2:] == ["append", "append"]


def test_epoch_markers_are_exactly_once(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=2)
    assert t.last_epoch("s") == -1
    t.append(_df(spark, [(1, "a")]), epoch=("s", 0))
    assert t.last_epoch("s") == 0
    t.append(_df(spark, [(2, "b")]), epoch=("s", 1))
    assert t.last_epoch("s") == 1 and t.last_epoch("other") == -1


def test_apply_changes_matches_replay_oracle(spark, tmp_path, impl):
    """The engine's core operator against each format: final LWW state
    equals the sequential replay oracle, per-turn text equality."""
    t = impl.create(
        spark, str(tmp_path / "t"), STORED, KEY_COLUMNS, n_buckets=8
    )
    changes = gen_changes(spark, 4000, seed=7)
    pdf = changes.toPandas()
    apply_changes(t, changes, stream_id="s", epoch_id=0)
    got = (
        t.current()
        .select("conv_id", "turn_idx", "text", "_lsn")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = replay(pdf)[["conv_id", "turn_idx", "text", "_lsn"]]
    pd.testing.assert_frame_equal(
        got, exp.reset_index(drop=True), check_dtype=False
    )


def test_apply_changes_epoch_redelivery_is_noop(spark, tmp_path, impl):
    t = impl.create(
        spark, str(tmp_path / "t"), STORED, KEY_COLUMNS, n_buckets=8
    )
    changes = gen_changes(spark, 1500, seed=3)
    v = apply_changes(t, changes, stream_id="s", epoch_id=0)
    assert v is not None
    before = t.current().count()
    assert apply_changes(t, changes, stream_id="s", epoch_id=0) is None
    assert t.refresh().current().count() == before


def test_schema_evolution_mid_stream(spark, tmp_path, impl):
    """Evolved batch adds a column; a NARROW batch afterwards still
    reads back upcast to the evolved schema (per-schema-group reads)."""
    t = impl.create(
        spark, str(tmp_path / "t"), STORED, KEY_COLUMNS, n_buckets=8
    )
    apply_changes(t, gen_changes(spark, 1000, seed=1), stream_id="s", epoch_id=0)
    apply_changes(
        t,
        gen_changes(spark, 800, seed=2, evolved=True, lsn_start=10_000),
        stream_id="s",
        epoch_id=1,
    )
    assert "tool_meta" in t.schema.fieldNames()
    apply_changes(
        t,
        gen_changes(spark, 500, seed=3, lsn_start=20_000),
        stream_id="s",
        epoch_id=2,
    )
    cur = t.current()
    assert "tool_meta" in cur.columns
    assert cur.count() > 0
    # evolved rows kept their payload through the narrow batch
    assert cur.where(F.col("tool_meta").isNotNull()).count() > 0


def test_merge_conflicts_on_concurrent_same_bucket_write(spark, tmp_path, impl):
    """A second handle that rewrote the same bucket between read and
    commit must surface CommitConflict (no lost update)."""
    path = str(tmp_path / "t")
    impl.create(spark, path, STORED, KEY_COLUMNS, n_buckets=4)
    a, b = impl(spark, path), impl(spark, path)
    c1 = gen_changes(spark, 300, seed=5)
    c2 = gen_changes(spark, 300, seed=5, lsn_start=5000)  # same keys
    apply_changes(a, c1, stream_id="x", epoch_id=0)
    b.refresh()

    # stale handle a: write via merge against pre-b state
    apply_changes(b, c2, stream_id="y", epoch_id=0)
    # a's snapshot is now stale; a raw merge with its old expected view
    # must conflict. Reproduce by monkey-level: use the stale handle's
    # cached state through a no-refresh merge.
    from etl_framework_spark.cdc.apply import resolve_lww

    with pytest.raises(CommitConflict):
        a.merge(
            c2,
            resolve=lambda tgt, s: resolve_lww(tgt, s, keys=KEY_COLUMNS),
            evolve_schema=STORED,
        )


def test_concurrent_writers_converge_with_retry(spark, tmp_path, impl):
    """Two threads applying different streams to the SAME table both
    commit via the bounded optimistic loop (commit_with_retry is format-
    agnostic)."""
    path = str(tmp_path / "t")
    impl.create(spark, path, STORED, KEY_COLUMNS, n_buckets=4)
    errs: list[Exception] = []

    def work(stream, seed, lsn0):
        try:
            t = impl(spark, path)
            apply_changes(
                t,
                gen_changes(spark, 400, seed=seed, lsn_start=lsn0),
                stream_id=stream,
                epoch_id=0,
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    th = [
        threading.Thread(target=work, args=("sA", 11, 1)),
        threading.Thread(target=work, args=("sB", 12, 100_000)),
    ]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert errs == []
    t = impl(spark, path)
    assert t.last_epoch("sA") == 0 and t.last_epoch("sB") == 0
    assert t.current().count() > 0


def test_compact_preserves_rows_and_reduces_files(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=2)
    for i in range(4):
        t.append(_df(spark, [(i, f"v{i}"), (i + 100, f"w{i}")]))
    before = sorted((r["id"], r["v"]) for r in t.current().collect())
    t.compact(min_files=2)
    after = sorted((r["id"], r["v"]) for r in t.refresh().current().collect())
    assert after == before


def test_delete_where_and_tombstone_gc(spark, tmp_path, impl):
    """Row deletes and tombstone GC run on every format through the
    shared plane: the deleted key is gone, tombstones are dropped, and
    every other live row stays."""
    import datetime

    t = impl.create(
        spark, str(tmp_path / "t"), STORED, KEY_COLUMNS, n_buckets=4
    )
    apply_changes(t, gen_changes(spark, 1500, seed=21), stream_id="s", epoch_id=0)
    t.refresh()
    live = {(r["conv_id"], r["turn_idx"]) for r in t.current().collect()}
    victim = sorted(live)[0][0]
    t.delete_where(F.col("conv_id") == victim)
    kept = {k for k in live if k[0] != victim}
    assert {(r["conv_id"], r["turn_idx"]) for r in t.refresh().current().collect()} == kept
    assert t.read().where(F.col("_deleted")).count() > 0
    t.compact_tombstones(older_than=datetime.datetime(2100, 1, 1))
    assert t.refresh().read().where(F.col("_deleted")).count() == 0
    assert {(r["conv_id"], r["turn_idx"]) for r in t.current().collect()} == kept


def test_expire_snapshots_bounds_history_keeps_data(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=2)
    for i in range(12):
        t.append(_df(spark, [(i, f"v{i}")]))
    live = t.current().count()
    out = t.expire_snapshots(keep_last=3, grace_seconds=0)
    assert out["expired_snapshots"] > 0
    t2 = impl(spark, t.path)
    assert t2.current().count() == live
    # newest version still time-travels; far past does not
    assert t2.read(version=t2.version).count() == live
    with pytest.raises((ValueError, FileNotFoundError)):
        t2.read(version=1)
    # a compaction dereferences the appended files: expiring down to the
    # head GCs them and prunes their emptied commit directories
    t2.compact(min_files=2)
    out2 = t2.expire_snapshots(keep_last=1, grace_seconds=0)
    assert set(out) == set(out2) == {
        "expired_snapshots",
        "deleted_data_files",
        "deleted_shard_files",
        "kept_from_version",
    }
    assert out2["deleted_data_files"] > 0
    assert out2["kept_from_version"] == t2.version
    assert t2.current().count() == live
    commit_dirs = glob.glob(os.path.join(t.path, "data", "*"))
    assert commit_dirs
    for d in commit_dirs:
        assert glob.glob(os.path.join(d, "*", "*.parquet")), f"empty {d}"


def test_stale_compact_after_every_bucket_was_rewritten_is_a_noop(
    spark, tmp_path, impl
):
    """A stale handle's compaction whose every fragmented bucket was
    rewritten by another writer conflicts everywhere: nothing is
    committed and the other writer's rows stay."""
    path = str(tmp_path / "t")
    t = impl.create(spark, path, SIMPLE, ["id"], n_buckets=2)
    for i in range(4):
        t.append(_df(spark, [(i, f"v{i}"), (i + 100, f"w{i}")]))
    stale = impl(spark, path)
    assert stale.file_stats()["max_files_per_bucket"] >= 2
    fresh = [(i, f"new{i}") for i in (0, 1, 2, 3, 100, 101, 102, 103)]
    impl(spark, path).overwrite(_df(spark, fresh))
    head = impl(spark, path).version

    assert stale.compact(min_files=2) == head
    t = impl(spark, path)
    assert t.version == head
    assert sorted((r["id"], r["v"]) for r in t.current().collect()) == fresh


def test_time_travel_reads_under_the_head_schema(spark, tmp_path, impl):
    """Every version reads with the CURRENT column set: files from before
    a schema evolution upcast (new columns NULL) on both formats."""
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=2)
    v_pre = t.append(_df(spark, [(1, "a")]))
    t.append(
        spark.createDataFrame([(2, "b", "x")], "id long, v string, extra string")
    )
    old = t.read(version=v_pre)
    assert old.columns == t.schema.fieldNames() == ["id", "v", "extra"]
    assert [tuple(r) for r in old.collect()] == [(1, "a", None)]


#: the data plane both formats inherit from ``BucketedTable``
SHARED_DATA_PLANE = (
    "read",
    "current",
    "touched_buckets",
    "_read_files",
    "_write_data",
    "_ensure_schema",
    "_commit",
    "append",
    "overwrite",
    "merge",
    "compact",
    "rebucket",
    "delete_where",
    "compact_tombstones",
    "file_stats",
    "changes_between",
    "expire_snapshots",
)


def test_data_plane_is_defined_once():
    """Structural guard against a second copy of any data-plane method:
    the formats are metadata stores over one shared plane, and neither
    subclasses the other."""
    for name in SHARED_DATA_PLANE:
        assert name in vars(BucketedTable), name
        for cls in IMPLS.values():
            assert name not in vars(cls), f"{cls.__name__}.{name}"
    assert not issubclass(LakeTable, DirTable)
    assert not issubclass(DirTable, LakeTable)


def test_streaming_ingest_through_factory(spark, tmp_path, impl):
    """start_ingest(table_factory=impl): the full Structured Streaming
    path (checkpointed micro-batches -> apply_changes) is format-
    agnostic end-to-end."""
    from etl_framework_spark.streaming import run_to_completion

    changes = gen_changes(spark, 2000, seed=9)
    pdf = changes.toPandas()
    log_dir = str(tmp_path / "log")
    n = len(pdf)
    half = pdf.sort_values("lsn").iloc[: n // 2]
    rest = pdf.sort_values("lsn").iloc[n // 2:]
    spark.createDataFrame(half, CHANGE_SCHEMA).coalesce(1).write.parquet(
        f"{log_dir}/b0"
    )
    spark.createDataFrame(rest, CHANGE_SCHEMA).coalesce(1).write.parquet(
        f"{log_dir}/b1"
    )
    path = str(tmp_path / "t")
    impl.create(spark, path, STORED, KEY_COLUMNS, n_buckets=8)
    run_to_completion(
        spark,
        path,
        log_dir,
        str(tmp_path / "ckpt"),
        CHANGE_SCHEMA,
        stream_id="stream",
        table_factory=impl,
    )
    t = impl(spark, path)
    got = (
        t.current()
        .select("conv_id", "turn_idx", "text", "_lsn")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = replay(pdf)[["conv_id", "turn_idx", "text", "_lsn"]]
    pd.testing.assert_frame_equal(
        got, exp.reset_index(drop=True), check_dtype=False
    )
    assert t.last_epoch("stream") >= 0


def test_changes_between_matches_state_diff(spark, tmp_path, impl):
    """CDC-out on BOTH formats: apply the log in two lsn-halves, then
    changes_between(v1, v2) must equal the key-level diff of the two
    replay-oracle states (I = appeared, D = disappeared, U = lsn moved)."""
    t = impl.create(
        spark, str(tmp_path / "t"), STORED, KEY_COLUMNS, n_buckets=8
    )
    changes = gen_changes(spark, 3000, seed=17)
    pdf = changes.toPandas().sort_values(["ts", "lsn"], kind="mergesort")
    half = len(pdf) // 2
    for ep, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        batch = spark.createDataFrame(part, schema=CHANGE_SCHEMA)
        apply_changes(t, batch, stream_id="s", epoch_id=ep)
    v1, v2 = t.version - 1, t.version

    s1 = replay(pdf.iloc[:half]).set_index(["conv_id", "turn_idx"])
    s2 = replay(pdf).set_index(["conv_id", "turn_idx"])
    expected = {}
    for k in s2.index.difference(s1.index):
        expected[k] = "I"
    for k in s1.index.difference(s2.index):
        expected[k] = "D"
    both = s1.index.intersection(s2.index)
    moved = both[s1.loc[both, "_lsn"].to_numpy() != s2.loc[both, "_lsn"].to_numpy()]
    for k in moved:
        expected[k] = "U"

    got = {
        (r["conv_id"], r["turn_idx"]): r["_change_type"]
        for r in t.changes_between(v1, v2).collect()
    }
    assert got == expected
    # and U/I rows carry the NEW payload
    feed = t.changes_between(v1, v2).where("_change_type != 'D'").collect()
    for r in feed:
        assert r["text"] == s2.loc[(r["conv_id"], r["turn_idx"]), "text"]
