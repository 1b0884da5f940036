"""The benchmark workloads.

- ``cow_ingest``: copy-on-write ``LakeTable``; a first-load epoch, then
  update epochs over the same conversations until the run's seconds are
  spent, each followed by a full read-after-write scan.
- ``relay_freshness``: an open loop lands small change-log batches on a
  fixed schedule; ``start_ingest`` tails them into a merge-on-read
  (``"lww"``) source with stats-driven compaction, and ``start_relay``
  replicates it into a ``"replace"`` ``DirTable``.

A workload generates its change log (DuckDB, no Spark), warms the
engine up, then runs. ``run`` returns the end-to-end metrics, the
per-layer metrics when traced, and the operations attempted; ``checks``
returns the digest pairs the correctness gate compares.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_framework_spark.cdc import apply as cdc_apply
from etl_framework_spark.cdc import relay
from etl_framework_spark.lakehouse import DirTable, LakeTable
from etl_framework_spark.schemas import CHANGE_SCHEMA, KEY_COLUMNS
from etl_framework_spark.streaming import ingest

from perfbench import changelog, oracle
from perfbench.trace import SpanRecorder, duration, median_or_zero, overlap

STORED_SCHEMA = T.StructType([f for f in CHANGE_SCHEMA.fields if f.name not in ("op", "lsn")])

#: Sizes per scale. ``tiny`` exists for the self-test only.
SIZES = {
    "full": {
        "n_convs": 2000, "first_events": 200_000, "update_events": 40_000,
        "max_epochs": 12, "buckets": 16,
        "relay_convs": 400, "relay_base": 20_000, "batch_events": 500,
        "relay_buckets": 8, "batches_per_s": 4.0,
    },
    "tiny": {
        "n_convs": 200, "first_events": 20_000, "update_events": 4_000,
        "max_epochs": 6, "buckets": 8,
        "relay_convs": 100, "relay_base": 4_000, "batch_events": 200,
        "relay_buckets": 4, "batches_per_s": 4.0,
    },
}

#: Untimed warm-up: epochs of this many events, so the JIT has compiled
#: the apply, scan and compaction paths before anything is timed.
WARM_UP_EPOCHS, WARM_UP_EVENTS = 2, 5_000

#: Read-after-relay scans of the replica per run (median reported).
REPLICA_SCANS = 5

#: ``file_stats()["max_files_per_bucket"]`` at which the ingest daemon's
#: stats rule compacts the relay source (``compact(min_files=COMPACT_AT)``).
COMPACT_AT = 3


@dataclass
class Result:
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    notes: dict = field(default_factory=dict)


def peak_rss_mb() -> float:
    """VmHWM of this process plus its child JVM, in MB."""
    total_kb = 0
    me = os.getpid()
    for status in glob.glob("/proc/[0-9]*/status"):
        try:
            with open(status) as f:
                text = f.read()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in text.splitlines() if ":" in line)
        pid = int(fields.get("Pid", "0").strip() or 0)
        ppid = int(fields.get("PPid", "0").strip() or 0)
        if (pid == me or ppid == me) and "VmHWM" in fields:
            total_kb += int(fields["VmHWM"].split()[0])
    return total_kb / 1024.0


def data_files(table_path: str) -> list[str]:
    return glob.glob(os.path.join(table_path, "data", "**", "*.parquet"), recursive=True)


def data_bytes(table_path: str) -> int:
    return sum(os.path.getsize(p) for p in data_files(table_path))


def referenced_bytes(table, version: int) -> dict[str, int]:
    """Data file -> size, for the files a LakeTable snapshot references."""
    snap = table.snapshot_at(version)
    return {
        e["path"]: os.path.getsize(os.path.join(table.path, e["path"]))
        for entries in snap.buckets.values()
        for e in entries
    }


def mean_live_bytes(table, versions: list[int]) -> float:
    """Mean over ``versions`` of the data bytes each snapshot references.
    Averaging over the window keeps the figure from hinging on whether
    the last snapshot came just before or just after a compaction."""
    return statistics.mean(sum(referenced_bytes(table, v).values()) for v in versions)


def apply_bytes(table, versions: list[int]) -> int:
    """Bytes of the data files the given commits added to the table."""
    total = 0
    for v in versions:
        before = referenced_bytes(table, v - 1)
        total += sum(n for p, n in referenced_bytes(table, v).items() if p not in before)
    return total


def scan(table) -> tuple[int, float]:
    """Full read of ``current()``: every column is hashed, so every
    column is read and decoded; returns (rows, seconds)."""
    t0 = time.perf_counter()
    df = table.current()
    row = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.count("*").alias("n"), F.bit_xor("h")
    ).collect()[0]
    return int(row["n"]), time.perf_counter() - t0


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and
    its value. With 10 samples or fewer no percentile qualifies; the
    maximum (percentile 100) is reported instead."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    k = n - 11  # index with exactly 10 samples above it
    return 100.0 * (k + 1) / n, xs[k]


def new_table(spark, path: str, n_buckets: int, policy):
    shutil.rmtree(path, ignore_errors=True)
    return LakeTable.create(
        spark, path, STORED_SCHEMA, KEY_COLUMNS, n_buckets=n_buckets, merge_policy=policy
    )


# --------------------------------------------------------------- ingest
class CowWorkload:
    """``cow_ingest``: first load, then closed-loop update epochs."""

    def __init__(self, work: str, seed: int, scale: str):
        self.work, self.seed, self.sz = work, seed, SIZES[scale]

    def generate(self) -> None:
        sz = self.sz
        self.log_dirs = changelog.write_log(
            os.path.join(self.work, "log"), self.seed, sz["first_events"],
            sz["update_events"], sz["max_epochs"], sz["n_convs"],
        )
        self.n_events = changelog.epoch_counts(self.log_dirs)
        changelog.check_winning_shares(self.log_dirs)

    def warm_up(self, spark) -> None:
        """Untimed: JIT and codegen for apply, scan and compaction. Two
        epochs, so the update path (a populated bucket) is compiled too."""
        t = new_table(spark, os.path.join(self.work, "warm"), self.sz["buckets"], None)
        for e in range(WARM_UP_EPOCHS):
            epoch = changelog.read_epoch(spark, self.log_dirs[1 + e]).limit(WARM_UP_EVENTS)
            cdc_apply.apply_changes(t, epoch, stream_id="warm", epoch_id=e)
            scan(t)
        t.compact(min_files=2)
        shutil.rmtree(t.path, ignore_errors=True)

    def run(self, spark, seconds: float, rec: SpanRecorder | None, stages_api) -> Result:
        res = Result()
        sz = self.sz
        table = new_table(spark, os.path.join(self.work, "table"), sz["buckets"], None)
        changes = [changelog.read_epoch(spark, d) for d in self.log_dirs]

        t0 = time.perf_counter()
        cdc_apply.apply_changes(table, changes[0], stream_id="bench", epoch_id=0)
        first_s = time.perf_counter() - t0
        scan(table)
        res.attempted += 2
        v0 = table.refresh().version

        apply_s, scan_s, scan_rows, fresh, compact_s = [], [], [], [], []
        traced_walls, untraced_walls = [], []
        stage_rows: list[dict] = []
        layout: list[dict] = []
        start = time.perf_counter()
        epoch = 1
        while epoch < len(changes) and (time.perf_counter() - start < seconds or epoch <= 2):
            # traced runs trace every other epoch; the rest measure the
            # tracing overhead
            traced = rec is not None and epoch % 2 == 1
            files_before = len(data_files(table.path))
            bytes_before = data_bytes(table.path)
            if rec is not None:
                rec.enabled, rec.epoch = traced, epoch
            mark = stages_api.mark() if traced else None
            t = time.perf_counter()
            cdc_apply.apply_changes(table, changes[epoch], stream_id="bench", epoch_id=epoch)
            dt = time.perf_counter() - t
            if mark is not None:
                stage_rows.append(stages_api.since(mark))
            with rec.span("scan") if traced else contextlib.nullcontext():
                rows, ds = scan(table)
            apply_s.append(dt)
            scan_s.append(ds)
            scan_rows.append(rows)
            fresh.append(dt + ds)
            (traced_walls if traced else untraced_walls).append(dt)
            res.attempted += 2
            if traced:
                st = table.refresh().file_stats()
                layout.append({
                    "files_written": len(data_files(table.path)) - files_before,
                    "bytes_written": data_bytes(table.path) - bytes_before,
                    "max_files_per_bucket": st["max_files_per_bucket"],
                    "delta_files": st["delta_files"],
                })
            epoch += 1
        window_versions = list(range(v0 + 1, table.refresh().version + 1))
        written = apply_bytes(table, window_versions)
        live = mean_live_bytes(table, window_versions)
        applied_events = sum(self.n_events[1:epoch])

        # copy-on-write triggers no stats-driven compaction; compact the
        # salt-fragmented layout once, in four bucket groups
        if rec is not None:
            rec.enabled, rec.epoch = True, "compact"
        n = sz["buckets"]
        for q in range(4):
            t = time.perf_counter()
            table.refresh().compact(buckets=list(range(q, n, 4)), min_files=2)
            compact_s.append(time.perf_counter() - t)
            res.attempted += 1
        if rec is not None:
            rec.enabled = False

        self.table, self.applied_epochs = table, epoch
        p_tail, tail = tail_percentile(fresh)
        res.notes.update(epochs=epoch - 1, tail_percentile=p_tail, freshness_samples=len(fresh))
        m = res.metrics
        m["first_load_events_per_s"] = (self.n_events[0] / first_s, "events/s")
        # medians over epochs: one stalled epoch (a GC pause, a noisy
        # neighbour) must not move the run's figure
        m["apply_events_per_s"] = (
            statistics.median(n / s for n, s in zip(self.n_events[1:epoch], apply_s)),
            "events/s",
        )
        m["scan_rows_per_s"] = (
            statistics.median(r / s for r, s in zip(scan_rows, scan_s)), "rows/s"
        )
        m["compact_s"] = (statistics.median(compact_s), "s")
        m["freshness_p50_s"] = (statistics.median(fresh), "s")
        m["freshness_tail_s"] = (tail, "s")
        m["write_bytes_per_event"] = (written / applied_events, "B/event")
        m["live_bytes_per_row"] = (live / scan_rows[-1], "B/row")
        if rec is not None:
            res.layers = cow_layers(rec, stage_rows, layout, traced_walls, untraced_walls)
        return res

    def checks(self, inject_mismatch: bool) -> list[tuple[str, tuple, tuple]]:
        if inject_mismatch:
            delete_one_row(self.table)
        files = changelog.epoch_files(self.log_dirs[: self.applied_epochs])
        expected = oracle.oracle_digest(files)
        actual = oracle.table_digest(self.table, os.path.join(self.work, "check"))
        return [("table_vs_oracle", expected, actual)]


def delete_one_row(table) -> None:
    """Self-test hook: physically drop one live row from the table."""
    row = table.refresh().current().select("conv_id", "turn_idx").limit(1).collect()[0]
    table.delete_where((F.col("conv_id") == row["conv_id"]) & (F.col("turn_idx") == row["turn_idx"]))


# ---------------------------------------------------------------- relay
class RelayWorkload:
    """``relay_freshness``: open-loop landing, ingest daemon, relay daemon."""

    def __init__(self, work: str, seed: int, scale: str, seconds: float):
        self.work, self.seed, self.sz = work, seed, SIZES[scale]
        self.n_batches = int(math.ceil(seconds * self.sz["batches_per_s"])) + 1

    def generate(self) -> None:
        sz = self.sz
        self.log_dirs = changelog.write_log(
            os.path.join(self.work, "log"), self.seed, sz["relay_base"],
            sz["batch_events"], self.n_batches, sz["relay_convs"],
        )
        self.n_events = changelog.epoch_counts(self.log_dirs)
        changelog.check_winning_shares(self.log_dirs)

    def warm_up(self, spark) -> None:
        """Untimed: JIT and codegen for apply, the key-scoped feed, the
        replica merge, compaction, the replica scan and a streaming
        micro-batch (which applies a second epoch)."""
        sz, work = self.sz, self.work
        src = new_table(spark, os.path.join(work, "wsrc"), sz["relay_buckets"], "lww")
        dst = DirTable.create(
            spark, os.path.join(work, "wdst"), STORED_SCHEMA, KEY_COLUMNS,
            n_buckets=sz["relay_buckets"], merge_policy="replace",
        )
        epoch = changelog.read_epoch(spark, self.log_dirs[0]).limit(WARM_UP_EVENTS)
        cdc_apply.apply_changes(src, epoch, stream_id="warm", epoch_id=0)
        relay.sync_once(src, dst)
        src.compact(min_files=1)
        scan(dst)
        incoming = os.path.join(work, "warm_in")
        shutil.copytree(self.log_dirs[1], os.path.join(incoming, "b0"))
        ingest.run_to_completion(
            spark, src.path, incoming, os.path.join(work, "warm_ckpt"), CHANGE_SCHEMA,
            stream_id="warm_stream",
        )
        for d in (src.path, dst.path, incoming, os.path.join(work, "warm_ckpt")):
            shutil.rmtree(d, ignore_errors=True)

    def run(self, spark, seconds: float, rec: SpanRecorder | None, stages_api) -> Result:
        res = Result()
        sz = self.sz
        src = new_table(spark, os.path.join(self.work, "src"), sz["relay_buckets"], "lww")
        dst_path = os.path.join(self.work, "dst")
        dst = DirTable.create(
            spark, dst_path, STORED_SCHEMA, KEY_COLUMNS,
            n_buckets=sz["relay_buckets"], merge_policy="replace",
        )
        # the base is small, so its first load is timed three times (two
        # into throwaway tables) and the median reported
        base = changelog.read_epoch(spark, self.log_dirs[0])
        n_base = self.n_events[0]
        first_s = []
        for target in ("first1", "first2", None):
            t = src if target is None else new_table(
                spark, os.path.join(self.work, target), sz["relay_buckets"], "lww"
            )
            t0 = time.perf_counter()
            cdc_apply.apply_changes(t, base, stream_id="base", epoch_id=0)
            first_s.append(time.perf_counter() - t0)
            res.attempted += 1
        relay.sync_once(src, dst)
        res.attempted += 1
        src_v0 = src.refresh().version

        incoming = os.path.join(self.work, "incoming")
        ckpt = os.path.join(self.work, "ckpt")
        os.makedirs(incoming)
        staged = self.log_dirs[1:]
        batch_events = self.n_events[1:]
        query = ingest.start_ingest(
            spark, src.path, incoming, ckpt, CHANGE_SCHEMA, stream_id="cdc",
            max_files_per_trigger=1000, available_now=False, processing_time="1 second",
            maintenance_max_files=COMPACT_AT,
        )
        daemon = relay.start_relay(src, dst, poll_interval_s=0.2)
        rate = sz["batches_per_s"]
        landed: list[dict] = []
        # traced runs trace the last two thirds of the window; the first
        # third measures the tracing overhead
        traced_from = seconds / 3.0
        stage_mark = stages_api.mark() if rec is not None else None
        start = time.time()
        try:
            for b, path in enumerate(staged):
                due = start + b / rate
                if due - start >= seconds:
                    break
                if rec is not None and due - start >= traced_from:
                    rec.enabled = True
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                # a batch lands as one directory rename: all its files
                # appear to the file source at once
                dest = os.path.join(incoming, f"b{b:05d}")
                os.rename(path, dest)
                landed.append({"dir": dest, "due": due, "landed": time.time(),
                               "events": batch_events[b], "traced": rec is not None and rec.enabled})
            self._drain(spark, query, daemon, src, dst, landed, timeout_s=90.0)
        finally:
            query.stop()
            daemon.stop()
        stage_row = stages_api.since(stage_mark) if stage_mark is not None else None
        res.attempted += len(landed)
        if daemon.error is not None:
            raise daemon.error

        # timeline from commit files: source versions and replica syncs
        dir_epoch = checkpoint_dir_batches(ckpt)
        src_commits = lake_commits(src)
        epoch_version = {
            c["summary"].get("source_offsets", {}).get("epoch"): c["version"]
            for c in src_commits
            if c["summary"].get("stream_id") == "cdc"
        }
        syncs = dir_commits(dst)
        fresh, fresh_traced, fresh_untraced = [], [], []
        for lb in landed:
            v = max(epoch_version[e] for e in dir_epoch[os.path.basename(lb["dir"])])
            visible = min(s["mtime"] for s in syncs if s["src_v_to"] >= v)
            lb["version"], lb["visible"] = v, visible
            f = visible - lb["due"]
            fresh.append(f)
            (fresh_traced if lb["traced"] else fresh_untraced).append(f)
        by_version = {c["version"]: c for c in src_commits}
        compact_s = [
            c["mtime"] - by_version[c["version"] - 1]["mtime"]
            for c in src_commits
            if c["summary"].get("operation") == "compact" and c["version"] > src_v0
        ]
        ingest_commits = [c for c in src_commits if c["summary"].get("stream_id") == "cdc"]
        ingest_events = sum(
            sum(r["rows"] for r in c["summary"]["lineage"]) for c in ingest_commits
        )
        ingest_apply_s = sum(c["summary"]["metrics"]["apply_seconds"] for c in ingest_commits)
        res.attempted += len(ingest_commits) + len(compact_s) + len(syncs)
        if not compact_s:
            # a run too slow for the stats rule to fire still reports what
            # one compaction of the source costs
            t = time.perf_counter()
            src.refresh().compact(min_files=2)
            compact_s.append(time.perf_counter() - t)
            res.attempted += 1

        if rec is not None:
            rec.epoch = "replica_scan"
        # each replica scan is well under a second, so five of them
        scans = []
        for _ in range(REPLICA_SCANS):
            with rec.span("scan") if rec is not None else contextlib.nullcontext():
                scans.append(scan(dst))
        res.attempted += REPLICA_SCANS
        if rec is not None:
            rec.enabled = False

        self.src, self.dst, self.landed = src, dst, landed
        p_tail, tail = tail_percentile(fresh)
        res.notes.update(
            batches=len(landed), tail_percentile=p_tail, freshness_samples=len(fresh),
            source_epochs=len(ingest_commits), syncs=len(syncs),
            # a growing backlog shows as a slower second half
            freshness_p50_halves=[
                statistics.median(fresh[: len(fresh) // 2]),
                statistics.median(fresh[len(fresh) // 2 :]),
            ],
            compactions=len(compact_s), rate_batches_per_s=rate,
        )
        live_rows = scans[-1][0]
        m = res.metrics
        m["first_load_events_per_s"] = (n_base / statistics.median(first_s), "events/s")
        m["apply_events_per_s"] = (ingest_events / ingest_apply_s, "events/s")
        m["scan_rows_per_s"] = (statistics.median(r / s for r, s in scans), "rows/s")
        m["compact_s"] = (statistics.median(compact_s), "s")
        m["freshness_p50_s"] = (statistics.median(fresh), "s")
        m["freshness_tail_s"] = (tail, "s")
        # the apply path's bytes; compaction cost shows in compact_s
        applied = [c["version"] for c in ingest_commits]
        written = apply_bytes(src, applied)
        window = [c["version"] for c in src_commits if c["version"] > src_v0]
        m["write_bytes_per_event"] = (written / ingest_events, "B/event")
        m["live_bytes_per_row"] = (mean_live_bytes(src, window) / live_rows, "B/row")
        if rec is not None:
            res.layers = relay_layers(
                rec, stage_row, len(ingest_commits), landed, src_commits, src, dst,
                fresh_traced, fresh_untraced,
            )
        return res

    def _drain(self, spark, query, daemon, src, dst, landed, timeout_s: float) -> None:
        """Wait until every landed batch is applied to the source and the
        replica watermark covers the source's head."""
        src_h = LakeTable(spark, src.path)
        dst_h = DirTable(spark, dst.path)
        n_events = sum(lb["events"] for lb in landed)
        stream = daemon._state["stream_id"]
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if query.exception() is not None:
                raise RuntimeError(f"ingest failed: {query.exception()}")
            if daemon.error is not None:
                raise daemon.error
            commits = [c for c in lake_commits(src_h) if c["summary"].get("stream_id") == "cdc"]
            done = sum(sum(r["rows"] for r in c["summary"]["lineage"]) for c in commits)
            if done >= n_events:
                head = src_h.refresh().version
                if dst_h.refresh().last_epoch(stream) >= head:
                    return
            time.sleep(0.2)
        raise TimeoutError("relay_freshness did not drain in time")

    def checks(self, inject_mismatch: bool) -> list[tuple[str, tuple, tuple]]:
        if inject_mismatch:
            delete_one_row(self.src)
        files = changelog.epoch_files(self.log_dirs[:1] + [lb["dir"] for lb in self.landed])
        expected = oracle.oracle_digest(files)
        src_d = oracle.table_digest(self.src, os.path.join(self.work, "check_src"))
        dst_d = oracle.table_digest(self.dst, os.path.join(self.work, "check_dst"))
        return [("source_vs_oracle", expected, src_d), ("replica_vs_source", src_d, dst_d)]


# ------------------------------------------------------ commit timelines
def lake_commits(table) -> list[dict]:
    """Every snapshot of a LakeTable with its summary and commit time."""
    out = []
    for p in sorted(glob.glob(os.path.join(table.path, "_meta", "v*.json"))):
        with open(p) as f:
            s = json.load(f)
        out.append({"version": s["version"], "summary": s.get("summary", {}),
                    "mtime": os.path.getmtime(p)})
    return out


def dir_commits(table) -> list[dict]:
    """Relay commits of a DirTable replica: source version covered and
    commit time."""
    out = []
    for p in sorted(glob.glob(os.path.join(table.path, "_log", "v*.json"))):
        with open(p) as f:
            c = json.load(f)
        v_to = c.get("summary", {}).get("src_v_to")
        if v_to is not None:
            out.append({"version": c["version"], "src_v_to": v_to, "mtime": os.path.getmtime(p)})
    return out


def checkpoint_dir_batches(ckpt: str) -> dict[str, set[int]]:
    """Landed batch directory -> streaming batch ids that read its files,
    from the file source's metadata log in the query checkpoint (one
    JSON entry per file)."""
    out: dict[str, set[int]] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    d = os.path.basename(os.path.dirname(e["path"]))
                    out.setdefault(d, set()).add(int(e["batchId"]))
    return out


# ------------------------------------------------------- per-layer values
LAYER_UNITS = {
    "apply.s": "s", "apply.self_s": "s", "skew_probe.s": "s", "lineage.s": "s",
    "lineage.merge_overlap_s": "s", "merge.attempts": "count", "merge.s": "s",
    "merge.self_s": "s", "touched_probe.s": "s", "footer_stats.s": "s",
    "footer_stats.files": "count", "files_written": "count", "max_files_per_bucket": "count",
    "delta_files": "count", "bytes_written": "B", "scan.s": "s", "compact.s": "s",
    "compact.calls": "count", "changes_between.s": "s", "feed.fast_path_ratio": "ratio",
    "feed.materialize_s": "s", "dir_merge.s": "s", "dir_max_files_per_bucket": "count",
    "sync.s": "s", "sync.calls": "count", "relay.wait_s": "s", "ingest.batch_s": "s",
    "ingest.wait_s": "s", "gen.late_s": "s", "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B", "spill.bytes": "B", "tasks": "count", "jobs": "count",
    "task_skew": "ratio", "trace.overhead_s": "s",
}


def span_layers(rec: SpanRecorder) -> dict[str, float]:
    """Layer values every workload derives the same way from its spans:
    medians per call for durations and self times."""
    applies, merges = rec.named("apply"), rec.named("merge")
    lineage = rec.named("lineage")
    syncs = rec.named("sync")
    probes = rec.named("fast_path_probe")
    footers = rec.named("footer_stats")
    merges_in_apply = [m for m in merges if m["parent"] in {a["id"] for a in applies}]

    def med(name):
        return median_or_zero([duration(s) for s in rec.named(name)])

    def lineage_overlap(a):
        mine = [x for x in lineage if a["start"] <= x["start"] <= a["end"]]
        return overlap(mine, [m for m in merges if m["parent"] == a["id"]])

    return {
        "apply.s": med("apply"),
        "apply.self_s": median_or_zero([rec.self_time(a) for a in applies]),
        "skew_probe.s": med("skew_probe"),
        "lineage.s": med("lineage"),
        "lineage.merge_overlap_s": median_or_zero([lineage_overlap(a) for a in applies]),
        "merge.attempts": len(merges_in_apply) / len(applies) if applies else 0.0,
        "merge.s": med("merge"),
        "merge.self_s": median_or_zero([rec.self_time(m) for m in merges]),
        "touched_probe.s": med("touched_probe"),
        "footer_stats.s": med("footer_stats"),
        "footer_stats.files": median_or_zero([float(s["files"]) for s in footers]),
        "scan.s": med("scan"),
        "compact.s": med("compact"),
        "compact.calls": float(len(rec.named("compact"))),
        "changes_between.s": med("changes_between"),
        "feed.fast_path_ratio": (
            sum(1 for p in probes if p.get("hit")) / len(probes) if probes else 0.0
        ),
        "feed.materialize_s": median_or_zero([rec.self_time(s) for s in syncs]),
        "dir_merge.s": med("dir_merge"),
        "sync.s": median_or_zero([duration(s) for s in syncs]),
        "sync.calls": float(sum(1 for s in syncs if s.get("committed"))),
    }


def _stage_means(rows: list[dict]) -> dict[str, float]:
    keys = ["shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes", "tasks", "jobs", "task_skew"]
    if not rows:
        return {k: 0.0 for k in keys}
    return {k: statistics.mean(r[k] for r in rows) for k in keys}


def cow_layers(rec, stage_rows, layout, traced_walls, untraced_walls):
    vals = span_layers(rec)
    vals.update(_stage_means(stage_rows))
    for k in ("files_written", "bytes_written", "max_files_per_bucket", "delta_files"):
        vals[k] = median_or_zero([float(r[k]) for r in layout])
    vals.update({
        "dir_max_files_per_bucket": 0.0, "relay.wait_s": 0.0, "ingest.batch_s": 0.0,
        "ingest.wait_s": 0.0, "gen.late_s": 0.0,
        "trace.overhead_s": median_or_zero(traced_walls) - median_or_zero(untraced_walls),
    })
    return {k: (float(vals[k]), LAYER_UNITS[k]) for k in LAYER_UNITS}


def relay_layers(
    rec, stage_row, window_epochs, landed, src_commits, src, dst, fresh_traced, fresh_untraced
):
    vals = span_layers(rec)
    traced = [lb for lb in landed if lb["traced"]]
    ingest_applies = [a for a in rec.named("apply") if a["thread"] != "MainThread"]
    n_epochs = max(len(ingest_applies), 1)
    # Spark counters cover the whole window (ingest and relay); per
    # source epoch
    row = dict(stage_row or {})
    for k in ("shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes", "tasks", "jobs"):
        row[k] = row.get(k, 0.0) / max(window_epochs, 1)
    row.setdefault("task_skew", 0.0)
    vals.update(row)
    t_from = min((lb["landed"] for lb in traced), default=time.time())
    versions = {lb["version"] for lb in traced}
    commits = [c for c in src_commits if c["version"] in versions]
    st = src.refresh().file_stats()
    new_files = [p for p in data_files(src.path) if os.path.getmtime(p) >= t_from]
    vals["files_written"] = len(new_files) / n_epochs
    vals["bytes_written"] = sum(os.path.getsize(p) for p in new_files) / n_epochs
    vals["max_files_per_bucket"] = float(st["max_files_per_bucket"])
    vals["delta_files"] = float(st["delta_files"])
    vals["dir_max_files_per_bucket"] = float(dst.refresh().file_stats()["max_files_per_bucket"])
    sync_starts = sorted(s["start"] for s in rec.named("sync"))
    waits = []
    for c in commits:
        later = [s for s in sync_starts if s >= c["mtime"]]
        if later:
            waits.append(later[0] - c["mtime"])
    vals["relay.wait_s"] = median_or_zero(waits)
    vals["ingest.batch_s"] = median_or_zero([duration(a) for a in ingest_applies])
    apply_start = {a["epoch"]: a["start"] for a in ingest_applies}
    epoch_of = {c["version"]: c["summary"].get("source_offsets", {}).get("epoch") for c in src_commits}
    vals["ingest.wait_s"] = median_or_zero([
        apply_start[epoch_of[lb["version"]]] - lb["landed"]
        for lb in traced if epoch_of.get(lb["version"]) in apply_start
    ])
    vals["gen.late_s"] = max((lb["landed"] - lb["due"] for lb in landed), default=0.0)
    vals["trace.overhead_s"] = median_or_zero(fresh_traced) - median_or_zero(fresh_untraced)
    return {k: (float(vals[k]), LAYER_UNITS[k]) for k in LAYER_UNITS}
