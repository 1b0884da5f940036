"""Span recorder for the traced run.

Spans are recorded from outside the engine, by wrapping its public
entry points (module functions and table methods). Each span keeps its
name, start, end, parent, thread-local nesting and epoch label; spans
stay in memory and are written out when the run ends. A layer's self
time is its duration minus the part of it that its child spans cover.

``SparkStages`` reads per-epoch runtime counters (jobs, tasks, shuffle
and spill bytes, task skew) from the Spark UI REST API on loopback.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
import urllib.request
from typing import Any, Callable


class SpanRecorder:
    """In-memory spans with parent links; wrappers record only while
    ``enabled`` is set, so one process can time traced and untraced
    stretches of the same workload."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.enabled = False
        self.epoch: Any = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "epoch": attrs.pop("epoch", self.epoch),
            "thread": threading.current_thread().name,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        before: Callable[..., dict] | None = None,
        after: Callable[[Any], dict] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a recording wrapper. ``before(*a,
        **kw)`` and ``after(result)`` return extra span attributes."""
        original = getattr(owner, attr)
        rec_self = self

        def wrapper(*args, **kwargs):
            attrs = before(*args, **kwargs) if before and rec_self.enabled else {}
            with rec_self.span(name, **attrs) as rec:
                result = original(*args, **kwargs)
                if rec is not None and after is not None:
                    rec.update(after(result))
                return result

        wrapper.__wrapped__ = original
        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # ------------------------------------------------------------ analysis
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"] and s["end"] is not None]

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the child intervals inside it."""
        ivs = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.children(span)
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def overlap(a: list[dict], b: list[dict]) -> float:
    """Seconds during which some span of ``a`` and some span of ``b``
    both ran."""
    total = 0.0
    for x in a:
        for y in b:
            total += max(0.0, min(x["end"], y["end"]) - max(x["start"], y["start"]))
    return total


def install(rec: SpanRecorder) -> None:
    """Wrap the public entry points of every layer the benchmark reports."""
    from etl_framework_spark.cdc import apply as cdc_apply
    from etl_framework_spark.cdc import relay
    from etl_framework_spark.lakehouse import dirtable, feed, table
    from etl_framework_spark.streaming import ingest

    def epoch_kw(*_a, **kw):
        return {"epoch": kw["epoch_id"]} if kw.get("epoch_id") is not None else {}

    rec.wrap(cdc_apply, "apply_changes", "apply", before=epoch_kw)
    # the ingest daemon imported apply_changes by name
    rec.wrap(ingest, "apply_changes", "apply", before=epoch_kw)
    rec.wrap(cdc_apply, "detect_skew", "skew_probe")
    rec.wrap(cdc_apply, "compute_lineage", "lineage")
    rec.wrap(table.LakeTable, "merge", "merge")
    rec.wrap(table.LakeTable, "touched_buckets", "touched_probe")
    rec.wrap(table.LakeTable, "compact", "compact")
    rec.wrap(table.LakeTable, "changes_between", "changes_between")
    files_arg = lambda paths, *_a, **_k: {"files": len(paths)}  # noqa: E731
    rec.wrap(table, "collect_file_ranges", "footer_stats", before=files_arg)
    rec.wrap(dirtable, "collect_file_ranges", "footer_stats", before=files_arg)
    rec.wrap(dirtable.DirTable, "merge", "dir_merge")
    rec.wrap(
        feed, "delta_fast_path", "fast_path_probe",
        after=lambda r: {"hit": r[0] is not None},
    )
    rec.wrap(relay, "sync_once", "sync", after=lambda v: {"committed": v is not None})


class SparkStages:
    """Per-interval Spark runtime counters from the UI REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def mark(self) -> tuple[int, int]:
        """(next stage id, next job id) — the start of an interval."""
        stages = self._get("/stages")
        jobs = self._get("/jobs")
        return (
            max((s["stageId"] for s in stages), default=-1) + 1,
            max((j["jobId"] for j in jobs), default=-1) + 1,
        )

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        stage0, job0 = mark
        stages = [s for s in self._get("/stages") if s["stageId"] >= stage0]
        jobs = [j for j in self._get("/jobs") if j["jobId"] >= job0]
        out = {
            "shuffle.write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "shuffle.read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "spill.bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
            ),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "jobs": len(jobs),
            "task_skew": 1.0,
        }
        multi = [s for s in stages if s.get("numCompleteTasks", 0) > 1]
        if multi:
            top = max(multi, key=lambda s: s.get("executorRunTime", 0))
            q = self._get(
                f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )
            rt = q.get("executorRunTime", [0, 0])
            out["task_skew"] = rt[1] / max(rt[0], 1.0)
        return out
