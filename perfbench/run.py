"""CDC engine benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload cow_ingest --seed 1 --seconds 20 --trace 0

Workloads: ``cow_ingest`` and ``relay_freshness`` (see ``perfbench/workloads.py`` and ``perfbench/RATIONALE.md``).

``--trace 0`` prints every end-to-end metric; ``--trace 1`` wraps the
engine's public entry points, turns on the Spark UI REST API on
loopback, prints every per-layer metric and writes the spans to
``.perfbench_work/spans-<workload>-<seed>.json``.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``. The exit code is 0 only when the correctness gate passed.
Tables, logs, Spark scratch and temp files all live under
``.perfbench_work/`` in the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cow_ingest", "relay_freshness")

#: Driver JVM heap: room for local[nproc] parquet writers while several
#: benchmark processes can share a 15 GB machine.
DRIVER_MEM = "3g"


def pin_environment(work: str) -> None:
    """Engine knobs fixed for every run; scratch kept inside ``work``."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark_local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM (the spark-submit launcher too): temp files inside the
        # work dir, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    for d in (env["SPARK_GRAFT_LOCAL_DIR"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)


def start_spark(trace: bool):
    from etl_framework_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the driver heap sized up front, so peak RSS does not hinge on
        # when the collector decides to grow it
        "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if trace:
        # the UI REST API serves the per-stage counters; loopback only
        conf.update({"spark.ui.enabled": "true", "spark.driver.host": "127.0.0.1"})
    return session.get_spark(app_name="perfbench", extra_conf=conf)


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests, summed
    over CPUs since boot; a slow run with high steal ran on a busy host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the self-test")
    ap.add_argument("--inject-mismatch", action="store_true",
                    help="delete one row from the final table before the gate (self-test)")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import etl_framework_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine or its dependencies: {exc}", file=sys.stderr)
        return 2

    from perfbench import workloads

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_setup = time.perf_counter()
    steal0 = cpu_steal_s()
    pin_environment(work)
    if args.workload == "relay_freshness":
        wl = workloads.RelayWorkload(work, args.seed, args.scale, args.seconds)
    else:
        wl = workloads.CowWorkload(work, args.seed, args.scale)
    spark = None
    try:
        # the change log is generated (DuckDB) while the JVM starts
        with ThreadPoolExecutor(max_workers=1) as pool:
            generated = pool.submit(wl.generate)
            spark = start_spark(bool(args.trace))
            t_spark = time.perf_counter() - t_setup
            generated.result()
        t_warm = time.perf_counter()
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t_setup
        notes = {"spark_start_s": t_spark, "warm_up_s": time.perf_counter() - t_warm}
        return run(args, spark, wl, setup_s, notes, work_root)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"[perfbench] cpu steal during the run: {cpu_steal_s() - steal0:.1f} s",
              file=sys.stderr)


def run(args, spark, wl, setup_s: float, notes: dict, work_root: str) -> int:
    from perfbench import trace, workloads

    rec = stages = None
    if args.trace:
        rec = trace.SpanRecorder()
        trace.install(rec)
        stages = trace.SparkStages(spark)
    failed, attempted, checks, res = 0, 1, [], None
    try:
        try:
            res = wl.run(spark, args.seconds, rec, stages)
        finally:
            if rec is not None:
                rec.restore()
        attempted = res.attempted
        if rec is not None:
            _dump(rec, work_root, args, res)
        checks = wl.checks(args.inject_mismatch)
    except Exception:
        traceback.print_exc()
        failed += 1

    for label, expected, actual in checks:
        ok = expected == actual
        failed += 0 if ok else 1
        print(f"[perfbench] gate {label}: expected {expected} actual {actual} "
              f"{'ok' if ok else 'MISMATCH'}", file=sys.stderr)
    attempted += len(checks)
    correct = failed == 0 and bool(checks)

    metrics: dict[str, dict] = {}
    if res is not None:
        if args.trace:
            chosen = res.layers
        else:
            chosen = dict(res.metrics)
            chosen["setup_s"] = (setup_s, "s")
            chosen["peak_rss_mb"] = (workloads.peak_rss_mb(), "MB")
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(chosen.items())}
        print(f"[perfbench] notes {json.dumps({**notes, **res.notes})}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def _dump(rec, work_root: str, args, res) -> None:
    """Write the spans and the per-layer values of a traced run."""
    path = os.path.join(work_root, f"spans-{args.workload}-{args.seed}.json")
    rec.dump(path, extra={"workload": args.workload, "seed": args.seed,
                          "layers": {k: v for k, (v, _) in res.layers.items()},
                          "notes": res.notes})
    print(f"[perfbench] spans written to {path}", file=sys.stderr)


if __name__ == "__main__":
    raise SystemExit(main())
