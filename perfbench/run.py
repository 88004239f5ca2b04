#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``workloads.py``) against the engine in this
checkout, on inputs generated from ``--seed``, and checks its outputs.
Prints one JSON line last: ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the run also writes a Spark event log and records
spans, and prints the per-layer metrics.  The full record of a run (host
stamp, per-query and per-batch detail, spans) goes to
``.perfbench/artifacts/``; ``compare.py`` compares two sets of them.
Exits 1 when an output check fails, 2 when the engine is missing.

Everything the run writes stays under ``.perfbench/`` in the checkout.
The session is the engine's ``get_spark`` on 4 cores with 4 shuffle
partitions (one per core: the stream's state store keeps that many
partitions per micro-batch) and a 2 GB heap in the Spark driver JVM,
where ``get_spark`` defaults to 8 GB, and the JVM's parallel collector
(see ``_session``).  ``peak_rss_mb`` is the peak PSS of the whole process
tree (driver, JVM, Python workers), so it moves with the heap the JVM
actually touches.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CPUS = 4
DRIVER_MEM = "2g"
SHUFFLE_PARTITIONS = 4

# Every run prints every end-to-end metric (trace 0) or every per-layer
# metric (trace 1); BENCHMARK.json lists the same names.  A layer a
# workload does not exercise reads 0.
END_TO_END = {
    "setup_s": "s",
    "lag_p50_s": "s",
    "lag_p95_s": "s",
    "makespan_s": "s",
    "ok_frac": "1",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    **{f"streaming.pipeline.{k}_ms": "ms" for k in (
        "latest_offset", "get_batch", "query_planning", "wal_commit", "commit_offsets")},
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.rows_in": "count",
    "streaming.assembly.execs_per_batch": "ratio",
    "streaming.assembly.state_rows": "count",
    "streaming.assembly.state_bytes": "bytes",
    "streaming.assembly.state_update_ms": "ms",
    "streaming.assembly.state_commit_ms": "ms",
    "streaming.assembly.rows_out": "count",
    "streaming.assembly.python_wait_ms": "ms",
    "sinks.merge.merge_ms": "ms",
    "sinks.merge.calls": "count",
    "sinks.merge.buckets_rewritten": "count",
    "sinks.merge.bytes_rewritten": "bytes",
    "sinks.merge.rewrite_amplification": "ratio",
    **{f"{m}.{k}": "s" for m in (
        "operators.cdc", "operators.lob", "operators.analytics", "operators.similarity",
        "operators.graph", "functions.tde") for k in ("builder_s", "exec_s")},
    **{f"catalyst.{k}_s": "s" for k in ("analysis", "optimization", "planning")},
    "plan.cache_scans": "count",
    "python.udf_ms": "ms",
    "python.start_ms": "ms",
    "python.init_ms": "ms",
    "python.to_worker_mb": "MB",
    "python.from_worker_mb": "MB",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    # the end-to-end timings as measured with tracing on: against an
    # untraced run they give the tracing overhead
    "trace.lag_p50_s": "s",
    "trace.lag_p95_s": "s",
    "trace.makespan_s": "s",
}


def _environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine from any working directory."""
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CPUS, os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(SHUFFLE_PARTITIONS)
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    # every JVM Spark starts (its launcher and its driver): temp files in
    # the checkout, and no hsperfdata file, which Java writes to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


PR_SET_CHILD_SUBREAPER = 36


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants: a Python
    worker whose parent JVM has exited becomes our child, so
    ``_end_processes`` can wait for it."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    return [p for p, _, _ in tracing.tree(os.getpid()) if p != os.getpid()]


def _end_processes(timeout_s: float = 30.0) -> None:
    """Stop the Spark JVM and every process it started, and wait until
    each has ended.  ``spark.stop()`` leaves the JVM running: it exits at
    EOF on its stdin, which Python closes only at exit, so without this
    the JVM outlives the run by a few hundred milliseconds."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc  # None when PySpark attached to a running JVM
        try:
            gateway.shutdown()
        except Exception:
            pass  # the JVM is already gone
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass  # reap the orphans that ended
        except ChildProcessError:
            pass
        left = _children()
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _session(work: str, event_log: str | None):
    from oracdc_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # G1, the JDK's default collector, grows the heap when collections
        # take too large a share of wall time, so the heap a run touches
        # (and peak_rss_mb) follows the host's speed: 0.21 IQR/median
        # over 5 seeds.  The parallel collector without adaptive sizing
        # grows the old generation only as live data needs it (0.03-0.06).
        # Its default young generation (a third of the initial heap, 80 MB
        # on a 15 GB host) spent 26 s of 41 s task time in GC on one
        # seed; 512 MB brought that to 5 s.
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xmn512m",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "true"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "oracdc_spark", "streaming", "pipeline.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(STATE, f"run-{os.getpid()}")
    _environment(work)
    stamp = {"before": tracing.host_stamp()}
    tracer = tracing.Tracer(bool(args.trace))
    event_log = os.path.join(work, "eventlog") if args.trace else None
    # a terminated run still stops Spark (its JVM and Python workers)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _adopt_orphans()
    spark = None
    try:
        with tracing.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = _session(work, event_log)
            session_s = time.perf_counter() - t0
            ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer, event_log)
            res = workloads.WORKLOADS[args.workload](ctx)
            spark.stop()
            spark = None
            # the event log is complete once the context has stopped
            if res.after_stop:
                res.layers.update(res.after_stop())
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            _end_processes()
            shutil.rmtree(work, ignore_errors=True)
    stamp["after"] = tracing.host_stamp()

    e2e = dict(res.metrics)
    e2e["setup_s"] = sorted(res.setup_s)[len(res.setup_s) // 2]
    e2e["failed_frac"] = res.failed / res.attempted
    e2e["ok_frac"] = 1 - e2e["failed_frac"]
    e2e["peak_rss_mb"] = rss.peak_pss / 2**20
    if args.trace:
        layers = {**dict.fromkeys(PER_LAYER, 0.0), **res.layers,
                  **{f"trace.{k}": e2e[k] for k in ("lag_p50_s", "lag_p95_s", "makespan_s")}}
        shown = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        shown = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    correct = not res.checks and all(
        isinstance(m["value"], (int, float)) and math.isfinite(m["value"]) for m in shown.values())

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "checks": res.checks,
        "attempted": res.attempted, "failed": res.failed,
        "end_to_end": e2e, "setup_runs_s": res.setup_s,
        "per_layer": {k: v["value"] for k, v in shown.items()} if args.trace else {},
        "peak_rss_tree_mb": rss.peak_rss / 2**20,
        "session_start_s": session_s, "host": stamp, "detail": res.detail,
        "processes_at_peak_mb": rss.at_peak,
    }
    art_dir = os.path.join(STATE, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    stem = os.path.join(art_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
    if args.trace:
        base = stem[:-1] + "0.json"
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]
            artifact["tracing_overhead"] = {
                k: e2e[k] / untraced[k] - 1 for k in ("lag_p50_s", "lag_p95_s", "makespan_s")}
        with open(stem + ".spans.json", "w") as f:
            json.dump(tracer.spans, f)
    with open(stem + ".json", "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    for c in res.checks:
        print(f"CHECK FAILED: {c}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed,
                      "metrics": shown}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
