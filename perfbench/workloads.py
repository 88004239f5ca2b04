"""Benchmark workloads.

Each takes a :class:`Ctx` and returns a :class:`Result`.  The engine is
driven only through its public entry points: ``run_pipeline`` for the
stream, and the ``queries()`` catalog for batch queries, whose decrypt
and inflate rows call the ``functions`` UDFs.  Output checks run after
the timed region, against models that do not share the engine's code.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

import datagen
from tracing import EXEC_KEYS, Tracer, parse_event_log

SETUP_REPS = 3


@dataclass
class Ctx:
    spark: object
    work: str          # scratch directory for this run
    seed: int
    seconds: float
    tracer: Tracer
    event_log: str | None


@dataclass
class Result:
    metrics: dict                       # end-to-end metric → value
    setup_s: list[float]
    attempted: int
    failed: int
    checks: list[str] = field(default_factory=list)   # failed check messages
    layers: dict = field(default_factory=dict)        # per-layer metric → value
    detail: dict = field(default_factory=dict)
    # per-layer metrics read from the event log once Spark has stopped
    after_stop: Callable[[], dict] | None = None


def _pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


# ---------------------------------------------------------------------------
# streaming helpers: micro-batch accounting from recentProgress + the
# checkpoint's source log (no listener: the listener bus is asynchronous)
# ---------------------------------------------------------------------------


def _iso(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def _batches(query) -> dict[int, dict]:
    """batch id → {start, end, progress} from the query's progress."""
    out = {}
    for p in query.recentProgress:
        if "addBatch" not in p["durationMs"]:
            continue  # an idle trigger: no batch ran
        bid = p["batchId"]
        start = _iso(p["timestamp"])
        out[bid] = {"start": start,
                    "end": start + p["durationMs"].get("triggerExecution", 0) / 1000,
                    "progress": p}
    return out


def _files_by_batch(ckpt: str) -> dict[str, int]:
    """file name → batch id, from the checkpoint's file-source log."""
    src = os.path.join(ckpt, "cdc", "sources", "0")
    out = {}
    for name in os.listdir(src):
        if not name.isdigit():
            continue  # compacted logs end in .compact; none at these sizes
        with open(os.path.join(src, name)) as f:
            for line in f.read().splitlines()[1:]:
                out[os.path.basename(json.loads(line)["path"])] = int(name)
    return out


def _progress_layers(batches: dict[int, dict]) -> dict:
    """Sums of recentProgress durations and state-operator counters."""
    keys = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
    names = ("latest_offset", "get_batch", "query_planning", "wal_commit", "commit_offsets")
    out = {f"streaming.pipeline.{n}_ms": 0.0 for n in names}
    out["streaming.pipeline.batches"] = len(batches)
    out["streaming.pipeline.rows_in"] = 0
    st = {"state_rows": 0, "state_bytes": 0, "state_update_ms": 0.0,
          "state_commit_ms": 0.0}
    for b in batches.values():
        p = b["progress"]
        for k, n in zip(keys, names):
            out[f"streaming.pipeline.{n}_ms"] += p["durationMs"].get(k, 0)
        out["streaming.pipeline.rows_in"] += p.get("numInputRows", 0)
        for so in p.get("stateOperators", []):
            st["state_rows"] = max(st["state_rows"], so.get("numRowsTotal", 0))
            st["state_bytes"] = max(st["state_bytes"], so.get("memoryUsedBytes", 0))
            st["state_update_ms"] += so.get("allUpdatesTimeMs", 0)
            st["state_commit_ms"] += so.get("commitTimeMs", 0)
    out.update({f"streaming.assembly.{k}": v for k, v in st.items()})
    return out


class _MergeProbe:
    """Wraps the sink's public merge function with a span (trace only):
    merge time, and buckets / bytes / rows rewritten read from the
    manifest generations before and after each call."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.calls = 0
        self.buckets = 0
        self.bytes = 0
        self.rows = 0

    def wrap(self, fn):
        import pyarrow.parquet as pq

        def manifest(path):
            p = os.path.join(path, "_MANIFEST.json")
            if not os.path.exists(p):
                return {}
            with open(p) as f:
                return json.load(f)["buckets"]

        def wrapped(spark, batch, target_path, *a, **kw):
            before = manifest(target_path)
            with self.tracer.span("sinks.merge." + fn.__name__):
                fn(spark, batch, target_path, *a, **kw)
            after = manifest(target_path)
            self.calls += 1
            for b, d in after.items():
                if before.get(b) == d:
                    continue
                self.buckets += 1
                full = os.path.join(target_path, d)
                for name in os.listdir(full):
                    if name.endswith(".parquet"):
                        fp = os.path.join(full, name)
                        self.bytes += os.path.getsize(fp)
                        self.rows += pq.read_metadata(fp).num_rows

        wrapped.__name__ = fn.__name__
        return wrapped

    def install(self):
        """Patch the name the pipeline's sink resolves at call time."""
        from oracdc_spark.streaming import pipeline

        self._saved = pipeline.merge_batch
        pipeline.merge_batch = self.wrap(pipeline.merge_batch)

    def uninstall(self):
        from oracdc_spark.streaming import pipeline

        pipeline.merge_batch = self._saved

    def layers(self, rows_changed: int) -> dict:
        return {
            "sinks.merge.merge_ms": self.tracer.total_s("sinks.merge.merge_batch") * 1000,
            "sinks.merge.calls": self.calls,
            "sinks.merge.buckets_rewritten": self.buckets,
            "sinks.merge.bytes_rewritten": self.bytes,
            "sinks.merge.rewrite_amplification": self.rows / max(1, rows_changed),
        }


def _event_layers(ctx: Ctx, layer_of_job, parsed: dict | None = None) -> dict:
    """exec.* totals, Python-worker SQL metrics and the assembly's
    Python wait, from the event log."""
    parsed = parsed or parse_event_log(ctx.event_log, layer_of_job)
    out = {f"exec.{k}": sum(agg[k] for agg in parsed["layers"].values()) for k in EXEC_KEYS}
    asm = parsed["layers"].get("streaming.assembly")
    if asm:
        out["streaming.assembly.python_wait_ms"] = asm["run_ms"] - asm["cpu_ms"]
    py = parsed["python"]
    out.update({"python.udf_ms": py.get("run_ms", 0),
                "python.start_ms": py.get("start_ms", 0),
                "python.init_ms": py.get("init_ms", 0),
                "python.to_worker_mb": py.get("to_worker_bytes", 0) / 2**20,
                "python.from_worker_mb": py.get("from_worker_bytes", 0) / 2**20})
    return out


def _stream_event_layers(ctx: Ctx, run_id: str, batch_ids) -> dict:
    """Event-log layers of one query run's measured micro-batches.  The
    stream thread tags its jobs with the run id as job group; every job
    of a micro-batch outside the stateful stage is the sink's."""
    ids = {str(b) for b in batch_ids}

    def layer_of_job(props):
        if (props.get("spark.jobGroup.id") == run_id
                and props.get("streaming.sql.batchId") in ids):
            return "sinks.merge"
        return None

    parsed = parse_event_log(ctx.event_log, layer_of_job)
    out = _event_layers(ctx, layer_of_job, parsed)
    out["streaming.assembly.execs_per_batch"] = (
        sum(parsed["stateful_execs"].get(b, 0) for b in ids) / max(1, len(ids)))
    out["streaming.assembly.rows_out"] = sum(parsed["stateful_rows_out"].get(b, 0) for b in ids)
    return out


def _start(ctx: Ctx, feed: str, d: str):
    from oracdc_spark.streaming.pipeline import run_pipeline

    with ctx.tracer.span("streaming.pipeline.run_pipeline"):
        return run_pipeline(ctx.spark, feed, os.path.join(d, "replica"),
                            os.path.join(d, "ckpt"), max_files_per_trigger=10_000,
                            mode="replicate", trigger_ms=OLTP_TRIGGER_S * 1000)


def _bootstrap(ctx: Ctx, d: str, first_file: list[dict]):
    """Start a pipeline on a fresh feed holding ``first_file`` and run it
    until its first batch (the trigger fires at once) has committed.
    Returns (seconds taken, running query)."""
    feed = os.path.join(d, "feed")
    os.makedirs(feed)
    datagen.write_feed_file(os.path.join(feed, "f000000.parquet"), first_file)
    t0 = time.perf_counter()
    q = _start(ctx, feed, d)
    q.processAllAvailable()
    return time.perf_counter() - t0, q


def _drain(q) -> str | None:
    """Wait until the query has processed every file available; returns
    the query's failure, if it failed."""
    from pyspark.errors import StreamingQueryException

    try:
        q.processAllAvailable()
    except StreamingQueryException as e:
        return str(e)[:500]
    return None


# ---------------------------------------------------------------------------
# oltp_replicate: open loop, fixed file rate, lag per file
# ---------------------------------------------------------------------------

OLTP_FILES_PER_S = 20
OLTP_TRIGGER_S = 5
# the replica starts as large as the catalog's orders table at sf0.01
OLTP_SNAPSHOT_ROWS = 15_000


def oltp_replicate(ctx: Ctx) -> Result:
    """One transaction per feed file, OLTP_FILES_PER_S files a second,
    through a pipeline paced by a processing-time trigger of
    OLTP_TRIGGER_S.  Spark fires such a trigger at multiples of its
    interval since the epoch, and the generator starts half a file period
    after one of them, so every run batches the same files together and a
    file's lag is its fixed wait for the next trigger plus the time the
    engine takes to commit the batch."""
    from oracdc_spark.sinks.merge import replica_state

    gen = datagen.OltpGenerator(ctx.seed)
    d = os.path.join(ctx.work, "oltp")
    # Set-up is one bootstrap: the replica's snapshot through a cold
    # pipeline.  A second one in the same process would be warm, and a
    # restart from the checkpoint (~0.1 s) moved its median by a quarter
    # between two 10-seed sets of the same code.
    boot, q = _bootstrap(ctx, d, gen.snapshot(OLTP_SNAPSHOT_ROWS))
    feed = os.path.join(d, "feed")
    probe = _MergeProbe(ctx.tracer)
    if ctx.tracer.enabled:
        probe.install()
    n_files = int(OLTP_FILES_PER_S * ctx.seconds)
    period = 1 / OLTP_FILES_PER_S
    t0 = (math.floor(time.time() / OLTP_TRIGGER_S) + 1) * OLTP_TRIGGER_S + period / 2
    due, late, dml_rows = {}, [], 0
    with ctx.tracer.span("oltp.generator", files=n_files):
        for i in range(n_files):
            name = f"f{i + 1:06d}.parquet"
            due[name] = t0 + i * period
            recs = gen.next_file()
            dml_rows += sum(r["op"] in (1, 2, 3) and not r["rollback"] for r in recs)
            wait = due[name] - time.time()
            if wait > 0:
                time.sleep(wait)
            datagen.write_feed_file(os.path.join(feed, name), recs)
            late.append(time.time() - due[name])
    err = _drain(q)
    batches = _batches(q)
    run_id = str(q.runId)
    q.stop()
    if ctx.tracer.enabled:
        probe.uninstall()

    file_batch = _files_by_batch(os.path.join(d, "ckpt"))
    lags = [batches[file_batch[f]]["end"] - due[f]
            for f in due if file_batch.get(f) in batches]
    measured = {file_batch[f] for f in due if f in file_batch}
    checks = []
    if err:
        checks.append(f"query failed: {err}")
    if len(lags) != n_files:
        checks.append(f"{n_files - len(lags)} of {n_files} files never reached the sink")
    got = {tuple(r) for r in replica_state(ctx.spark, os.path.join(d, "replica"))
           .select("pk", "totalprice", "status").collect()}
    want = {(pk, p, s) for pk, (p, s) in gen.model.rows.items()}
    if got != want:
        checks.append(f"replica mismatch: {len(got - want)} unexpected, {len(want - got)} missing")
    p95 = _pct(lags, 0.95) if lags else float("nan")
    res = Result(
        metrics={"lag_p50_s": _pct(lags, 0.50) if lags else float("nan"), "lag_p95_s": p95,
                 # until the replica holds the whole feed of the run
                 "makespan_s": max((batches[b]["end"] for b in measured if b in batches),
                                   default=t0) - t0},
        setup_s=[boot], attempted=len(measured) + 1,
        failed=(len(measured) + 1 if err else 1) if checks else 0, checks=checks,
        detail={"files": n_files, "lag_samples": len(lags),
                "samples_beyond_p95": sum(x > p95 for x in lags),
                "rate_files_per_s": OLTP_FILES_PER_S, "trigger_s": OLTP_TRIGGER_S,
                "dml_rows": dml_rows,
                "generator_late_p50_s": _pct(late, 0.5), "generator_late_max_s": max(late),
                "replica_rows": len(want), "micro_batches": len(measured),
                "batch_s": {b: batches[b]["end"] - batches[b]["start"]
                            for b in sorted(measured) if b in batches}},
    )
    if ctx.tracer.enabled:
        res.layers = {**_progress_layers({b: batches[b] for b in measured if b in batches}),
                      **probe.layers(dml_rows)}
        res.after_stop = lambda: _stream_event_layers(ctx, run_id, measured)
    return res


# ---------------------------------------------------------------------------
# batch_queries: one client, a fixed query list, each written in full
# ---------------------------------------------------------------------------

# query → the layer (module) the function building it calls into: the
# CDC apply, three rows whose cost a count() would prune (decrypt,
# inflate, range join), the row a process-global cache once served on
# repeats (brute-force top-k) and a row whose time goes into building
# its plan (graph_kcore runs eager jobs per peel round).
BATCH_QUERIES = {
    "cdc_apply_changes": "operators.cdc",
    "lob_inflate": "operators.lob",
    "ora_tde_decrypt": "functions.tde",
    "events_range_join": "operators.analytics",
    "similarity_bruteforce_topk": "operators.similarity",
    "graph_kcore": "operators.graph",
}
BATCH_SF = 0.01
WARM_SF = 0.001


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _phases(df) -> dict:
    """Plan the query's own QueryExecution and read Catalyst's phase timer."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000
    return out


def _cache_scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("InMemoryTableScan")


def batch_queries(ctx: Ctx) -> Result:
    import duckdb

    import __spark_entry__ as entry
    from oracdc_spark import TABLES
    from oracdc_spark.catalog import load_table
    from tests.parity import compare, register_duck_views

    qs, oracles = entry.queries(), entry.oracle_sql()
    spark, sc = ctx.spark, ctx.spark.sparkContext
    src = os.path.join(ctx.work, "catalog")
    datagen.write_catalog(src, BATCH_SF, ctx.seed)

    def copy(i: int) -> str:
        # each pass reads its own copy of the catalog, so none of its
        # plans was planned or cached before
        cat = os.path.join(ctx.work, f"pass{i}")
        shutil.copytree(src, cat)
        return cat

    # The output check is the first pass and warms the JIT and the
    # Python workers; set-up and the timed passes follow, on fresh copies.
    sc.setJobGroup("check", "output check")
    t0 = time.perf_counter()
    cat = copy(0)
    con = duckdb.connect()
    register_duck_views(con, cat)
    checks, rows = [], {}
    for name in BATCH_QUERIES:
        try:
            r = compare(spark, con, qs[name], oracles[name], cat)
        except Exception as e:  # a query that raises is a failed query
            r = {"values_match": False, "error": f"{type(e).__name__}: {str(e)[:300]}"}
        rows[name] = r.get("spark_rows")
        if not r["values_match"]:
            checks.append(f"{name}: {json.dumps(r, default=str)[:500]}")
    con.close()
    check_s = time.perf_counter() - t0

    # catalog bring-up, after the check has warmed the engine: every
    # table loaded and scanned once, each rep on its own small catalog
    setup = []
    for rep in range(SETUP_REPS):
        warm = os.path.join(ctx.work, f"warm{rep}")
        datagen.write_catalog(warm, WARM_SF, ctx.seed + 1 + rep)
        t0 = time.perf_counter()
        for t in TABLES:
            load_table(spark, warm, t).count()
        setup.append(time.perf_counter() - t0)

    # at least two timed passes: makespan is their median, and a host
    # stall during one pass moves it by half
    passes: list[dict] = []
    t_end = time.time() + ctx.seconds
    while len(passes) < 2 or time.time() < t_end:
        cat = copy(len(passes) + 1)
        per_q = {}
        for name, layer in BATCH_QUERIES.items():
            sc.setJobGroup(f"{layer}:{name}", name)
            with ctx.tracer.span(f"{layer}.build", query=name):
                t0 = time.perf_counter()
                df = qs[name](spark, cat)
                t1 = time.perf_counter()
            phases = _phases(df) if ctx.tracer.enabled else {}
            with ctx.tracer.span(f"{layer}.exec", query=name):
                t2 = time.perf_counter()
                _noop(df)
                t3 = time.perf_counter()
            per_q[name] = {"builder_s": t1 - t0, "exec_s": t3 - t2, "phases": phases,
                           "cache_scans": _cache_scans(df)}
        passes.append(per_q)
    totals = [sum(v["builder_s"] + v["exec_s"] for v in p.values()) for p in passes]
    # the client submits the whole list when a pass starts: a query is due
    # then and done when its output has been written
    lags = []
    for p in passes:
        done = 0.0
        for v in p.values():
            done += v["builder_s"] + v["exec_s"]
            lags.append(done)
    res = Result(
        metrics={"lag_p50_s": _pct(lags, 0.5), "lag_p95_s": _pct(lags, 0.95),
                 "makespan_s": statistics.median(totals)}, setup_s=setup,
        attempted=len(BATCH_QUERIES), failed=len(checks), checks=checks,
        detail={"sf": BATCH_SF, "pass_totals_s": totals, "passes": passes, "rows": rows,
                "check_s": check_s},
    )
    if ctx.tracer.enabled:
        layers = {}
        for p in passes:
            for name, layer in BATCH_QUERIES.items():
                q = p[name]
                for k in ("builder_s", "exec_s"):
                    layers[f"{layer}.{k}"] = layers.get(f"{layer}.{k}", 0.0) + q[k] / len(passes)
                for ph in ("analysis", "optimization", "planning"):
                    key = f"catalyst.{ph}_s"
                    layers[key] = layers.get(key, 0.0) + q["phases"].get(ph, 0.0) / len(passes)
        layers["plan.cache_scans"] = sum(q["cache_scans"] for p in passes for q in p.values())
        res.layers = layers
        res.after_stop = lambda: _event_layers(ctx, _measured_group)
    return res


def _measured_group(props: dict) -> str | None:
    """The layer of a job the timed region tagged ``<layer>:<item>``;
    None for set-up and output-check jobs."""
    group = (props.get("spark.jobGroup.id") or "").split(":")[0]
    return group if group.startswith(("operators.", "functions.")) else None


WORKLOADS = {
    "oltp_replicate": oltp_replicate,
    "batch_queries": batch_queries,
}
