"""Measurement plumbing: spans, host stamp, process-tree RSS, and the
Spark event-log parser that maps stages onto the engine's layer names.

Spans live in memory and are written out with the artifact at exit.
A span records name, start, end and the span that caused it; counts
recorded at the same boundary ride in ``attrs``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield attrs
        finally:
            stack.pop()
            rec["end"] = time.time()

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def calibration_s() -> float:
    """Time of a fixed CPU-bound loop: a slow or loaded host reads here."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def host_stamp() -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg_1m": os.getloadavg()[0],
        "calibration_s": calibration_s(),
    }


def tree(root: int) -> list[tuple[int, str, int]]:
    """(pid, command, rss bytes) of ``root`` and all its descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    info: dict[int, tuple[str, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed it
        comm = stat[stat.index("(") + 1: stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        children[int(fields[1])].append(int(d))
        info[int(d)] = (comm, int(fields[21]) * page)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in info:
            out.append((p, *info[p]))
        todo += children.get(p, [])
    return out


def _pss(pid: int) -> int:
    """Proportional set size: shared pages split among their users, so
    forked Python workers are not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the process tree's memory on a thread; keeps the peak and
    the per-process breakdown at the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_rss = 0
        self.peak_pss = 0
        self.at_peak: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        procs = tree(os.getpid())
        rss = sum(p[2] for p in procs)
        pss = sum(_pss(p[0]) for p in procs)
        self.peak_rss = max(self.peak_rss, rss)
        if pss > self.peak_pss:
            self.peak_pss = pss
            self.at_peak = [(c, round(r / 2**20)) for _, c, r in procs]

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_STATEFUL_NODES = ("FlatMapGroupsInPandasWithState", "TransformWithStateInPandas")
_PY_METRICS = {
    "data sent to Python workers": "to_worker_bytes",
    "data returned from Python workers": "from_worker_bytes",
    "time to run Python workers": "run_ms",
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
}
EXEC_KEYS = ("jobs", "tasks", "run_ms", "cpu_ms", "gc_ms",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def _stateful_output_accums(plan: dict, out: set) -> None:
    """Accumulator ids of the stateful node's output-row metric."""
    if any(k in plan.get("nodeName", "") for k in _STATEFUL_NODES):
        # the node's own counter comes first; the Python runner's follows
        out.update([m["accumulatorId"] for m in plan.get("metrics", [])
                    if m.get("name") == "number of output rows"][:1])
    for child in plan.get("children", []):
        _stateful_output_accums(child, out)


def parse_event_log(log_dir: str, layer_of_job) -> dict:
    """Totals per layer from the Spark event log in ``log_dir``.

    ``layer_of_job(props)`` names the layer of a job from its properties
    (job group, streaming batch id), or returns None for a job outside
    the measured region (set-up, output checks).  A stage that runs the stateful
    assembly operator is charged to ``streaming.assembly`` whatever its
    job; every other stage goes to its job's layer.  Also returns the
    python-worker SQL metrics, and per streaming batch the number of
    stateful-stage executions and the rows its fullest execution emitted.
    """
    job_props: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stateful_stages: set[int] = set()
    out_accums: set[int] = set()
    tasks = []
    # rolling logs: one directory per application, event files inside
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # torn last line of a log still being written
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    job_props[ev["Job ID"]] = ev.get("Properties") or {}
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    for rdd in info.get("RDD Info", []):
                        if any(k in (rdd.get("Scope") or "") for k in _STATEFUL_NODES):
                            stateful_stages.add(info["Stage ID"])
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    _stateful_output_accums(ev.get("sparkPlanInfo") or {}, out_accums)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)

    def layer_of_stage(stage: int) -> str | None:
        layer = layer_of_job(job_props.get(stage_job.get(stage), {}))
        if layer is not None and stage in stateful_stages:
            return "streaming.assembly"
        return layer

    layers: dict[str, dict] = defaultdict(lambda: dict.fromkeys(EXEC_KEYS, 0.0))
    for props in job_props.values():
        layer = layer_of_job(props)
        if layer is not None:
            layers[layer]["jobs"] += 1
    py: dict[str, float] = defaultdict(float)
    stage_rows_out: dict[int, float] = defaultdict(float)
    for ev in tasks:
        m = ev.get("Task Metrics") or {}
        stage = ev["Stage ID"]
        layer = layer_of_stage(stage)
        if layer is None:
            continue
        agg = layers[layer]
        agg["tasks"] += 1
        agg["run_ms"] += m.get("Executor Run Time", 0)
        agg["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        agg["gc_ms"] += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        agg["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
        sw = m.get("Shuffle Write Metrics") or {}
        agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
        agg["spill_mb"] += (m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)) / 2**20
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            key = _PY_METRICS.get(acc.get("Name"))
            if key:
                py[key] += float(acc.get("Update", 0) or 0)
            elif acc.get("ID") in out_accums:
                stage_rows_out[stage] += float(acc.get("Update", 0) or 0)
    execs: dict[str, int] = defaultdict(int)
    rows_out: dict[str, float] = defaultdict(float)
    for stage in stateful_stages:
        props = job_props.get(stage_job.get(stage), {})
        bid = props.get("streaming.sql.batchId")
        if bid is not None and layer_of_job(props) is not None:
            execs[bid] += 1
            rows_out[bid] = max(rows_out[bid], stage_rows_out[stage])
    return {"layers": dict(layers), "python": dict(py),
            "stateful_execs": dict(execs), "stateful_rows_out": dict(rows_out)}
