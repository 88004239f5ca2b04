"""Engine metrics — the JMX surface of the reference re-expressed as
Spark-native observability (BASELINE.md "engine-side metrics to expose";
reference MBeans: jmx/OraCdcSourceConnMgmt.java:58, names from
doc/JMX-METRICS.adoc:15-105).

Metric names are kept 1:1 with the reference where meaningful:
ParsePerSecond, CommittedTransactionsCount, RolledBackTransactionsCount,
SentRecordsCount, SentBatchesCount, ActualLagSeconds, MaxTransactionSize.

Two collection paths:

* batch — ``observe()``-based: `df.observe(Observation, exprs...)` rides
  the existing job, zero extra passes;
* streaming — a StreamingQueryListener aggregating per-batch progress
  (rows/s, batch duration, state rows).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetrics:
    observation: Observation
    started_at: float

    def results(self) -> dict:
        """Blocks until the observed action completes; adds derived
        rates (ParsePerSecond mirror)."""
        vals = dict(self.observation.get)
        elapsed = max(time.time() - self.started_at, 1e-9)
        n = vals.get("SentRecordsCount", 0) or 0
        vals["ParsePerSecond"] = n / elapsed
        vals["ParseElapsedMillis"] = int(elapsed * 1000)
        return vals


def observe_emission(stamped: DataFrame) -> tuple[DataFrame, BatchMetrics]:
    """Attach emission counters to a commit-stamped change DataFrame.
    Rides the job — no second pass over the data."""
    obs = Observation("oracdc-emission")
    observed = stamped.observe(
        obs,
        F.count(F.lit(1)).alias("SentRecordsCount"),
        # observed metrics forbid DISTINCT aggregates → HLL approximation
        F.approx_count_distinct("xid").alias("CommittedTransactionsCount"),
        F.max("commit_scn").alias("LastCommitScn"),
        F.min("scn").alias("FirstScn"),
        F.max("scn").alias("LastScn"),
    )
    return observed, BatchMetrics(obs, time.time())


@dataclass
class CdcQueryListener(StreamingQueryListener):
    """Streaming-side counters (SentBatchesCount, rows/s, state size)."""

    batches: int = 0
    total_rows: int = 0
    last_rows_per_second: float = 0.0
    state_rows: int = 0
    history: list[dict] = field(default_factory=list)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.batches += 1
        n = p.numInputRows or 0
        self.total_rows += n
        self.last_rows_per_second = p.processedRowsPerSecond or 0.0
        self.state_rows = sum(s.numRowsTotal for s in p.stateOperators)
        self.history.append(
            {
                "SentBatchesCount": self.batches,
                "SentRecordsCount": self.total_rows,
                "ParsePerSecond": self.last_rows_per_second,
                "StateRowsTotal": self.state_rows,
                "batchId": p.batchId,
            }
        )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def snapshot(self) -> dict:
        return {
            "SentBatchesCount": self.batches,
            "SentRecordsCount": self.total_rows,
            "ParsePerSecond": self.last_rows_per_second,
            "StateRowsTotal": self.state_rows,
        }


# ---------------------------------------------------------------------------
# §2.8 last-processed-sequence notifier
# (LastProcessedSeqNotifier.java:34-39, OraCdcLastProcessedSeqFileNotifier)
# ---------------------------------------------------------------------------


class LastProcessedSeqNotifier:
    """Notification contract: called whenever the engine finishes a redo
    sequence (an archived-log file / a micro-batch boundary here)."""

    def configure(self, config: dict) -> None:  # pragma: no cover - default
        pass

    def notify(self, instant: float, sequence: int, message: str | None = None) -> None:
        raise NotImplementedError


class FileSeqNotifier(LastProcessedSeqNotifier):
    """File-appending implementation (the reference's
    `a2.last.sequence.notifier=file` mode): one
    ``<ISO-instant>:<sequence>[:<message>]`` line per completed
    sequence.  Appends synchronously — callers fire it from the
    driver's listener thread, never from executors."""

    def __init__(self, file_name: str | None = None) -> None:
        self.file_name = file_name

    def configure(self, config: dict) -> None:
        self.file_name = config.get("a2.last.sequence.notifier.file", self.file_name)

    def notify(self, instant: float, sequence: int, message: str | None = None) -> None:
        import datetime as dt

        iso = dt.datetime.fromtimestamp(instant, tz=dt.timezone.utc).isoformat()
        line = f"{iso}:{sequence}" + (f":{message}" if message else "")
        with open(self.file_name, "a", encoding="utf-8") as fh:
            fh.write(line + "\n")


@dataclass
class SeqNotifyingListener(CdcQueryListener):
    """CdcQueryListener that also fires the last-seq notifier at each
    micro-batch boundary — batchId plays the redo-sequence role in the
    file-source stand-in (one source file per trigger)."""

    notifier: LastProcessedSeqNotifier | None = None

    def onQueryProgress(self, event) -> None:  # noqa: N802
        super().onQueryProgress(event)
        if self.notifier is not None:
            self.notifier.notify(time.time(), int(event.progress.batchId))
