"""Streaming stateful assembly: micro-batched feed must converge to the
exact batch-operator result (transactions split across micro-batches,
commits arriving after their statements)."""

import tempfile

import pyspark.sql.functions as F
import pytest

from oracdc_spark.feed import change_feed
from oracdc_spark.operators.cdc import apply_changes, commit_ordered
from oracdc_spark.sinks.merge import replica_state
from oracdc_spark.streaming.assembly import assemble_transactions
from oracdc_spark.streaming.pipeline import run_pipeline

SF = "/root/testdata/sf0.001"


def _write_feed_chunks(spark, d: str, n_chunks: int = 4) -> str:
    """Write the feed ordered by scn into n sequential files so commits
    land in later micro-batches than their statements. Stays in Spark so
    the parquet schema survives (pandas would float-ify nullable ints)."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    feed = change_feed(spark, SF)
    w = Window.orderBy("scn", "ssn")
    chunked = feed.withColumn("chunk", F.ntile(n_chunks).over(w))
    feed_dir = f"{d}/feed"
    os.makedirs(feed_dir)
    for i in range(1, n_chunks + 1):
        tmp = f"{d}/stage_{i}"
        chunked.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{feed_dir}/chunk_{i:03d}.parquet")
        shutil.rmtree(tmp)
    return feed_dir


@pytest.mark.slow
def test_streaming_assembly_matches_batch(spark):
    with tempfile.TemporaryDirectory() as d:
        feed_dir = _write_feed_chunks(spark, d)
        from oracdc_spark.streaming.pipeline import FEED_DDL

        stream = (
            spark.readStream.schema(FEED_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        out = assemble_transactions(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("assembled")
            .option("checkpointLocation", f"{d}/ckpt")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

        got = {
            (r.xid, r.scn, r.ssn, r.op, r.pk, r.totalprice, r.status, r.commit_scn)
            for r in spark.sql("SELECT * FROM assembled").collect()
        }
        expected = {
            (r.xid, r.scn, r.ssn, r.op, r.pk, r.totalprice, r.status, r.commit_scn)
            for r in commit_ordered(change_feed(spark, SF)).collect()
        }
        assert got == expected


@pytest.mark.slow
def test_end_to_end_pipeline_replica(spark):
    with tempfile.TemporaryDirectory() as d:
        feed_dir = _write_feed_chunks(spark, d, n_chunks=3)
        q = run_pipeline(spark, feed_dir, f"{d}/replica", f"{d}/ckpt2")
        q.processAllAvailable()
        q.stop()
        got = {
            (r.pk, r.totalprice, r.status)
            for r in replica_state(spark, f"{d}/replica").collect()
        }
        expected = {
            (r.pk, r.totalprice, r.status)
            for r in apply_changes(change_feed(spark, SF)).collect()
        }
        assert got == expected



def _feed_row(xid, scn, op, pk=None, changed_cols="TOTALPRICE,STATUS"):
    """One FEED_DDL row on SCOTT.ORDERS; control records carry no pk."""
    dml = pk is not None
    return (
        scn, 0, f"1.{scn}.0", xid, op, False, "SCOTT", "ORDERS",
        f"R{pk}" if dml else None, pk, 10.0 * pk if dml else None,
        "O" if dml else None, None, None, 0, changed_cols if dml else "",
    )


def _write_feed_file(spark, d: str, rows) -> str:
    """All rows in ONE parquet file, so one trigger reads them all."""
    from oracdc_spark.streaming.pipeline import FEED_DDL

    feed_dir = f"{d}/feed"
    spark.createDataFrame(rows, FEED_DDL).coalesce(1).write.parquet(feed_dir)
    return feed_dir


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# XID A commits inside the file; XIDs B and C stay open
_ONE_COMMITTED_TWO_OPEN = [
    _feed_row("A", 10, 1, pk=1),
    _feed_row("B", 11, 1, pk=2),
    _feed_row("C", 12, 1, pk=3),
    _feed_row("A", 13, 7),
]


@pytest.mark.parametrize("mode", ["replicate", "audit_trail"])
def test_pipeline_assembles_each_batch_once(spark, mode):
    """Every sink job reads the persisted batch, so the stateful assembly
    runs once per trigger.  Each execution of the assembly adds to the
    state operator's progress counters, so they are exact only then:
    two open transactions kept, one committed transaction removed.  The
    persisted batch is released when the sink returns."""
    spark.catalog.clearCache()
    with tempfile.TemporaryDirectory() as d:
        feed_dir = _write_feed_file(spark, d, _ONE_COMMITTED_TWO_OPEN)
        q = run_pipeline(
            spark, feed_dir, f"{d}/replica", f"{d}/ckpt",
            max_files_per_trigger=10, mode=mode,
        )
        q.processAllAvailable()
        q.stop()
        [progress] = [p for p in q.recentProgress if "addBatch" in p["durationMs"]]
        state = progress["stateOperators"][0]
        assert state["numRowsTotal"] == 2
        assert state["numRowsUpdated"] == 2
        assert state["numRowsRemoved"] == 1
        assert _cache_is_empty(spark)

        rows = replica_state(spark, f"{d}/replica").collect()
        assert {(r.pk, r.totalprice, r.status) for r in rows} == {(1, 10.0, "O")}
        if mode == "audit_trail":
            assert {
                (r.version, r.valid_from_scn, r.valid_to_scn, r.is_deleted, r.is_current)
                for r in rows
            } == {(1, 13, None, 0, 1)}


def test_pipeline_failed_sink_releases_batch(spark):
    """A sink that raises still releases the persisted batch: a strict
    completeness failure (a committed INSERT whose changed columns lack
    STATUS) fails the query and leaves nothing cached."""
    spark.catalog.clearCache()
    with tempfile.TemporaryDirectory() as d:
        feed_dir = _write_feed_file(
            spark, d,
            [_feed_row("A", 10, 1, pk=1, changed_cols="TOTALPRICE"), _feed_row("A", 13, 7)],
        )
        q = run_pipeline(
            spark, feed_dir, f"{d}/replica", f"{d}/ckpt",
            max_files_per_trigger=10, strict_completeness=True,
        )
        with pytest.raises(Exception, match="IncompleteRowError"):
            q.processAllAvailable()
        q.stop()
        assert _cache_is_empty(spark)


class _FakeState:
    """Duck-typed GroupState for driving assemble_fn directly."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None


def _run_assemble(rows, state=None):
    import pandas as pd

    from oracdc_spark.streaming.assembly import _STMT_FIELDS, assemble_fn

    state = state or _FakeState()
    pdf = pd.DataFrame(rows, columns=_STMT_FIELDS)
    out = list(assemble_fn(("A",), iter([pdf]), state))
    return (pd.concat(out) if out else None), state


def _stmt(scn, ssn, op, rollback=False, pk=1):
    return {
        "scn": scn, "ssn": ssn, "rba": f"1.{scn}.{ssn}", "op": op,
        "rollback": rollback, "owner": "SCOTT", "table_name": "ORDERS",
        "row_id": f"R{pk}", "pk": pk, "totalprice": 1.0, "status": "O",
        "before_totalprice": None, "before_status": None,
        "changed_cols": "TOTALPRICE,STATUS",
    }


def test_assemble_fn_sorts_arrival_order():
    """Shuffled arrival within a micro-batch (no intra-group order after
    the xid exchange): pairing and control handling must follow redo
    (scn, ssn) order, not arrival order."""
    rows = [
        _stmt(20, 0, 7),                      # commit arrives FIRST
        _stmt(11, 2, 3, rollback=True),       # marker before its original
        _stmt(11, 1, 3),                      # original (cancelled)
        _stmt(10, 0, 1),
    ]
    out, state = _run_assemble(rows)
    assert not state.exists
    assert list(out["scn"]) == [10]
    assert list(out["commit_scn"]) == [20]


def test_assemble_fn_commit_then_reused_xid():
    """A COMMIT mid-batch finalizes the transaction; later DML on the
    reused xid starts a NEW open transaction (buffered, not stamped with
    the earlier commit)."""
    rows = [
        _stmt(30, 0, 1, pk=2),                # next txn on reused xid
        _stmt(10, 0, 1),
        _stmt(20, 0, 7),                      # commit between them in scn order
    ]
    out, state = _run_assemble(rows)
    assert list(out["scn"]) == [10]
    assert state.exists                       # scn=30 stays buffered
    out2, state = _run_assemble([_stmt(40, 0, 7)], state)
    assert list(out2["scn"]) == [30]
    assert list(out2["commit_scn"]) == [40]
    assert not state.exists


class _FakeListState:
    """Duck-typed ListState for driving TxnAssemblyProcessor directly."""

    def __init__(self):
        self._rows = []

    def get(self):
        return iter(self._rows)

    def put(self, rows):
        self._rows = list(rows)

    def clear(self):
        self._rows = []


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getListState(self, name, schema):
        return self.states.setdefault(name, _FakeListState())


def _run_tws(rows, handle=None):
    import pandas as pd

    from oracdc_spark.streaming.assembly import (
        _STMT_FIELDS,
        TxnAssemblyProcessor,
    )

    if TxnAssemblyProcessor is None:
        pytest.skip("transformWithStateInPandas API absent (Spark < 4)")
    handle = handle or _FakeHandle()
    proc = TxnAssemblyProcessor()
    proc.init(handle)
    pdf = pd.DataFrame(rows, columns=_STMT_FIELDS)
    out = list(proc.handleInputRows(("A",), iter([pdf]), None))
    return (pd.concat(out) if out else None), handle


def test_tws_processor_semantics_match_assemble_fn():
    """The StatefulProcessor variant shares _replay with assemble_fn;
    drive it through a fake handle (the real runtime needs protobuf,
    absent here) and check the same sort/pair/commit-reuse semantics."""
    rows = [
        _stmt(20, 0, 7),                      # commit arrives first
        _stmt(11, 2, 3, rollback=True),       # marker before its original
        _stmt(11, 1, 3),                      # original (cancelled)
        _stmt(10, 0, 1),
        _stmt(30, 0, 1, pk=2),                # next txn on reused xid
    ]
    out, handle = _run_tws(rows)
    assert list(out["scn"]) == [10]
    assert list(out["commit_scn"]) == [20]
    # scn=30 buffered in ListState for the reused xid
    assert handle.states["stmts"]._rows
    out2, handle = _run_tws([_stmt(40, 0, 7)], handle)
    assert list(out2["scn"]) == [30]
    assert list(out2["commit_scn"]) == [40]
    assert not handle.states["stmts"]._rows
    assert not handle.states["rb_markers"]._rows


@pytest.mark.slow
def test_tws_assembly_matches_batch(spark):
    """transformWithStateInPandas variant (ListState) must converge to
    the same result as the batch operators and the applyInPandasWithState
    path.  The runtime needs google.protobuf (not shipped in this
    container) — skipped when absent; the processor logic itself is
    covered by the shared-_replay unit tests."""
    pytest.importorskip("google.protobuf")
    from oracdc_spark.streaming.assembly import assemble_transactions_tws
    from oracdc_spark.streaming.pipeline import FEED_DDL

    with tempfile.TemporaryDirectory() as d:
        feed_dir = _write_feed_chunks(spark, d)
        stream = (
            spark.readStream.schema(FEED_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        out = assemble_transactions_tws(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("assembled_tws")
            .option("checkpointLocation", f"{d}/ckpt_tws")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

        got = {
            (r.xid, r.scn, r.ssn, r.op, r.pk, r.totalprice, r.status, r.commit_scn)
            for r in spark.sql("SELECT * FROM assembled_tws").collect()
        }
        expected = {
            (r.xid, r.scn, r.ssn, r.op, r.pk, r.totalprice, r.status, r.commit_scn)
            for r in commit_ordered(change_feed(spark, SF)).collect()
        }
        assert got == expected
