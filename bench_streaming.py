#!/usr/bin/env python3
"""Streaming CDC throughput: feed → per-XID stateful assembly → MERGE
replica, micro-batched. Prints one JSON line with rows/s (the
reference's ParsePerSecond figure, measured, not just defined)."""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_chunks = int(os.environ.get("SPARK_GRAFT_STREAM_CHUNKS", "4"))

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from oracdc_spark.feed import change_feed
    from oracdc_spark.session import get_spark
    from oracdc_spark.streaming.pipeline import run_pipeline

    spark = get_spark("oracdc-stream-bench")
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory() as d:
        feed = change_feed(spark, sf_dir)
        n_rows = feed.count()
        chunked = feed.withColumn(
            "chunk", F.ntile(n_chunks).over(Window.orderBy("scn", "ssn"))
        )
        feed_dir = f"{d}/feed"
        os.makedirs(feed_dir)
        for i in range(1, n_chunks + 1):
            tmp = f"{d}/s{i}"
            chunked.filter(F.col("chunk") == i).drop("chunk").coalesce(4).write.parquet(tmp)
            for j, part in enumerate(sorted(glob.glob(f"{tmp}/part-*.parquet"))):
                shutil.move(part, f"{feed_dir}/c{i:02d}_{j}.parquet")
            shutil.rmtree(tmp)

        # Steady-state protocol (r9 verdict item 7 — the ab_drift
        # treatment for the streaming number): the single-run reading
        # spanned a 22-31k rows/s band across rounds, too wide to gate
        # regressions.  One UNTIMED warm run absorbs the fresh JVM's C2
        # compilation of the stateful assembly + MERGE stages (exactly
        # bench.py's isolated-probe warm pass), then `repeats` timed
        # runs against fresh replica/checkpoint dirs; the MEDIAN is the
        # longitudinal number and the run list + spread stay in the
        # output so host noise is auditable instead of misread as
        # regression.
        repeats = int(os.environ.get("SPARK_GRAFT_STREAM_REPEATS", "3"))
        from oracdc_spark.sinks.merge import replica_state

        def _one_run(tag: str) -> tuple[float, int, int]:
            t0 = time.time()
            q = run_pipeline(
                spark,
                feed_dir,
                f"{d}/replica_{tag}",
                f"{d}/ckpt_{tag}",
                max_files_per_trigger=4,
            )
            q.processAllAvailable()
            q.stop()
            elapsed = time.time() - t0
            rows = replica_state(spark, f"{d}/replica_{tag}").count()
            # the query's own progress log, not a listener: the listener
            # bus is asynchronous and may not have delivered every event
            # by the time the query stops; a trigger that ran the sink
            # reports an addBatch duration
            batches = sum("addBatch" in p["durationMs"] for p in q.recentProgress)
            return elapsed, rows, batches

        _one_run("warm")  # untimed
        runs = [_one_run(f"t{i}") for i in range(repeats)]
        # statistics.median, not sorted[len//2]: the latter picks the
        # upper-middle value, so an even repeat count (e.g. REPEATS=2)
        # would report the SLOWEST run and bias the longitudinal rows/s
        # number low (r10 ADVICE item 4)
        median = statistics.median(r[0] for r in runs)
        replica_rows = runs[0][1]
        assert all(r[1] == replica_rows for r in runs), "nondeterministic replica"
        # batch counts are NOT asserted equal: although the file list is
        # identical, the number of triggers depends on how many files the
        # source discovers per poll, which races with processing speed
        # (observed: the same protocol yields 1 or 2 batches run-to-run).
        # Report the full per-run list instead of the first run's count
        # dressed up as common (r10 ADVICE item 4, labeling variant).
        micro_batches = [r[2] for r in runs]

    rates = [round(n_rows / e, 1) for e, _, _ in runs]
    rate = round(n_rows / median, 1)
    # MECHANICAL floor (r10 verdict item 6): the documented idle-host
    # steady-state is ≈36k rows/s with ~3% protocol spread; 30k is the
    # regression floor SCALING.md pins.  A breach exits non-zero so a
    # regression is a red build, not a note a human must read.  Set
    # SPARK_GRAFT_STREAM_FLOOR=0 to disable on known-noisy hosts.
    floor = float(os.environ.get("SPARK_GRAFT_STREAM_FLOOR", "30000"))
    print(
        json.dumps(
            {
                "metric": "streaming CDC end-to-end (assembly+merge) throughput",
                "value": rate,
                "unit": "rows/sec",
                "protocol": "median of %d steady-state runs after 1 warm run" % repeats,
                "run_rows_per_sec": rates,
                "spread_pct": round(
                    100.0 * (max(rates) - min(rates)) / min(rates), 1
                ),
                "feed_rows": n_rows,
                "replica_rows": replica_rows,
                "elapsed_sec_median": round(median, 2),
                "micro_batches_per_run": micro_batches,
                "sf_dir": sf_dir,
                "floor_rows_per_sec": floor,
                "floor_ok": rate >= floor,
            }
        )
    )
    if rate < floor:
        print(
            "FLOOR BREACH: %.1f rows/s < %.0f rows/s steady-state floor"
            % (rate, floor),
            file=sys.stderr,
        )
        sys.exit(1)


if __name__ == "__main__":
    main()
