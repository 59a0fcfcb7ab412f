"""Streaming-path tests: checkpointed exactly-once ingest with
incremental file arrival (the reference's watcher semantics,
reference btc_etl.py:185-228, minus its partial-file and re-read
races), and batch-equivalence of the streamed transform. Bar inputs are
the seeded ``bar_days`` files (tests/conftest.py)."""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import functions as F

from python_btc_etl_spark.sources.csv_bars import ingest_bars
from python_btc_etl_spark.streaming.file_stream import stream_ingest_once


def _stage(corpus: Path, tmp: Path, names: list[str]) -> Path:
    src = tmp / "incoming"
    src.mkdir(exist_ok=True)
    for n in names:
        shutil.copy(corpus / n, src / n)
    return src


def test_stream_ingest_exactly_once_incremental(spark, tmp_path, bar_days):
    files1 = ["btcusd-2012-01-21.csv", "btcusd-2012-01-22.csv"]
    files2 = ["btcusd-2012-01-23.csv"]
    src = _stage(bar_days, tmp_path, files1)
    table = str(tmp_path / "bars_table")
    ckpt = str(tmp_path / "ckpt")

    stream_ingest_once(spark, str(src), table, ckpt)
    n1 = spark.read.parquet(table).count()
    batch1 = ingest_bars(spark, str(src)).count()
    assert n1 == batch1 > 0

    # New file arrives; re-drain. Only the new file is processed (the
    # checkpoint file log replaces the reference's Redis seen-set).
    _stage(bar_days, tmp_path, files2)
    stream_ingest_once(spark, str(src), table, ckpt)
    n2 = spark.read.parquet(table).count()
    batch_all = ingest_bars(spark, str(src)).count()
    assert n2 == batch_all

    # Third drain with nothing new: no duplicate rows (exactly-once).
    stream_ingest_once(spark, str(src), table, ckpt)
    assert spark.read.parquet(table).count() == batch_all


def test_stream_ingest_daemon_picks_up_files_across_batches(spark, tmp_path, bar_days):
    """The forever-watcher mode (reference btc_etl.py:185-198): start the
    processingTime-trigger daemon, drop files while it is LIVE, and check
    it ingests them across ≥2 micro-batches without restart; then stop
    via the returned handle and confirm exactly-once totals."""
    import time

    from python_btc_etl_spark.streaming.file_stream import stream_ingest_daemon

    src = _stage(bar_days, tmp_path, ["btcusd-2012-01-21.csv"])
    table = str(tmp_path / "bars_table")
    ckpt = str(tmp_path / "ckpt")

    q = stream_ingest_daemon(
        spark, str(src), table, ckpt, poll_interval="200 milliseconds"
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not q.recentProgress:
            time.sleep(0.2)
        # Second file arrives while the daemon is live — a later
        # micro-batch must pick it up (no restart, no re-listing races).
        _stage(bar_days, tmp_path, ["btcusd-2012-01-22.csv"])
        expected = ingest_bars(spark, str(src)).count()
        while time.time() < deadline:
            try:
                if spark.read.parquet(table).count() == expected:
                    break
            except Exception:
                pass  # table dir may not exist until the first commit
            time.sleep(0.3)
        batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        assert batches >= 2, q.recentProgress
    finally:
        q.stop()
        q.awaitTermination(30)
    assert spark.read.parquet(table).count() == expected


def test_transform_with_state_user_stats(spark):
    """transformWithStateInPandas (typed ValueState + MapState) vs the
    batch aggregate. SKIPPED where the protobuf package is missing —
    PySpark's transformWithState driver worker requires it; the operator
    is implemented and runs unchanged on a cluster that has protobuf."""
    import pytest

    from python_btc_etl_spark.streaming.stateful import (
        _tws_available,
        run_user_stats_tws,
    )

    if not _tws_available():
        pytest.skip("protobuf not installed: transformWithState bridge unavailable")

    import pyspark.sql.functions as F

    from python_btc_etl_spark.catalog import load

    sf = "/root/testdata/sf0.001"
    got = run_user_stats_tws(spark, sf, glob="events.parquet")
    expected = (
        load(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.max("value").alias("max_value"),
        )
        .orderBy("user_id")
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_stateful_lifetime_stats_across_microbatches(spark, tmp_path):
    """Cross-batch state continuity: split events into 3 files, drain with
    maxFilesPerTrigger=1 (3 micro-batches), and check the final per-user
    state equals the single-shot batch aggregate — i.e., state genuinely
    persists and folds across micro-batch boundaries."""
    import pyspark.sql.functions as F

    from python_btc_etl_spark.catalog import load
    from python_btc_etl_spark.streaming.stateful import run_user_lifetime_stats

    events = load(spark, "/root/testdata/sf0.001", "events")
    src = tmp_path / "events_split"
    events.repartition(3).write.parquet(str(src))

    got = run_user_lifetime_stats(
        spark, str(src), max_files_per_trigger=1, glob="*.parquet"
    )
    expected = (
        events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "total_value"
            ),
            F.max("value").alias("max_value"),
        )
        .orderBy("user_id")
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_stream_transform_matches_batch(spark, tmp_path, bar_days):
    src = _stage(bar_days, tmp_path, ["btcusd-2013-06-01.csv"])
    table = str(tmp_path / "t2")
    ckpt = str(tmp_path / "c2")
    stream_ingest_once(spark, str(src), table, ckpt)
    streamed = spark.read.parquet(table).select(
        "date_time", "open_price", "close_price", "volume_btc"
    )
    batch = ingest_bars(spark, str(src)).select(
        "date_time", "open_price", "close_price", "volume_btc"
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_agg_state_recovers_across_query_restart(spark, tmp_path, bar_days):
    """AGGREGATION STATE recovery, not just source offsets: drain batch A
    into a grouped count, STOP the query, deliver batch B (same grouping
    key, different file), and start a brand-new query on the same
    checkpoint with a fresh sink. The new sink sees only batch-B
    updates — so the updated count can only be correct if the state
    store restored batch A's partial count from the checkpoint."""
    import shutil

    from python_btc_etl_spark.streaming.file_stream import stream_bars

    name = "btcusd-2012-01-21.csv"
    a = tmp_path / "src" / "a"
    b = tmp_path / "src" / "b"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    shutil.copy(bar_days / name, a / name)
    src_glob = str(tmp_path / "src" / "*")
    ckpt = str(tmp_path / "ckpt")

    out = str(tmp_path / "updates")

    def drain() -> None:
        counts = (
            stream_bars(spark, src_glob)
            .groupBy(F.to_date("date_time").alias("day"))
            .count()
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            counts.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    per_file = ingest_bars(spark, str(a)).count()
    got1 = spark.read.parquet(out).agg({"count": "max"}).collect()[0][0]
    assert got1 == per_file > 0

    # same-date file lands in a sibling dir → same aggregation key
    shutil.copy(bar_days / name, b / name)
    drain()  # BRAND-NEW query object, same checkpoint
    got2 = spark.read.parquet(out).agg({"count": "max"}).collect()[0][0]
    assert got2 == 2 * per_file


def test_stream_harness_returns_are_executor_held(spark):
    """Round-12 collect-free contract: the stream harnesses return
    DataFrames backed by an executor-held localCheckpoint (Scan
    ExistingRDD), never a driver-built LocalRelation from collected
    rows — no O(corpus) output transits the driver."""
    from tests.conftest import SF_SMALL

    from python_btc_etl_spark.plans.stream import (
        stream_foreach_batch_partials,
    )

    df = stream_foreach_batch_partials(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert "LocalTableScan" not in plan, plan
    assert df.count() > 0  # and it is still fully readable post-rmtree
