"""foreachBatch idempotent-sink tests: checkpoint replay of a
micro-batch must not duplicate rows (the exactly-once property the
reference's INSERT + Redis-mark sequence lacks, reference
btc_etl.py:137-147). Inputs are the seeded ``bar_days`` files
(tests/conftest.py)."""

from __future__ import annotations

import shutil
from pathlib import Path

from python_btc_etl_spark.sources.csv_bars import BAR_SCHEMA, ingest_bars, transform_bars
from python_btc_etl_spark.streaming.sinks import batch_partitioned_writer


def _stage(corpus: Path, tmp: Path, names: list[str]) -> Path:
    src = tmp / "incoming"
    src.mkdir(exist_ok=True)
    for n in names:
        shutil.copy(corpus / n, src / n)
    return src


def _drain(spark, src: str, table: str, ckpt: str, per_trigger: int) -> None:
    from python_btc_etl_spark.streaming.file_stream import stream_bars

    bars = stream_bars(spark, src, max_files_per_trigger=per_trigger)
    q = (
        bars.writeStream.foreachBatch(batch_partitioned_writer(table))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_foreach_batch_no_duplicates_across_drains(spark, tmp_path, bar_days):
    files = [
        "btcusd-2012-01-21.csv",
        "btcusd-2012-01-22.csv",
        "btcusd-2012-01-23.csv",
    ]
    src = _stage(bar_days, tmp_path, files[:2])
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    # two files, one per micro-batch → batch_id=0 and 1
    _drain(spark, str(src), table, ckpt, per_trigger=1)
    expected = ingest_bars(spark, str(src)).count()
    got = spark.read.parquet(table)
    assert got.count() == expected > 0
    assert got.select("batch_id").distinct().count() == 2

    # re-drain with nothing new: checkpoint says all consumed, no writes
    _drain(spark, str(src), table, ckpt, per_trigger=1)
    assert spark.read.parquet(table).count() == expected

    # a new file arrives → exactly one new batch partition
    _stage(bar_days, tmp_path, files)
    _drain(spark, str(src), table, ckpt, per_trigger=1)
    assert spark.read.parquet(table).count() == ingest_bars(spark, str(src)).count()


def test_foreach_batch_replay_overwrites_not_appends(spark, tmp_path, bar_days):
    """Simulated replay: calling the writer twice with the SAME batch_id
    (what the checkpoint does after a crash mid-commit) must leave one
    copy of the rows, not two."""
    src = _stage(bar_days, tmp_path, ["btcusd-2012-01-21.csv"])
    table = str(tmp_path / "table")
    writer = batch_partitioned_writer(table)
    batch = ingest_bars(spark, str(src))
    n = batch.count()

    writer(batch, 7)
    writer(batch, 7)  # replay
    got = spark.read.parquet(table)
    assert got.count() == n
    assert got.select("batch_id").distinct().collect()[0][0] == 7
