"""Batch idempotence (D1 parity): the ingestion-log anti-join gives
file-level exactly-once across repeated batch runs — the relational
replacement for the reference's Redis processed-files set
(reference utils.py:24-36). Inputs are the seeded ``bar_days`` files
(tests/conftest.py)."""

from __future__ import annotations

import shutil

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException

from python_btc_etl_spark.sources.csv_bars import (
    ingest_bars,
    ingest_incremental,
    write_bars,
)


def test_batch_ingest_idempotent(spark, tmp_path, bar_days):
    src = tmp_path / "in"
    src.mkdir()
    for n in ["btcusd-2012-03-01.csv", "btcusd-2012-03-02.csv"]:
        shutil.copy(bar_days / n, src / n)
    table = str(tmp_path / "table")
    log = str(tmp_path / "log")

    nf1, nr1 = ingest_incremental(spark, str(src), table, log)
    assert nf1 == 2 and nr1 > 0

    # Re-run: nothing new, nothing written.
    nf2, nr2 = ingest_incremental(spark, str(src), table, log)
    assert (nf2, nr2) == (0, 0)
    assert spark.read.parquet(table).count() == nr1

    # One new file arrives: only it is ingested.
    shutil.copy(bar_days / "btcusd-2012-03-03.csv", src / "btcusd-2012-03-03.csv")
    nf3, nr3 = ingest_incremental(spark, str(src), table, log)
    assert nf3 == 1
    assert spark.read.parquet(table).count() == nr1 + nr3


def test_multimodal_decode_stub():
    import pytest as _pytest

    from python_btc_etl_spark.functions.multimodal import decode_image, fake_decode_features

    with _pytest.raises(NotImplementedError):  # JPEG: genuinely needs libjpeg
        decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 8)
    with _pytest.raises(ValueError):  # PNG signature but empty body
        decode_image(b"\x89PNG\r\n\x1a\n")
    f = fake_decode_features(b"abcd" * 3)
    assert f["n_bytes"] == 12
    assert f["checksum"] == (sum(b"abcd") * 3) % 9973
    assert f["band0"] == ord("a") * 3


def test_write_bars_observed_metrics(spark, tmp_path, bar_days):
    """Observation metrics ride the write plan itself (no second scan):
    rows, distinct days, null-vwap count for the written batch."""
    bars = ingest_bars(spark, str(bar_days), [str(bar_days / "btcusd-2012-01-21.csv")])
    metrics = write_bars(bars, str(tmp_path / "t"))
    assert metrics["n_rows"] == bars.count() > 0
    assert metrics["n_days"] == 1
    assert metrics["n_null_vwap"] == 0


def test_ingest_incremental_missing_landing_dir_raises(spark, tmp_path):
    """A mistyped landing path is an error, not an empty batch."""
    missing = tmp_path / "no_such_dir"
    with pytest.raises(FileNotFoundError, match="no_such_dir"):
        ingest_incremental(spark, str(missing), str(tmp_path / "table"), str(tmp_path / "log"))


def test_ingest_incremental_empty_landing_dir_is_noop(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    assert ingest_incremental(spark, str(src), str(tmp_path / "table"), str(tmp_path / "log")) == (0, 0)


def test_unreadable_ingest_log_raises_and_ingests_nothing(spark, tmp_path, bar_days):
    """A log that exists but cannot be read is an error: the corpus is
    not silently ingested a second time."""
    src = tmp_path / "in"
    src.mkdir()
    for n in ["btcusd-2012-03-01.csv", "btcusd-2012-03-02.csv"]:
        shutil.copy(bar_days / n, src / n)
    table = str(tmp_path / "table")
    log = tmp_path / "log"
    _, rows = ingest_incremental(spark, str(src), table, str(log))
    part = next(log.glob("part-*.parquet"))
    part.write_bytes(b"not a parquet file")
    with pytest.raises((Py4JJavaError, PySparkException)):
        ingest_incremental(spark, str(src), table, str(log))
    assert spark.read.parquet(table).count() == rows
