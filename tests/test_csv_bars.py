"""Reference truth-table parity tests for the CSV bar ingest, ported
from the reference's unit suite (reference tests/unit/utils_test.py
filename truth table; tests/unit/btc_etl_test.py pipeline semantics)
onto tiny real files — no mocks, the actual Spark path.
"""

from __future__ import annotations

from datetime import date, datetime, timedelta
from pathlib import Path

import pytest

from python_btc_etl_spark.sources.csv_bars import ingest_bars, read_bars

HEADER = "Time,Open,High,Low,Close,Volume_(BTC),Volume_(Currency),Weighted_Price"


def _write(d: Path, name: str, rows: list[str]) -> None:
    (d / name).write_text("\n".join([HEADER, *rows]) + "\n")


# Truth table from reference tests/unit/utils_test.py:13-24 — valid iff
# `btcusd-` prefix + exact YYYY-MM-DD + `.csv`, real calendar date.
FILENAME_CASES = [
    ("btcusd-2012-01-21.csv", True),
    ("btcusd-2012-1-21.csv", False),  # wrong width
    ("btcusd-2012-01-21.txt", False),  # wrong suffix
    ("ethusd-2012-01-21.csv", False),  # wrong prefix
    ("btcusd-2012-13-41.csv", False),  # impossible date
    ("btcusd-.csv", False),
    ("2012-01-21.csv", False),
]


@pytest.mark.parametrize("name,valid", FILENAME_CASES)
def test_filename_validation(spark, tmp_path, name, valid):
    _write(tmp_path, name, ["00:00:00,1,2,0.5,1.5,10,15,1.5"])
    got = ingest_bars(spark, str(tmp_path)).count()
    assert (got == 1) == valid


def test_all_null_rows_dropped_partial_kept(spark, tmp_path):
    # dropna(how='all') semantics (reference btc_etl.py:160): fully-empty
    # rows go, partially-filled rows SURVIVE.
    _write(
        tmp_path,
        "btcusd-2012-01-21.csv",
        [
            "00:00:00,1,2,0.5,1.5,10,15,1.5",
            "00:01:00,,,,,,,",  # all-null -> dropped
            "00:02:00,2,,,,,,",  # partial -> kept
        ],
    )
    rows = ingest_bars(spark, str(tmp_path)).orderBy("date_time").collect()
    assert len(rows) == 2
    assert rows[1].open_price == 2.0 and rows[1].high_price is None


def test_timestamp_assembly(spark, tmp_path):
    # P1 (reference btc_etl.py:163): date from filename + HH:MM:SS column.
    _write(tmp_path, "btcusd-2013-02-28.csv", ["23:59:00,1,1,1,1,1,1,1"])
    row = ingest_bars(spark, str(tmp_path)).collect()[0]
    assert row.date_time == datetime(2013, 2, 28, 23, 59, 0)


def test_rename_and_projection(spark, tmp_path):
    _write(tmp_path, "btcusd-2012-01-21.csv", ["00:00:00,1,2,0.5,1.5,10,15,1.5"])
    df = ingest_bars(spark, str(tmp_path))
    assert df.columns == [
        "date_time",
        "open_price",
        "high_price",
        "low_price",
        "close_price",
        "volume_btc",
        "volume_currency",
        "weighted_price",
    ]
    row = df.collect()[0]
    assert (row.open_price, row.high_price, row.volume_currency) == (1.0, 2.0, 15.0)


def test_invalid_time_rows_dropped(spark, tmp_path):
    _write(
        tmp_path,
        "btcusd-2012-01-21.csv",
        ["00:00:00,1,1,1,1,1,1,1", "not-a-time,2,2,2,2,2,2,2"],
    )
    assert ingest_bars(spark, str(tmp_path)).count() == 1


def test_read_bars_explicit_paths(spark, tmp_path):
    _write(tmp_path, "btcusd-2012-01-21.csv", ["00:00:00,1,1,1,1,1,1,1"])
    _write(tmp_path, "btcusd-2012-01-22.csv", ["00:00:00,2,2,2,2,2,2,2"])
    one = read_bars(spark, str(tmp_path), paths=[str(tmp_path / "btcusd-2012-01-22.csv")])
    assert one.count() == 1
    assert read_bars(spark, str(tmp_path), paths=[]).count() == 0


def test_explicit_paths_start_no_listing_job(spark, tmp_path):
    """More than 32 explicit paths are listed on the driver in local mode
    (``get_spark`` raises the parallel-discovery threshold): building the
    plan starts no job until an action runs."""
    paths = []
    for day in range(40):
        name = f"btcusd-{date(2012, 1, 1) + timedelta(days=day)}.csv"
        _write(tmp_path, name, ["00:00:00,1,2,0.5,1.5,10,15,1.5"])
        paths.append(str(tmp_path / name))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group):
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return tracker.getJobIdsForGroup(group)

    sc.setJobGroup("listing-build", "ingest_bars plan")
    try:
        df = ingest_bars(spark, str(tmp_path), paths=paths)
        assert jobs("listing-build") == []
        sc.setJobGroup("listing-action", "ingest_bars count")
        assert df.count() == 40
        assert jobs("listing-action")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
