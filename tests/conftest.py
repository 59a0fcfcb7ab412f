from __future__ import annotations

import os
import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_btc_etl_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"

BAR_HEADER = "Time,Open,High,Low,Close,Volume_(BTC),Volume_(Currency),Weighted_Price"
BAR_DAY_NAMES = [
    f"btcusd-{d}.csv"
    for d in (
        "2012-01-21",
        "2012-01-22",
        "2012-01-23",
        "2012-03-01",
        "2012-03-02",
        "2012-03-03",
        "2013-06-01",
    )
]
BAR_SEED = 20120121
EMPTY_MINUTE_SHARE = 0.3


def write_bar_day(path: Path, rng: random.Random) -> None:
    """One daily bar file in the reference shape (PAPER.md §1.1): the
    header, then exactly 1440 minute rows, each either fully populated or
    fully empty (``HH:MM:00,,,,,,,``) — never partly null."""
    price = rng.uniform(4.0, 12.0)
    lines = [BAR_HEADER]
    for minute in range(1440):
        t = f"{minute // 60:02d}:{minute % 60:02d}:00"
        # the first minute of each day is empty, so every file has one
        if minute == 0 or rng.random() < EMPTY_MINUTE_SHARE:
            lines.append(t + ",,,,,,,")
            continue
        o = price
        c = max(0.01, o * (1.0 + rng.gauss(0.0, 0.002)))
        hi = max(o, c) * (1.0 + rng.uniform(0.0, 0.001))
        lo = min(o, c) * (1.0 - rng.uniform(0.0, 0.001))
        vwap = rng.uniform(lo, hi)
        vol = rng.expovariate(1.0 / 5.0)
        lines.append(
            f"{t},{o:.2f},{hi:.2f},{lo:.2f},{c:.2f},{vol:.8f},{vol * vwap:.8f},{vwap:.8f}"
        )
        price = c
    path.write_text("\n".join(lines) + "\n")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def bar_days(tmp_path_factory) -> Path:
    """A directory of seeded daily bar files named ``BAR_DAY_NAMES``."""
    d = tmp_path_factory.mktemp("bar_days")
    for name in BAR_DAY_NAMES:
        write_bar_day(d / name, random.Random(f"{BAR_SEED}-{name}"))
    return d
