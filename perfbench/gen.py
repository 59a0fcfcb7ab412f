"""Seeded input generators for the benchmark.

Every generator takes the workload seed and writes its files under a
directory the caller owns; the same seed always yields byte-identical
files. Nothing here reads data from outside that directory.

- ``write_bar_days``: daily ``btcusd-YYYY-MM-DD.csv`` minute-bar files in
  the reference corpus layout (header + 1440 ``HH:MM:SS`` rows, seven
  value columns). Some minutes are all-null (dropped by the ingest),
  some rows are partially null (they must survive).
- ``write_invalid_bar_files``: files the ingest must skip: a name with an
  impossible calendar date, a malformed name and a non-``btcusd`` CSV.
- ``write_analytics_tables``: the ten parquet tables the registry queries
  read (``catalog.TABLES``), with the column types, value domains and
  distributions of the repository's test tables: the TPC-H-ish star
  schema plus ``events`` (exponential ``value``, Poisson arrivals),
  ``documents`` (a 31-word vocabulary, ``en``-heavy languages and ~5%
  planted near-duplicates) and ``embeddings`` (unit-norm Gaussian).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

BAR_HEADER = "Time,Open,High,Low,Close,Volume_(BTC),Volume_(Currency),Weighted_Price"
MINUTES = [f"{m // 60:02d}:{m % 60:02d}:00" for m in range(1440)]
NULL_MINUTE_SHARE = 0.25
PARTIAL_NULL_SHARE = 0.005


@dataclass
class DayTruth:
    """What the ingest must land for one generated day."""

    rows: int = 0  # rows with at least one value (all-null minutes drop)
    volume_btc: float = 0.0  # sum of the non-null Volume_(BTC) cells


@dataclass
class BarCorpus:
    days: dict[str, DayTruth] = field(default_factory=dict)  # "YYYY-MM-DD" -> truth
    paths: dict[str, str] = field(default_factory=dict)  # "YYYY-MM-DD" -> file path
    input_bytes: int = 0

    @property
    def rows(self) -> int:
        return sum(t.rows for t in self.days.values())


def bar_filename(day: date) -> str:
    return f"btcusd-{day.isoformat()}.csv"


def _day_table(rng: np.random.Generator, price: float) -> tuple[pa.Table, DayTruth, float]:
    steps = rng.normal(0.0, 0.002, 1440)
    close = price * np.exp(np.cumsum(steps))
    open_ = np.concatenate(([price], close[:-1]))
    spread = np.abs(rng.normal(0.0, 0.001, 1440)) * close
    high = np.maximum(open_, close) + spread
    low = np.minimum(open_, close) - spread
    vol = rng.gamma(1.5, 2.0, 1440)
    wp = (open_ + close + high + low) / 4.0
    cols = np.stack([open_, high, low, close, vol, vol * wp, wp], axis=1)
    cols[:, :4] = np.round(cols[:, :4], 2)
    cols[:, 4:6] = np.round(cols[:, 4:6], 4)
    cols[:, 6] = np.round(cols[:, 6], 2)
    cols[rng.random(1440) < NULL_MINUTE_SHARE] = np.nan
    partial = rng.random(1440) < PARTIAL_NULL_SHARE
    cols[partial, 1 + rng.integers(0, 6, int(partial.sum()))] = np.nan
    # pyarrow writes each double in its shortest round-trip form, so the
    # CSV parser reads back exactly these values.
    vol_cells = cols[:, 4]
    truth = DayTruth(
        rows=int((~np.isnan(cols)).any(axis=1).sum()),
        volume_btc=float(vol_cells[~np.isnan(vol_cells)].sum()),
    )
    arrays = [pa.array(MINUTES)] + [pa.array(cols[:, j], from_pandas=True) for j in range(7)]
    return pa.Table.from_arrays(arrays, names=BAR_HEADER.split(",")), truth, float(close[-1])


def _write_csv(table: pa.Table, path: str) -> int:
    with open(path, "wb") as fh:
        fh.write(BAR_HEADER.encode() + b"\n")
        pacsv.write_csv(table, fh, pacsv.WriteOptions(include_header=False, quoting_style="none"))
        return fh.tell()


def write_bar_days(directory: str, seed: int, start: date, n_days: int) -> BarCorpus:
    """Write ``n_days`` consecutive daily files starting at ``start``."""
    os.makedirs(directory, exist_ok=True)
    corpus = BarCorpus()
    rng = np.random.default_rng([seed, start.toordinal()])
    price = float(rng.uniform(4.0, 12.0))
    for i in range(n_days):
        day = start + timedelta(days=i)
        table, truth, price = _day_table(rng, price)
        path = os.path.join(directory, bar_filename(day))
        corpus.input_bytes += _write_csv(table, path)
        corpus.days[day.isoformat()] = truth
        corpus.paths[day.isoformat()] = path
    return corpus


def write_invalid_bar_files(directory: str, seed: int) -> list[str]:
    """Files whose rows must never land: ``btcusd-2013-02-30.csv`` passes
    the name pattern but is no calendar day, ``btcusd-2013-1-5.csv`` fails
    the pattern and ``notes.csv`` lacks the prefix."""
    rng = np.random.default_rng([seed, 0])
    table, _, _ = _day_table(rng, 10.0)
    names = ["btcusd-2013-02-30.csv", "btcusd-2013-1-5.csv", "notes.csv"]
    for name in names:
        _write_csv(table, os.path.join(directory, name))
    return names


# --------------------------------------------------------- analytics tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.44, 0.14, 0.14, 0.14]
EVENT_VALUE_MEAN = 50.0
NEAR_DUP_SHARE = 0.05  # documents that copy an earlier one with a one-word edit
SOURCES = 20
EMBED_DIM = 64


DAY_US = 86_400_000_000


def _timestamps(rng: np.random.Generator, n: int, start: str, days: int, sort: bool = False) -> pa.Array:
    """Midnights of random days, or (``sort``) ascending random instants."""
    base = np.datetime64(start, "us").astype(np.int64)
    if sort:
        offs = np.sort(rng.integers(0, days * DAY_US, n))
    else:
        offs = rng.integers(0, days, n).astype(np.int64) * DAY_US
    return pa.array(base + offs, pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Texts of 10-99 words drawn uniformly from ``WORDS``. A share of the
    documents from the second quarter on copy an earlier one (possibly a
    copy itself) with the last word dropped or ``dup`` appended: the
    near-duplicate pairs the dedup queries must find."""
    words = np.asarray(WORDS, dtype=object)
    texts = [list(words[rng.integers(0, len(WORDS), n)]) for n in rng.integers(10, 100, n_docs)]
    copies = rng.choice(np.arange(n_docs // 4, n_docs), int(n_docs * NEAR_DUP_SHARE), replace=False)
    for t in np.sort(copies):
        src = texts[int(rng.integers(0, t))]
        texts[t] = src[:-1] if rng.random() < 0.5 else src + ["dup"]
    return [" ".join(t) for t in texts]


def write_analytics_tables(directory: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write ``<table>.parquet`` for every ``catalog.TABLES`` entry at scale
    factor ``sf`` (row counts follow the TPC-H ratios: 150k customers,
    1.5M orders, 6M line items per unit). Returns rows per table."""
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vecs = int(15_000 * sf), int(50_000 * sf), int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _timestamps(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": _pick(rng, ORDER_PRIORITIES, n_ord),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _timestamps(rng, n_line, "1995-01-02", 2498),
        }
    )
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": _timestamps(rng, n_ev, "2024-01-01", 30, sort=True),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(EVENT_VALUE_MEAN, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _documents(rng, n_docs)
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": pa.array(rng.choice(np.asarray(LANGS, dtype=object), n_docs, p=LANG_WEIGHTS)),
            "source": [f"src{i % SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.normal(size=(n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMBED_DIM).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
