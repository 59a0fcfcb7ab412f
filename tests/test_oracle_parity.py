"""Differential tests: every registered query vs its DuckDB oracle at
sf0.001 — the same comparison the driver runs at sf0.01."""

from __future__ import annotations

import os

import pytest

from python_btc_etl_spark import plans
from python_btc_etl_spark.plans.ingest import CORPUS
from tools.selfcheck import check_query, duck_con

from .conftest import SF_SMALL

# Queries whose oracle reads the reference CSV corpus run only where it
# is checked out.
NEEDS_CORPUS = pytest.mark.skipif(
    not os.path.isdir(CORPUS), reason=f"reference corpus {CORPUS} not present"
)


def _oracle_cases() -> list:
    oracles = plans.oracle_sql()
    return [
        pytest.param(name, marks=NEEDS_CORPUS) if CORPUS in oracles[name] else name
        for name in sorted(plans.REGISTRY)
    ]


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF_SMALL)
    yield c
    c.close()


@pytest.mark.parametrize("name", _oracle_cases())
def test_query_matches_oracle(spark, con, name):
    ok, msg = check_query(spark, con, name, SF_SMALL)
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as ep

    df = ep.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"day", "open", "high", "low", "close", "volume", "vwap", "n_trades"}


def test_nonscalar_guard_detects_arrays(spark):
    """The driver's canonicalizer can't hash Array/Map/Struct cells; every
    parity run now rejects such outputs via complex_output_cols (enforced
    inside check_query for all registered queries).  Prove the guard itself
    fires on each complex type and stays quiet on scalars."""
    from tools.selfcheck import complex_output_cols

    df = spark.sql(
        "SELECT 1 AS ok, array(1, 2) AS arr, map('k', 1) AS m, "
        "named_struct('a', 1) AS st"
    )
    assert complex_output_cols(df) == ["arr", "m", "st"]
    assert complex_output_cols(df.select("ok")) == []


def test_registry_contract():
    qs = plans.queries()
    os_ = plans.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20
