"""Tests of the benchmark itself: seeded inputs, span arithmetic, the
metric list, and that a run leaves no process behind.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import filecmp
import json
import os
import shutil
import subprocess
import sys
import uuid
from datetime import date

import pytest

import gen
import harness
from harness import RUN_TAG_ENV, Span, Tracer

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)


def test_bar_corpus_is_seeded_and_truth_matches_the_files(tmp_path):
    a = gen.write_bar_days(str(tmp_path / "a"), 5, date(2012, 3, 1), 4)
    b = gen.write_bar_days(str(tmp_path / "b"), 5, date(2012, 3, 1), 4)
    c = gen.write_bar_days(str(tmp_path / "c"), 6, date(2012, 3, 1), 4)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == [f"btcusd-2012-03-0{d}.csv" for d in range(1, 5)]
    assert all(filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False) for n in names)
    assert not filecmp.cmp(tmp_path / "a" / names[0], tmp_path / "c" / names[0], shallow=False)
    partial = 0
    for day, path in a.paths.items():
        with open(path, newline="") as fh:
            rows = list(csv.reader(fh))
        assert rows[0] == gen.BAR_HEADER.split(",")
        assert len(rows) == 1441
        values = [r[1:] for r in rows[1:]]
        kept = [v for v in values if any(v)]
        partial += sum(1 for v in kept if not all(v))
        assert len(kept) == a.days[day].rows < 1440
        assert sum(float(v[4]) for v in kept if v[4]) == pytest.approx(a.days[day].volume_btc, rel=1e-12)
    assert partial > 0


def test_analytics_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    rows = gen.write_analytics_tables(str(tmp_path / "a"), 3, 0.001)
    gen.write_analytics_tables(str(tmp_path / "b"), 3, 0.001)
    from python_btc_etl_spark.catalog import TABLES

    assert set(rows) == set(TABLES)
    for t in TABLES:
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert ta.num_rows == rows[t] > 0


def test_documents_match_the_test_tables_shape(tmp_path):
    """Sources cycle with doc_id, and about 5% of the documents copy an
    earlier one with a one-word edit at the end, as in the test tables."""
    import pyarrow.parquet as pq

    gen.write_analytics_tables(str(tmp_path), 8, 0.01)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    assert [d["source"] for d in docs[:21]] == [f"src{i % 20}" for i in range(21)]
    assert all(d["n_chars"] == len(d["text"]) for d in docs)
    texts = [d["text"].split() for d in docs]
    copies = 0
    for i, words in enumerate(texts):
        earlier = texts[:i]
        copies += any(words == w[:-1] or words == w + ["dup"] for w in earlier)
    assert copies == int(len(docs) * gen.NEAR_DUP_SHARE)


def test_oracle_child_answers_like_duckdb(tmp_path):
    from analytics_mix import OracleChild
    from tools.selfcheck import duck_con

    from python_btc_etl_spark import plans

    names = ["q3_top_orders", "knn_bruteforce_cosine"]
    sf_dir = str(tmp_path / "sf")
    child = OracleChild(sf_dir, 2, names)
    try:
        got = {n: child.execute(plans.REGISTRY[n].oracle) for n in names}
    finally:
        rss = child.close()
    assert child.proc.returncode == 0 and rss > 0
    con = duck_con(sf_dir)
    for n in names:
        res = con.execute(plans.REGISTRY[n].oracle)
        assert [d[0] for d in got[n].description] == [d[0] for d in res.description]
        assert got[n].fetchall() == res.fetchall()


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(enabled=True)
    tr.spans = [
        Span("bench.run", 0.0, 10.0, None, "t"),
        Span("csv_bars.ingest", 1.0, 4.0, 0, "t"),
        Span("landed.rollup", 3.0, 6.0, 0, "t"),  # overlaps its sibling
        Span("plans.x.build", 2.0, 3.0, 1, "t"),
    ]
    assert tr.self_times() == pytest.approx({"bench": 5.0, "csv_bars": 2.0, "landed": 3.0, "plans": 1.0})


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("bench.run"):
        pass
    assert tr.spans == []


def test_percentile_is_nearest_rank():
    vals = list(range(1, 21))
    assert harness.percentile(vals, 50) == 10
    assert harness.percentile(vals, 95) == 19
    assert harness.percentile(vals, 100) == 20
    assert harness.percentile([7.0], 95) == 7.0


def test_benchmark_json_names_every_mix_query():
    from analytics_mix import FUNCTION_ATTRIBUTION, MIX, metric_prefix

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {m["name"] for m in spec["per_layer"]}
    for q in MIX:
        for key in ("build_s", "exec_s", "jobs", "tasks"):
            assert f"{metric_prefix(q)}.{key}" in names
    for q in (q for qs in FUNCTION_ATTRIBUTION.values() for q in qs):
        assert q in MIX
    assert [w["name"] for w in spec["workloads"]] == ["backfill", "stream_arrival", "analytics_mix"]


def _run(args, cwd, env=None, timeout=180):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_run_leaves_no_process_behind():
    tag = uuid.uuid4().hex
    env = {**os.environ, RUN_TAG_ENV: tag}
    p = _run(["--workload", "stream_arrival", "--seed", "3", "--seconds", "2", "--trace", "1"], REPO, env)
    assert p.returncode == 0, p.stderr[-3000:]
    assert harness.tagged_pids(tag) == []
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert result["metrics"]["file_stream.batches"]["value"] >= 1
    assert result["metrics"]["plans.graph.pagerank_trade_graph.exec_s"]["value"] == 0.0


def test_run_without_the_package_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "backfill", "--seed", "1", "--seconds", "1", "--trace", "0"], str(tmp_path), timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
