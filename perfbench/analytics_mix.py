"""``analytics_mix``: one client runs a fixed list of registry queries back to
back (closed loop) over generated tables.

Each query first runs once untimed and is checked against its DuckDB
oracle with ``tools.selfcheck.check_query``; timed passes then call the
plan function (``build``) and force it with a ``noop`` write (``exec``).
The tables and the oracle results come from a child process
(``oracle.py``), so DuckDB's memory is not in the driver's peak RSS, and
the oracles run while Spark computes its side of the checks. The CSV and
streaming-ingest layers stay idle. Queries that read the reference CSV
corpus are not in the list.

The list covers nine plans modules, and every ``functions`` module through
the queries that call it. It is kept short so that one run, untimed pass
included, stays near a minute.
"""

from __future__ import annotations

import os
import pickle
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

from harness import JobCounter, Outcome, median, percentile

MIX = (
    "ohlcv_daily_vwap",  # timeseries
    "q3_top_orders",  # relational
    "dpp_month_revenue",  # partitioned
    "corr_regression_stats",  # ordered_stats
    "pagerank_trade_graph",  # graph
    "dedup_minhash_lsh",  # dedup
    "knn_bruteforce_cosine",  # similarity
    "ann_recall_ivf",  # similarity
    "text_fingerprint",  # text
    "image_phash_neardup",  # multimodal
)
# functions.* modules have no registry queries of their own; their cost is
# read off the queries that call them.
FUNCTION_ATTRIBUTION = {
    "functions.text": ("text_fingerprint", "dedup_minhash_lsh"),
    "functions.vectors": ("knn_bruteforce_cosine", "ann_recall_ivf"),
    "functions.multimodal": ("image_phash_neardup",),
}
SCALE_FACTOR = 0.01
ORACLE_TIMEOUT_S = 150.0


def metric_prefix(name: str) -> str:
    from python_btc_etl_spark import plans

    module = plans.REGISTRY[name].fn.__module__.rsplit(".", 1)[1]
    return f"plans.{module}.{name}"


class OracleChild:
    """``oracle.py`` running beside the driver, standing in for the DuckDB
    connection ``check_query`` takes.

    ``execute`` waits for that query's result file, so Spark's side of each
    check runs while the oracles of later queries are still computing.
    """

    def __init__(self, sf_dir: str, seed: int, names):
        from python_btc_etl_spark import plans

        self.out_dir = sf_dir + ".oracle"
        os.makedirs(self.out_dir)
        self.name_of = {plans.REGISTRY[n].oracle: n for n in names}
        self.err_path = self.out_dir + ".err"
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle.py")
        with open(self.err_path, "w") as err:
            self.proc = subprocess.Popen(
                [sys.executable, script, sf_dir, str(seed), str(SCALE_FACTOR), self.out_dir, *names],
                stdout=subprocess.PIPE,
                stderr=err,
                text=True,
            )
        if self.proc.stdout.readline().strip() != "ready":
            self.close()
            raise RuntimeError(f"oracle.py failed before the tables were written: {self._err_tail()}")

    def _err_tail(self) -> str:
        with open(self.err_path) as fh:
            return fh.read()[-2000:]

    def execute(self, sql: str) -> SimpleNamespace:
        path = os.path.join(self.out_dir, f"{self.name_of[sql]}.pkl")
        deadline = time.monotonic() + ORACLE_TIMEOUT_S
        while not os.path.exists(path):
            if self.proc.poll() is not None and not os.path.exists(path):
                raise RuntimeError(f"oracle.py exited {self.proc.returncode}: {self._err_tail()}")
            if time.monotonic() > deadline:
                raise TimeoutError(f"no oracle result for {self.name_of[sql]}")
            time.sleep(0.01)
        with open(path, "rb") as fh:
            got = pickle.load(fh)
        if isinstance(got, str):
            raise RuntimeError(got)
        cols, rows = got
        return SimpleNamespace(description=[(c,) for c in cols], fetchall=lambda: rows)

    def close(self) -> float:
        """Wait for the child, killing it if it overruns; its peak RSS in MB."""
        try:
            out, _ = self.proc.communicate(timeout=ORACLE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            out, _ = self.proc.communicate()
        try:
            return float(out.split()[-1])
        except (IndexError, ValueError):
            return float("nan")


def run(ctx) -> Outcome:
    from tools.selfcheck import check_query

    from python_btc_etl_spark.plans.partitioned import month_fact_path

    spark, tr, out = ctx.spark, ctx.tracer, Outcome()
    jobs = JobCounter(spark)
    # Named after all that the tables depend on: plans.partitioned caches a
    # copy of lineitem keyed by this directory's basename.
    sf_dir = os.path.join(ctx.work_dir, f"sf{SCALE_FACTOR}-seed{ctx.seed}")
    fact_dir = month_fact_path(sf_dir)
    fact_existed = os.path.exists(fact_dir)
    try:
        with tr.span("bench.generate"):
            oracle = OracleChild(sf_dir, ctx.seed, MIX)
        # Untimed warm pass: each query runs once and its rows are compared
        # with the oracle's.
        with tr.span("bench.check"):
            try:
                for name in MIX:
                    try:
                        ok, msg = check_query(spark, oracle, name, sf_dir)
                    except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
                        ok, msg = False, f"{type(exc).__name__}: {exc}"
                    out.check(ok, f"{name} vs DuckDB oracle: {msg}")
            finally:
                out.notes.append(f"oracle_child_peak_rss_mb={oracle.close():.0f}")
        _timed_passes(ctx, jobs, sf_dir, out)
    finally:
        if not fact_existed:  # leave the checkout as the run found it
            shutil.rmtree(fact_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(fact_dir))
            except OSError:
                pass
    return out


def _timed_passes(ctx, jobs: JobCounter, sf_dir: str, out: Outcome) -> None:
    from python_btc_etl_spark import plans

    spark, tr = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    runs: dict[str, list[dict]] = {name: [] for name in MIX}
    persisted: list[int] = []
    passes, t_start, last = 0, time.perf_counter(), 0.0
    while passes == 0 or (time.perf_counter() - t_start) + last <= ctx.seconds:
        p0 = time.perf_counter()
        for name in MIX:
            fn = plans.REGISTRY[name].fn
            prefix = metric_prefix(name)
            r: dict = {}
            with jobs.group(name) as gid:
                try:
                    with tr.span(f"{prefix}.build"):
                        t0 = time.perf_counter()
                        df = fn(spark, sf_dir)
                        t1 = time.perf_counter()
                    with tr.span(f"{prefix}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
                    out.check(False, f"{name} timed run: {type(exc).__name__}: {exc}")
                    continue
            out.check(True, name)
            r["build_s"], r["exec_s"] = t1 - t0, t2 - t1
            r["jobs"], r["tasks"] = jobs.counts(gid)
            runs[name].append(r)
            persisted.append(sc._jsc.getPersistentRDDs().size())
        passes += 1
        last = time.perf_counter() - p0

    m = out.metrics
    per_query = {}
    for name, rs in runs.items():
        if not rs:
            continue
        prefix = metric_prefix(name)
        for key in ("build_s", "exec_s", "jobs", "tasks"):
            m[f"{prefix}.{key}"] = median(r[key] for r in rs)
        per_query[name] = median(r["build_s"] + r["exec_s"] for r in rs)
    for layer, names in FUNCTION_ATTRIBUTION.items():
        m[f"{layer}.attributed_s"] = sum(per_query.get(n, 0.0) for n in names)
    total = sum(per_query.values())
    m["analytics_total_s"] = total
    if per_query:
        m["throughput_per_s"] = len(per_query) / total
        m["latency_p50_ms"] = 1000 * median(per_query.values())
        m["latency_p95_ms"] = 1000 * percentile(per_query.values(), 95)
    m["catalog.persisted_rdds_after"] = persisted[-1] if persisted else 0
    m["catalog.persisted_rdds_max"] = max(persisted) if persisted else 0
    out.notes.append(f"passes={passes} queries={len(per_query)}/{len(MIX)} latency_samples={len(per_query)}")
