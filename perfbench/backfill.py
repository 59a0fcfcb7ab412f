"""``backfill``: cold ingest of a half-year daily-bar corpus, a no-op rerun,
daily appends, then read-back queries over the landed table.

Drives ``sources.csv_bars.ingest_incremental`` (CSV parse plus the
date-partitioned parquet write) and plain reads of the landed table; the
streaming and plans layers stay idle.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import time
from datetime import date

import gen
from harness import JobCounter, Outcome, median, percentile

CORPUS_START = date(2012, 1, 1)
CORPUS_DAYS = 180
APPEND_START = date(2014, 1, 1)
APPEND_DAYS = 20
APPEND_BATCH = 5  # new days per append run: four batch arrivals
MONTH = ("2012-05-01", "2012-06-01")  # one-month range query, half-open


def _parquet_bytes(table: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(table, "date=*", "*.parquet"))
    return len(files), sum(os.path.getsize(f) for f in files)


def run(ctx) -> Outcome:
    from pyspark.sql import functions as F

    from python_btc_etl_spark.sources import csv_bars

    spark, tr, out = ctx.spark, ctx.tracer, Outcome()
    jobs = JobCounter(spark)
    root = os.path.join(ctx.work_dir, "backfill")
    landing, staging = os.path.join(root, "landing"), os.path.join(root, "staging")
    with tr.span("bench.generate"):
        corpus = gen.write_bar_days(landing, ctx.seed, CORPUS_START, CORPUS_DAYS)
        invalid = gen.write_invalid_bar_files(landing, ctx.seed)
        extra = gen.write_bar_days(staging, ctx.seed, APPEND_START, APPEND_DAYS)
    truth = {**corpus.days, **extra.days}
    # What the cold ingest reads: every valid day plus btcusd-2013-02-30.csv,
    # which matches the name pattern but is no calendar day.
    cold_files = sorted([*corpus.paths.values(), os.path.join(landing, invalid[0])])
    extra_days = sorted(extra.days)
    month_rows = sum(t.rows for d, t in corpus.days.items() if MONTH[0] <= d < MONTH[1])

    cycles: list[dict] = []
    t_start = time.perf_counter()
    while not cycles or (time.perf_counter() - t_start) + cycles[-1]["wall_s"] <= ctx.seconds:
        k = len(cycles)
        table, log = os.path.join(root, f"table{k}"), os.path.join(root, f"log{k}")
        for day in extra_days:  # landing holds only the corpus again
            p = os.path.join(landing, os.path.basename(extra.paths[day]))
            if os.path.exists(p):
                os.remove(p)
        c: dict = {"append_s": []}
        c0 = time.perf_counter()

        with tr.span("csv_bars.ingest_incremental"), jobs.group("ingest_cold") as gid:
            t0 = time.perf_counter()
            res = csv_bars.ingest_incremental(spark, landing, table, log)
            c["cold_s"] = time.perf_counter() - t0
        c["cold_tasks"] = jobs.counts(gid)[1]
        # btcusd-2013-02-30.csv is logged, but none of its rows may land.
        want = (len(cold_files), corpus.rows)
        out.check(res == want, f"cold ingest returned {res}, want {want}")
        c["files_written"], written = _parquet_bytes(table)
        c["rows"] = res[1]

        with tr.span("csv_bars.ingest_incremental"):
            t0 = time.perf_counter()
            res = csv_bars.ingest_incremental(spark, landing, table, log)
            c["noop_s"] = time.perf_counter() - t0
        out.check(res == (0, 0), f"no-op re-ingest returned {res}, want (0, 0)")

        for b in range(0, APPEND_DAYS, APPEND_BATCH):
            batch = extra_days[b : b + APPEND_BATCH]
            for day in batch:
                os.link(extra.paths[day], os.path.join(landing, os.path.basename(extra.paths[day])))
            want = (len(batch), sum(extra.days[d].rows for d in batch))
            with tr.span("csv_bars.ingest_incremental"):
                t0 = time.perf_counter()
                res = csv_bars.ingest_incremental(spark, landing, table, log)
                c["append_s"].append(time.perf_counter() - t0)
            out.check(res == want, f"append returned {res}, want {want}")

        with tr.span("landed.rollup"), jobs.group("rollup") as gid:
            t0 = time.perf_counter()
            rollup = (
                spark.read.parquet(table)
                .groupBy("date")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("volume_btc").alias("vol"),
                    F.min("low_price").alias("lo"),
                    F.max("high_price").alias("hi"),
                )
                .collect()
            )
            c["rollup_s"] = time.perf_counter() - t0
        rollup_tasks = jobs.counts(gid)[1]
        with tr.span("landed.month_range"), jobs.group("month_range") as gid:
            t0 = time.perf_counter()
            month = (
                spark.read.parquet(table)
                .filter((F.col("date") >= MONTH[0]) & (F.col("date") < MONTH[1]))
                .agg(F.count(F.lit(1)).alias("n"), F.avg("close_price").alias("avg_close"))
                .collect()
            )
            c["month_s"] = time.perf_counter() - t0
        month_tasks = jobs.counts(gid)[1]
        c["landed_tasks"] = rollup_tasks + month_tasks
        c["wall_s"] = time.perf_counter() - c0

        with tr.span("bench.check"):
            got = {r["date"].isoformat(): r for r in rollup}
            out.check(set(got) == set(truth), f"landed days {len(got)}, want {len(truth)}")
            bad = [
                d
                for d, t in truth.items()
                if d not in got
                or got[d]["n"] != t.rows
                or not math.isclose(got[d]["vol"] or 0.0, t.volume_btc, rel_tol=1e-9, abs_tol=1e-9)
            ]
            out.check(not bad, f"day count/volume mismatch on {len(bad)} days, e.g. {bad[:3]}")
            out.check(month[0]["n"] == month_rows, f"month range rows {month[0]['n']}, want {month_rows}")
        c["bytes_ratio"] = written / corpus.input_bytes
        cycles.append(c)
        shutil.rmtree(table, ignore_errors=True)
        shutil.rmtree(log, ignore_errors=True)

    if ctx.trace:
        # Scan + transform alone, forced without a write, over the files the
        # cold ingest read and by its explicit-paths route: the share of the
        # cold ingest that is not the partitioned write.
        with tr.span("csv_bars.ingest_bars"):
            t0 = time.perf_counter()
            csv_bars.ingest_bars(spark, landing, paths=cold_files).write.format("noop").mode("overwrite").save()
            out.metrics["csv_bars.scan_transform_s"] = time.perf_counter() - t0

    cold = median(c["cold_s"] for c in cycles)
    appends = [a for c in cycles for a in c["append_s"]]
    samples = [s for c in cycles for s in (c["noop_s"], *c["append_s"], c["rollup_s"], c["month_s"])]
    m = out.metrics
    m["throughput_per_s"] = corpus.rows / cold
    m["latency_p50_ms"] = 1000 * median(samples)
    m["latency_p95_ms"] = 1000 * percentile(samples, 95)
    m["backfill_rows_per_s"] = corpus.rows / cold
    m["reingest_noop_s"] = median(c["noop_s"] for c in cycles)
    m["append_s"] = median(appends)
    m["landed_query_s"] = median(c["rollup_s"] + c["month_s"] for c in cycles)
    m["csv_bars.ingest_cold_s"] = cold
    m["csv_bars.rows_landed"] = median(c["rows"] for c in cycles)
    m["csv_bars.files_written"] = median(c["files_written"] for c in cycles)
    m["csv_bars.bytes_written_per_input_byte"] = median(c["bytes_ratio"] for c in cycles)
    m["csv_bars.tasks"] = median(c["cold_tasks"] for c in cycles)
    m["landed.rollup_s"] = median(c["rollup_s"] for c in cycles)
    m["landed.month_range_s"] = median(c["month_s"] for c in cycles)
    m["landed.tasks"] = median(c["landed_tasks"] for c in cycles)
    out.notes.append(f"cycles={len(cycles)} latency_samples={len(samples)} corpus_rows={corpus.rows}")
    return out
