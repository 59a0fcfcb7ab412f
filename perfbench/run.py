"""Benchmark entry point.

    python3 perfbench/run.py --workload {backfill,stream_arrival,analytics_mix}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. It generates the workload's inputs from the
seed under ``.perfbench/``, starts one tuned Spark session, runs the
workload, checks its outputs, stops every process it started and prints,
as the last line, ``{"correct", "attempted", "failed", "metrics"}``: the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. The line before it carries every
measured value by name, the session settings and the check notes.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import traceback
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORKLOADS = ("backfill", "stream_arrival", "analytics_mix")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def warmup(spark, work_dir: str) -> None:
    """First parquet write and read, and the Python worker pool."""
    path = os.path.join(work_dir, "warmup.parquet")
    spark.range(1000).selectExpr("id", "id * 0.5 AS x").write.parquet(path)
    spark.read.parquet(path).count()
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").count()


@dataclass
class Ctx:
    """What a workload's ``run`` receives."""

    spark: object
    tracer: object
    work_dir: str
    seed: int
    seconds: float
    trace: bool


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [BENCH_DIR, REPO]
    try:
        import pyspark  # noqa: F401

        import python_btc_etl_spark  # noqa: F401
        import tools.selfcheck  # noqa: F401

        spec = load_spec()
    except (ImportError, OSError) as exc:
        print(f"perfbench: cannot run from {os.getcwd()}: {exc}", file=sys.stderr)
        return 2

    import harness

    # Spark's Python workers import the package from the checkout too.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    base = os.path.join(REPO, ".perfbench")
    work_dir = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    settings = harness.fit_box(work_dir)
    tracer = harness.Tracer(enabled=bool(args.trace))
    session = harness.BenchSession(work_dir, tracer)
    workload = importlib.import_module(args.workload)
    try:
        with tracer.span("bench.run"):
            session.start(lambda spark: warmup(spark, work_dir))
            ctx = Ctx(session.spark, tracer, work_dir, args.seed, args.seconds, bool(args.trace))
            outcome = workload.run(ctx)
            rss = session.peak_rss_mb()
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        session.stop()
        shutil.rmtree(work_dir, ignore_errors=True)

    m = outcome.metrics
    m["setup_s"] = session.setup_s
    m["driver_peak_rss_mb"] = rss
    m["failed_ops_ratio"] = outcome.failed / max(1, outcome.attempted)
    m["session.get_spark_s"] = session.get_spark_s
    m["session.warmup_s"] = session.warmup_s
    if args.trace:
        for layer, secs in tracer.self_times().items():
            m[f"self_s.{layer}"] = secs
        m["trace.spans"] = len(tracer.spans)
        m["trace.overhead_s"] = len(tracer.spans) * tracer.span_cost_s()
        tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    # Every end-to-end metric must be measured; a per-layer metric the
    # workload never reaches reads 0 below.
    missing = [] if args.trace else [w["name"] for w in wanted if w["name"] not in m]
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "settings": settings,
                "notes": outcome.notes,
                "measured": {k: m[k] for k in sorted(m)},
            }
        )
    )
    if missing:
        print(f"perfbench: run produced no value for {missing}", file=sys.stderr)
        return 1
    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {w["name"]: {"value": float(m.get(w["name"], 0.0)), "unit": w["unit"]} for w in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
