"""``stream_arrival``: daily files arrive one by one at a fixed rate while
``streaming.file_stream.stream_ingest_daemon`` runs; then a dropped
backlog drains through ``stream_ingest_once``.

Open loop: a generator thread renames pre-written files into the landing
directory on a fixed schedule, whatever the stream is doing. A file's
latency runs from the moment it was due to arrive to the moment this
benchmark sees the commit of the micro-batch that read it, taken from the
checkpoint's ``sources/0/<id>`` and ``commits/<id>`` logs. Each backlog
drain restarts the query on the same checkpoint, so its time includes the
query start.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import date

import gen
from harness import Outcome, median, percentile

RATE_PER_S = 1.5  # half the one-file-per-trigger rate of an idle 4-core host
PRIME_FILES = 8  # untimed: the first micro-batches plan and compile, and warm the JIT
BACKLOG_FILES = 30  # files dropped at once before each availableNow drain
DRAINS = 3
OPEN_START = date(2015, 1, 1)
POLL_S = 0.002
COMMIT_TIMEOUT_S = 60.0


class CheckpointWatcher:
    """Maps each file to the time its micro-batch's commit was first seen."""

    def __init__(self, checkpoint: str):
        self.sources = os.path.join(checkpoint, "sources", "0")
        self.commits = os.path.join(checkpoint, "commits")
        self.committed: dict[str, float] = {}  # basename -> seen time
        self.batch_files: dict[int, int] = {}  # batch id -> files read
        self._seen: set[int] = set()

    def _batch_entries(self, batch: int) -> list[dict]:
        for name in (str(batch), f"{batch}.compact"):
            path = os.path.join(self.sources, name)
            if os.path.exists(path):
                with open(path) as fh:
                    lines = fh.read().splitlines()[1:]  # skip the "v1" header
                return [e for e in map(json.loads, filter(None, lines)) if e["batchId"] == batch]
        raise FileNotFoundError(f"no source log for batch {batch}")

    def poll(self) -> None:
        now = time.perf_counter()
        try:
            names = os.listdir(self.commits)
        except FileNotFoundError:
            return
        for name in names:
            if not name.isdigit() or int(name) in self._seen:
                continue
            batch = int(name)
            entries = self._batch_entries(batch)
            self._seen.add(batch)
            self.batch_files[batch] = len(entries)
            for e in entries:
                self.committed.setdefault(os.path.basename(e["path"]), now)

    def wait_for(self, names, timeout_s: float) -> bool:
        deadline = time.perf_counter() + timeout_s
        while time.perf_counter() < deadline:
            self.poll()
            if all(n in self.committed for n in names):
                return True
            time.sleep(POLL_S)
        return False


def _progress_p50(progress: list[dict], key: str) -> float:
    vals = [p["durationMs"].get(key, 0) for p in progress]
    return median(vals) if vals else 0.0


def run(ctx) -> Outcome:
    from python_btc_etl_spark.streaming import file_stream

    spark, tr, out = ctx.spark, ctx.tracer, Outcome()
    root = os.path.join(ctx.work_dir, "stream")
    landing, staging = os.path.join(root, "landing"), os.path.join(root, "staging")
    table, ckpt = os.path.join(root, "table"), os.path.join(root, "checkpoint")
    n_open = max(1, int(RATE_PER_S * ctx.seconds))
    with tr.span("bench.generate"):
        os.makedirs(landing)
        corpus = gen.write_bar_days(staging, ctx.seed, OPEN_START, PRIME_FILES + n_open + DRAINS * BACKLOG_FILES)
    names = [os.path.basename(corpus.paths[d]) for d in sorted(corpus.paths)]
    n_backlog = DRAINS * BACKLOG_FILES
    prime, arrivals, backlog = names[:PRIME_FILES], names[PRIME_FILES:-n_backlog], names[-n_backlog:]
    watcher = CheckpointWatcher(ckpt)

    def land(name: str) -> None:
        os.rename(os.path.join(staging, name), os.path.join(landing, name))

    due: dict[str, float] = {}
    landed_at: dict[str, float] = {}
    gen_error: list[OSError] = []

    def generator(t0: float) -> None:
        try:
            for i, name in enumerate(arrivals):
                due[name] = t0 + i / RATE_PER_S
                delay = due[name] - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                land(name)
                landed_at[name] = time.perf_counter()
        except OSError as exc:  # reported by the main thread
            gen_error.append(exc)

    query, thread = None, None
    backlog_max = 0
    try:
        with tr.span("file_stream.stream_ingest_daemon"):
            query = file_stream.stream_ingest_daemon(spark, landing, table, ckpt, poll_interval="0 seconds")
            for name in prime:
                land(name)
                out.check(watcher.wait_for([name], COMMIT_TIMEOUT_S), f"priming file {name} never committed")
            primed_batches = set(watcher.batch_files)
            thread = threading.Thread(target=generator, args=(time.perf_counter() + 0.2,), daemon=True)
            thread.start()
            deadline = time.perf_counter() + n_open / RATE_PER_S + COMMIT_TIMEOUT_S
            while time.perf_counter() < deadline:
                watcher.poll()
                arrived = [n for n in arrivals if n in landed_at]
                backlog_max = max(backlog_max, sum(1 for n in arrived if n not in watcher.committed))
                if len(arrived) == len(arrivals) and all(n in watcher.committed for n in arrivals):
                    break
                time.sleep(POLL_S)
            thread.join(timeout=COMMIT_TIMEOUT_S)
            out.check(not thread.is_alive() and not gen_error, f"arrival generator failed: {gen_error}")
            out.check(all(n in watcher.committed for n in arrivals), "not every arrival committed in time")
            progress = query.recentProgress
    finally:
        if query is not None:
            query.stop()
        if thread is not None:
            thread.join(timeout=COMMIT_TIMEOUT_S)

    latencies = [1000 * (watcher.committed[n] - due[n]) for n in arrivals if n in watcher.committed]
    lateness = [1000 * (landed_at[n] - due[n]) for n in arrivals if n in landed_at]
    open_batches = [b for b in watcher.batch_files if b not in primed_batches]
    progress = [p for p in progress if p["batchId"] in open_batches and p["numInputRows"] > 0]

    drain_s, drain_batches = 0.0, 0
    for k in range(DRAINS):
        chunk = backlog[k * BACKLOG_FILES : (k + 1) * BACKLOG_FILES]
        for name in chunk:
            land(name)
        before = set(watcher.batch_files)
        with tr.span("file_stream.stream_ingest_once"):
            t0 = time.perf_counter()
            file_stream.stream_ingest_once(spark, landing, table, ckpt)
            drain_s += time.perf_counter() - t0
        watcher.poll()
        out.check(all(n in watcher.committed for n in chunk), f"backlog {k} not fully committed by its drain")
        drain_batches += len(set(watcher.batch_files) - before)

    with tr.span("bench.check"):
        from pyspark.sql import functions as F

        got = {
            r["date"].isoformat(): r["n"]
            for r in spark.read.parquet(table).groupBy("date").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        want = {d: t.rows for d, t in corpus.days.items()}
        out.check(set(got) == set(want), f"streamed days {len(got)}, want {len(want)}")
        bad = [d for d in want if got.get(d) != want[d]]
        out.check(not bad, f"rows not landed exactly once on {len(bad)} days, e.g. {bad[:3]}")

    m = out.metrics
    out.check(bool(latencies), "no arrival latency samples")
    if latencies:
        m["latency_p50_ms"] = median(latencies)
        m["latency_p95_ms"] = percentile(latencies, 95)
        m["stream_latency_p50_ms"] = m["latency_p50_ms"]
        m["stream_latency_p95_ms"] = m["latency_p95_ms"]
    m["throughput_per_s"] = len(backlog) / drain_s
    m["stream_drain_files_per_s"] = m["throughput_per_s"]
    m["file_stream.batches"] = len(open_batches)
    m["file_stream.files_per_batch_mean"] = (
        sum(watcher.batch_files[b] for b in open_batches) / len(open_batches) if open_batches else 0.0
    )
    m["file_stream.trigger_ms_p50"] = _progress_p50(progress, "triggerExecution")
    m["file_stream.latestOffset_ms_p50"] = _progress_p50(progress, "latestOffset")
    m["file_stream.addBatch_ms_p50"] = _progress_p50(progress, "addBatch")
    m["file_stream.walCommit_ms_p50"] = _progress_p50(progress, "walCommit")
    m["file_stream.commit_ms_p50"] = _progress_p50(progress, "commitOffsets")
    m["file_stream.backlog_files_max"] = backlog_max
    m["file_stream.drain_batches"] = drain_batches / DRAINS
    m["file_stream.generator_late_ms_max"] = max(lateness) if lateness else 0.0
    out.notes.append(
        f"latency_samples={len(latencies)} rate_per_s={RATE_PER_S} "
        f"generator_late_ms_p50={median(lateness) if lateness else 0.0:.2f} "
        f"generator_late_ms_max={max(lateness) if lateness else 0.0:.2f}"
    )
    return out
