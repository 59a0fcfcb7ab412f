"""Session lifetime, tracing and measurement helpers shared by the workloads.

The benchmark drives the package only through its public functions; this
module owns everything around those calls:

- ``fit_box``: the environment the session reads (core count from the CPU
  affinity mask, driver memory below physical RAM, scratch dirs inside the
  checkout), applied before the JVM starts.
- ``BenchSession``: ``session.get_spark`` plus warm-up, timed from process
  start, and a teardown that waits until the JVM and every process it
  started have exited.
- ``Tracer``: in-memory spans recorded around the benchmark's own calls
  into each layer, written out at the end, with per-layer self time.
- ``JobCounter``: jobs and tasks of one call, read from ``statusTracker``
  through a job group per call.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

RUN_TAG_ENV = "PERFBENCH_RUN_TAG"
DRIVER_MEM_CAP_MB = 2048
JVM_EXIT_TIMEOUT_S = 60.0


# --------------------------------------------------------------- environment


def physical_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_box(work_dir: str) -> dict:
    """Set the variables ``session.get_spark`` and the JVM read, and tag the
    environment so every process started from here can be found again.

    ``SPARK_GRAFT_CPUS`` defaults the session to ``local[*]`` when unset and
    ``SPARK_DRIVER_MEMORY`` to 32g, which exceeds small machines; both are
    pinned here (the heap to a quarter of RAM, at most 2 GiB) and returned
    so the run can report them.
    """
    cpus = len(os.sched_getaffinity(0))
    mem_mb = max(1024, min(DRIVER_MEM_CAP_MB, physical_mem_mb() // 4))
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault(RUN_TAG_ENV, uuid.uuid4().hex)
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEMORY": f"{mem_mb}m"}


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _ancestors() -> set[int]:
    pids, pid = set(), os.getpid()
    while pid > 1:
        pids.add(pid)
        with open(f"/proc/{pid}/stat") as fh:
            pid = int(fh.read().rsplit(")", 1)[1].split()[1])
    return pids


def tagged_pids(tag: str) -> list[int]:
    """Live processes whose environment carries ``tag``, other than this
    process and its ancestors."""
    needle = f"{RUN_TAG_ENV}={tag}".encode()
    skip = _ancestors()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in skip:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                env = fh.read().split(b"\0")
            with open(f"/proc/{name}/stat") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if needle in env and state != "Z":
            found.append(int(name))
    return found


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# ------------------------------------------------------------------- tracing


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: str


@dataclass
class Tracer:
    """Spans around the benchmark's calls into the package.

    Disabled tracers record nothing, so the same workload code runs with
    and without tracing. A span's layer is its name up to the first dot.
    """

    enabled: bool
    trace_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.trace_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the union of the
        intervals its children cover, summed by layer."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    covered += (cur_end - cur_start) if cur_end is not None else 0.0
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - covered
        return out

    @staticmethod
    def span_cost_s(n: int = 2000) -> float:
        """Measured cost of recording one span, on a throwaway tracer."""
        probe = Tracer(enabled=True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "trace": s.trace}
                    for s in self.spans
                ],
                fh,
            )


# ---------------------------------------------------------- job/task counts


class JobCounter:
    """Jobs and completed tasks of one call, through a job group per call.

    Jobs submitted from helper threads the package starts itself do not
    inherit the group and are not counted.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, gid: str) -> tuple[int, int]:
        # Job and stage status arrives through the listener bus; drain it
        # so the tracker has seen every job the call ran.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        return len(jobs), tasks


# ------------------------------------------------------------------ session


class BenchSession:
    """The tuned session plus warm-up, and a teardown that leaves no process
    behind."""

    def __init__(self, work_dir: str, tracer: Tracer):
        self.work_dir = work_dir
        self.tracer = tracer
        self.spark = None
        self.get_spark_s = 0.0
        self.warmup_s = 0.0
        self.setup_s = 0.0

    def start(self, warmup) -> None:
        """``get_spark`` then ``warmup(spark)``; ``setup_s`` runs from process
        start to the end of warm-up."""
        from python_btc_etl_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            # A fixed-size heap: a growable one resizes at GC-timing-dependent
            # moments and made peak RSS vary by a third between runs.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{os.environ['SPARK_DRIVER_MEMORY']}"
            ),
        }
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        with self.tracer.span("session.warmup"):
            warmup(self.spark)
        t2 = time.perf_counter()
        self.get_spark_s, self.warmup_s = t1 - t0, t2 - t1
        self.setup_s = process_age_s()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        pid = self.jvm_pid()
        return peak_rss_mb([os.getpid()] + ([pid] if pid else []))

    def stop(self) -> None:
        """Stop Spark, close the gateway and wait for the JVM to exit; then
        wait for (and if need be kill) anything else carrying the run tag."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                # The gateway JVM exits when its stdin closes.
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
            SparkContext._gateway = None
            SparkContext._jvm = None
        reap_tagged()


def reap_tagged(timeout_s: float = 20.0) -> None:
    """Wait until no process carrying this run's tag is alive; kill stragglers."""
    tag = os.environ.get(RUN_TAG_ENV)
    if not tag:
        return
    deadline = time.monotonic() + timeout_s
    while True:
        pids = tagged_pids(tag)
        if not pids:
            return
        if time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)


# ------------------------------------------------------------------ results


@dataclass
class Outcome:
    """What a workload measured. ``metrics`` maps metric names from
    BENCHMARK.json (and extra reported names) to values; ``checks`` counts
    output checks and operations, failed ones included."""

    metrics: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED: {what}")


# ---------------------------------------------------------------- statistics


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no values")
    k = max(0, min(len(vals) - 1, int(-(-q * len(vals) // 100)) - 1))
    return float(vals[k])
