"""SparkSession factory tuned for this engine.

Scale notes (100 TB / 1000-executor design, tested on local[N]):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion/promotion replace hand-tuned partition counts when the
  same plans run on a real cluster.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a cluster it should be ~2-3x total cores, and AQE coalesces down.
- Session timezone pinned to UTC: the reference writes naive local
  datetimes into a TIMESTAMPTZ column (reference btc_etl.py:163,74); we
  make the UTC assumption explicit so results are reproducible and
  comparable against the DuckDB oracle (UTC-naive timestamps).
- Arrow enabled: every Pandas-UDF boundary (dedup/multimodal paths) moves
  columnar batches, not pickled rows.
- Driver heap sized to the machine: ``spark.driver.memory`` is
  ``$SPARK_DRIVER_MEMORY`` when set, else a quarter of physical RAM
  (``os.sysconf``), floored at 1 GiB. The JVM's resident size runs well
  past its heap (off-heap buffers, metaspace, Python workers beside it),
  so a heap near RAM size gets the driver OOM-killed on a small machine.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

MIN_DRIVER_MEMORY_MB = 1024


def physical_memory_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_memory(physical_bytes: int | None = None) -> str:
    """The ``spark.driver.memory`` value: ``SPARK_DRIVER_MEMORY`` when set,
    else a quarter of physical RAM in MiB, at least ``MIN_DRIVER_MEMORY_MB``."""
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    if physical_bytes is None:
        physical_bytes = physical_memory_bytes()
    return f"{max(MIN_DRIVER_MEMORY_MB, physical_bytes // 4 // 2**20)}m"


def get_spark(
    app_name: str = "python_btc_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores when
    unset). On a real cluster, pass ``master=None`` with a spark-submit
    managed session; every config below remains valid.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(cpus) if cpus.isdigit() else n

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read the raw int64 and let the
        # catalog convert to microsecond timestamps (values are
        # micro-precision; DuckDB truncates the same way).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp[us]-no-tz parquet columns must read as session-UTC
        # TIMESTAMP, not TIMESTAMP_NTZ — NTZ forbids epoch arithmetic and
        # watermarking, and the DuckDB oracle compares under UTC anyway.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
