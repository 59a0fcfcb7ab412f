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
- No file-listing jobs in local mode: for ``local[...]`` masters,
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` is raised
  so that more than 32 input paths (or subdirectories) are listed on the
  driver. Spark otherwise lists them with a job of one task per path,
  which in local mode runs on the driver's own cores anyway. Cluster
  masters keep Spark's default.

Class-data-sharing archive (cold start). Half of a cold driver start is
the JVM loading and verifying Spark's classes. When ``get_spark``
launches the driver JVM, it passes an AppCDS archive of those classes
through ``spark.driver.defaultJavaOptions`` (Spark appends a caller's
``extraJavaOptions`` after it). The rules:

- The archive is keyed on the JDK (its path, ``release`` file and
  ``libjvm.so``), the ``$SPARK_HOME/jars`` listing (names, sizes, mtimes)
  and the pyspark version, and lives in
  ``${XDG_CACHE_HOME:-~/.cache}/python_btc_etl_spark/spark-<key>.jsa``.
  Delete that directory to reset it.
- JDK 17 only: the archive header that ``archive_is_complete`` reads is
  JDK 17's.
- When there is no archive, the launch trains one:
  ``-XX:ArchiveClassesAtExit=spark-<key>.<pid>.tmp``. The JVM writes it
  as it exits, and the process waits for the JVM it launched at
  interpreter exit (after any launch). A later start promotes the file
  with ``os.replace`` only when it is complete (JDK 17 writes the header
  last), and deletes it otherwise. While the process that trains is
  alive, other starts do not train.
- CDS refuses a non-empty directory on the classpath, and Spark puts
  ``$SPARK_CONF_DIR`` (default ``$SPARK_HOME/conf``) there. So the
  archive is used only when that directory holds nothing but
  ``*.template`` files, which Spark never reads; the launch then gets an
  empty conf directory from the cache instead.
- Every other case is a plain launch: another JDK, a conf directory in
  use, launch settings of the caller's (``LAUNCH_ENV``, ``LAUNCH_CONF``),
  a cache directory that cannot be written, or a gateway that is already
  running. An archive the JVM itself refuses (``-Xshare:auto``) is a
  plain start too. CDS logging is off, so the JVM prints no ``[cds]``
  line on stdout.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import json
import os
import re
import shutil
import struct
import subprocess
from dataclasses import dataclass

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

MIN_DRIVER_MEMORY_MB = 1024

# JDK 17 dynamic archive header: magic, crc, version (u4 each, padded to
# 16 bytes), then 7 region records of 72 bytes whose file offset and used
# size (u8) sit 24 and 40 bytes in.
CDS_DYNAMIC_MAGIC = 0xF00BABA8
CDS_REGIONS = 7
CDS_REGION_BYTES = 72
CDS_HEADER_BYTES = 16 + CDS_REGIONS * CDS_REGION_BYTES

# Settings that change the driver's classpath or JVM options; any of them
# means a plain launch.
LAUNCH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "PYSPARK_SUBMIT_ARGS")
LAUNCH_CONF = ("spark.driver.extraClassPath", "spark.driver.defaultJavaOptions")

JVM_EXIT_TIMEOUT_S = 300


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


# ------------------------------------------------ class-data-sharing archive


@dataclass(frozen=True)
class ClassArchive:
    """How the driver JVM launches: ``train`` dumps to ``path`` at exit,
    ``use`` maps the archive at ``path``; both with ``conf_dir`` as
    ``SPARK_CONF_DIR``."""

    mode: str
    path: str
    conf_dir: str

    def java_options(self) -> str:
        if self.mode == "train":
            return f"-XX:ArchiveClassesAtExit={self.path} -Xlog:cds*=off"
        return f"-XX:SharedArchiveFile={self.path} -Xshare:auto -Xlog:cds*=off"


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "python_btc_etl_spark")


def _java_home() -> str | None:
    """The JDK that ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def archive_key(jdk_home: str, spark_home: str, pyspark_version: str) -> str | None:
    """What the archive depends on, hashed; None unless the JDK is 17."""
    try:
        with open(os.path.join(jdk_home, "release")) as fh:
            release = fh.read()
        jvm = os.stat(os.path.join(jdk_home, "lib", "server", "libjvm.so"))
        jars_dir = os.path.join(spark_home, "jars")
        jars = sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns)
            for e in os.scandir(jars_dir)
            if e.name.endswith(".jar")
        )
    except OSError:
        return None
    if not re.search(r'^JAVA_VERSION="17[."]', release, re.M):
        return None
    ident = [os.path.realpath(jdk_home), release, jvm.st_size, jvm.st_mtime_ns]
    ident += [os.path.realpath(spark_home), jars, pyspark_version]
    return hashlib.sha256(json.dumps(ident).encode()).hexdigest()[:16]


def conf_dir_is_templates_only(conf_dir: str) -> bool:
    """True when Spark reads nothing from ``conf_dir`` (absent, or only
    ``*.template`` entries)."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(n.endswith(".template") for n in names)


def archive_is_complete(path: str) -> bool:
    """A JDK 17 dynamic archive whose header is written and whose regions
    all lie inside the file. A truncated archive crashes the JVM (SIGBUS),
    so this is checked before every use."""
    try:
        with open(path, "rb") as fh:
            head = fh.read(CDS_HEADER_BYTES)
            size = os.fstat(fh.fileno()).st_size
    except OSError:
        return False
    if len(head) < CDS_HEADER_BYTES or struct.unpack_from("<I", head)[0] != CDS_DYNAMIC_MAGIC:
        return False
    ends = []
    for i in range(CDS_REGIONS):
        offset, _, used = struct.unpack_from("<3Q", head, 16 + i * CDS_REGION_BYTES + 24)
        if used:
            ends.append(offset + used)
    return bool(ends) and max(ends) <= size


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


def _settle_trained(cache: str, key: str) -> bool:
    """Promote a finished training dump to the archive and delete failed
    ones. True while a live process is still training this key."""
    archive = os.path.join(cache, f"spark-{key}.jsa")
    training = False
    for name in os.listdir(cache):
        m = re.fullmatch(rf"spark-{key}\.(\d+)\.tmp", name)
        if not m:
            continue
        if _alive(int(m.group(1))):
            training = True
            continue
        tmp = os.path.join(cache, name)
        with contextlib.suppress(FileNotFoundError):  # another start took it
            if archive_is_complete(tmp) and not archive_is_complete(archive):
                os.replace(tmp, archive)
            else:
                os.remove(tmp)
    return training


def plan_archive(cache: str, key: str | None, conf_dir: str) -> ClassArchive | None:
    """The archive for the next driver launch, or None for a plain launch."""
    # Spark splits java options on whitespace and quotes.
    if key is None or not os.path.isabs(cache) or re.search(r"[\s\"'\\]", cache):
        return None
    if not conf_dir_is_templates_only(conf_dir):
        return None
    empty_conf = os.path.join(cache, "conf")
    archive = os.path.join(cache, f"spark-{key}.jsa")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        training = _settle_trained(cache, key)
        if archive_is_complete(archive):
            return ClassArchive("use", archive, empty_conf)
        if training:
            return None
        tmp = os.path.join(cache, f"spark-{key}.{os.getpid()}.tmp")
        # Claims the key: other starts see a live trainer and do not train.
        open(tmp, "wb").close()
    except OSError:
        return None
    return ClassArchive("train", tmp, empty_conf)


def _class_archive(extra_conf: dict[str, str]) -> ClassArchive | None:
    from pyspark import __version__
    from pyspark.find_spark_home import _find_spark_home

    if any(os.environ.get(v) for v in LAUNCH_ENV) or set(LAUNCH_CONF) & set(extra_conf):
        return None
    jdk = _java_home()
    spark_home = _find_spark_home()
    key = archive_key(jdk, spark_home, __version__) if jdk else None
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    return plan_archive(cache_dir(), key, conf_dir)


def _await_jvm(proc: subprocess.Popen) -> None:
    """Stop Spark, close the gateway's stdin (the JVM exits on EOF) and
    wait for the JVM, which writes a training archive as it exits, so
    that no JVM outlives this process."""
    from pyspark import SparkContext

    if proc.poll() is not None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


@contextlib.contextmanager
def _spark_conf_dir(path: str | None):
    """``SPARK_CONF_DIR`` is ``path``, when given, for the block."""
    prior = os.environ.get("SPARK_CONF_DIR")
    if path is not None:
        os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if prior is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = prior


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
    from pyspark import SparkContext

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(cpus) if cpus.isdigit() else n
    extra_conf = extra_conf or {}
    launches_jvm = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ

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
    if master.startswith("local"):
        builder = builder.config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    archive = _class_archive(extra_conf) if launches_jvm else None
    if archive is not None:
        builder = builder.config("spark.driver.defaultJavaOptions", archive.java_options())
    with _spark_conf_dir(archive.conf_dir if archive else None):
        spark = builder.getOrCreate()
    if launches_jvm:
        atexit.register(_await_jvm, SparkContext._gateway.proc)
    spark.sparkContext.setLogLevel("WARN")
    return spark
