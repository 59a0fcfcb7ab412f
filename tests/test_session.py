"""Session launch rules, checked on the pure helpers so that no second
JVM starts: the driver heap default (sized from physical RAM, overridable
by ``SPARK_DRIVER_MEMORY``) and the class-data-sharing archive (key,
promotion, plain-launch cases)."""

from __future__ import annotations

import os
import struct
import subprocess
from pathlib import Path

from python_btc_etl_spark import session
from python_btc_etl_spark.session import (
    MIN_DRIVER_MEMORY_MB,
    driver_memory,
    physical_memory_bytes,
)


def _mib(value: str) -> int:
    assert value.endswith("m"), value
    return int(value[:-1])


def test_default_heap_is_below_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    got = _mib(driver_memory())
    assert got >= MIN_DRIVER_MEMORY_MB
    assert got * 2**20 < physical_memory_bytes()


def test_default_heap_is_a_quarter_of_ram_floored(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(physical_bytes=16 * 2**30) == "4096m"
    assert driver_memory(physical_bytes=2 * 2**30) == f"{MIN_DRIVER_MEMORY_MB}m"


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert driver_memory() == "2g"
    assert driver_memory(physical_bytes=2**30) == "2g"


# ------------------------------------------------ class-data-sharing archive


def _fake_jdk(root: Path, version: str = "17.0.9", jvm: bytes = b"jvm") -> Path:
    (root / "lib" / "server").mkdir(parents=True, exist_ok=True)
    (root / "release").write_text(f'JAVA_VERSION="{version}"\n')
    (root / "lib" / "server" / "libjvm.so").write_bytes(jvm)
    return root


def _fake_spark(root: Path, jars: dict[str, bytes]) -> Path:
    (root / "jars").mkdir(parents=True, exist_ok=True)
    for name, body in jars.items():
        (root / "jars" / name).write_bytes(body)
    return root


def _archive_bytes(offset: int = 4096, used: int = 100) -> bytes:
    """A JDK 17 dynamic archive header with one region, and the file it
    describes."""
    head = bytearray(session.CDS_HEADER_BYTES)
    struct.pack_into("<IiI", head, 0, session.CDS_DYNAMIC_MAGIC, 0, 11)
    struct.pack_into("<3Q", head, 16 + 24, offset, 0, used)
    return bytes(head) + bytes(offset + used - len(head))


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def _templates_only(conf: Path) -> Path:
    conf.mkdir(exist_ok=True)
    (conf / "spark-defaults.conf.template").write_text("# spark.master local\n")
    return conf


def test_archive_key_follows_jars_and_jdk(tmp_path):
    jdk = _fake_jdk(tmp_path / "jdk")
    spark_home = _fake_spark(tmp_path / "spark", {"a.jar": b"a"})
    key = session.archive_key(str(jdk), str(spark_home), "4.1.2")
    assert key and key == session.archive_key(str(jdk), str(spark_home), "4.1.2")

    (spark_home / "jars" / "b.jar").write_bytes(b"b")
    with_jar = session.archive_key(str(jdk), str(spark_home), "4.1.2")
    _fake_jdk(jdk, jvm=b"another jvm build")
    with_jdk = session.archive_key(str(jdk), str(spark_home), "4.1.2")
    other_pyspark = session.archive_key(str(jdk), str(spark_home), "4.1.3")
    assert len({key, with_jar, with_jdk, other_pyspark}) == 4

    # The header layout the promotion check reads is JDK 17's.
    _fake_jdk(jdk, version="21.0.2")
    assert session.archive_key(str(jdk), str(spark_home), "4.1.2") is None


def test_conf_dir_in_use_means_plain_launch(tmp_path):
    conf = _templates_only(tmp_path / "conf")
    assert session.plan_archive(str(tmp_path / "cache"), "k" * 16, str(conf)).mode == "train"
    (conf / "spark-defaults.conf").write_text("spark.master local\n")
    assert session.plan_archive(str(tmp_path / "cache2"), "k" * 16, str(conf)) is None


def test_incomplete_dumps_are_never_promoted(tmp_path):
    cache, key = tmp_path / "cache", "k" * 16
    cache.mkdir()
    conf = _templates_only(tmp_path / "conf")
    full = _archive_bytes()
    (cache / f"spark-{key}.{_dead_pid()}.tmp").write_bytes(full[:-1])
    (cache / f"spark-{key}.{_dead_pid()}.tmp").write_bytes(bytes(len(full)))
    plan = session.plan_archive(str(cache), key, str(conf))
    assert plan.mode == "train"
    assert not (cache / f"spark-{key}.jsa").exists()
    assert [p.name for p in cache.glob("*.tmp")] == [os.path.basename(plan.path)]

    os.remove(plan.path)
    (cache / f"spark-{key}.{_dead_pid()}.tmp").write_bytes(full)
    plan = session.plan_archive(str(cache), key, str(conf))
    assert plan.mode == "use" and plan.path == str(cache / f"spark-{key}.jsa")
    assert session.archive_is_complete(plan.path)
    assert not list(cache.glob("*.tmp"))


def test_live_trainer_means_plain_launch(tmp_path):
    cache, key = tmp_path / "cache", "k" * 16
    cache.mkdir()
    (cache / f"spark-{key}.{os.getpid()}.tmp").write_bytes(b"")
    assert session.plan_archive(str(cache), key, str(_templates_only(tmp_path / "conf"))) is None


def test_unwritable_cache_means_plain_launch(tmp_path):
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    conf = _templates_only(tmp_path / "conf")
    assert session.plan_archive(str(blocker / "cache"), "k" * 16, str(conf)) is None


def test_session_jvm_was_launched_as_planned(spark):
    """The pytest session's own JVM, against the options ``get_spark``
    gave it: a used archive is mapped, a training launch dumps to its
    tmp file, and a plain launch carries neither."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        cmdline = fh.read().decode().split("\0")
    options = spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions", "").split()
    used = [o.split("=", 1)[1] for o in options if o.startswith("-XX:SharedArchiveFile=")]
    trained = [o for o in options if o.startswith("-XX:ArchiveClassesAtExit=")]
    if used:
        with open(f"/proc/{pid}/maps") as fh:
            assert used[0] in fh.read()
    elif trained:
        assert trained[0] in cmdline
        assert trained[0].endswith(f".{os.getpid()}.tmp")
    else:
        assert not [a for a in cmdline if "SharedArchiveFile" in a or "ArchiveClassesAtExit" in a]
