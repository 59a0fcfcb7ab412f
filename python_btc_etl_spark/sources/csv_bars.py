"""Reference-parity OHLCV CSV ingest, Spark-first.

Re-expresses the reference pipeline (reference btc_etl.py:104-182 +
utils.py:5-36) as one declarative scan→filter→project plan that Catalyst
collapses into a single WholeStageCodegen stage — no threads, no
row-at-a-time UDF, no Redis:

- S1/S2 directory scan + CSV parse  → ``spark.read.csv`` with an explicit
  schema and ``pathGlobFilter`` (no pandas dtype inference; at 100 TB
  schema inference would re-read every file).
- F1/F2 filename validation + date  → ``input_file_name()`` +
  ``regexp_extract`` + ``to_date`` (invalid dates → null → filtered),
  replacing ``is_valid_filename``/``extract_date_from_filename``
  (reference utils.py:5-21).
- F3 all-null row filter            → ``na.drop(how='all', subset=...)``
  — identical semantics to ``df.dropna(subset=..., how='all')``
  (reference btc_etl.py:160): rows with *some* values survive.
- P1 timestamp assembly             → ``to_timestamp(concat_ws(' ',
  file_date, Time))`` — a codegen'd expression replacing the per-row
  ``datetime.combine`` lambda (reference btc_etl.py:163).
- P2/P3 rename + ordered projection → ``select(...alias...)``
  (reference btc_etl.py:166-176).
- W1/W2 sink + time partitioning    → date-partitioned parquet append,
  the Spark analogue of a Timescale hypertable chunked on ``date_time``
  (reference btc_etl.py:72-101). Partition pruning on read is free.
- D1 idempotence                    → an ingestion-log anti-join at the
  *file list* level (driver-side metadata diff, like the Structured
  Streaming file-source checkpoint), replacing the Redis
  ``processed_files`` set (reference utils.py:24-36).

Scale notes: one input file ≙ one (or more) input splits; a 100 TB
corpus parallelizes by file count × maxPartitionBytes. The only shuffle
in the whole pipeline is the optional write-side repartition by date to
get one output file per partition directory.
"""

from __future__ import annotations

import os
from glob import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# In-file schema: header `Time,Open,High,Low,Close,Volume_(BTC),
# Volume_(Currency),Weighted_Price` (reference dataset-test/*.csv line 1).
VALUE_COLUMNS = (
    "Open",
    "High",
    "Low",
    "Close",
    "Volume_(BTC)",
    "Volume_(Currency)",
    "Weighted_Price",
)
BAR_SCHEMA = T.StructType(
    [T.StructField("Time", T.StringType(), True)]
    + [T.StructField(c, T.DoubleType(), True) for c in VALUE_COLUMNS]
)

# Mirrors is_valid_filename (reference utils.py:5-15): `btcusd-` prefix,
# exactly `YYYY-MM-DD`, `.csv` suffix. Calendar validity is enforced by
# to_date() returning null (e.g. 2012-02-30).
FILENAME_PATTERN = r"btcusd-(\d{4}-\d{2}-\d{2})\.csv$"

RENAME = {
    "Open": "open_price",
    "High": "high_price",
    "Low": "low_price",
    "Close": "close_price",
    "Volume_(BTC)": "volume_btc",
    "Volume_(Currency)": "volume_currency",
    "Weighted_Price": "weighted_price",
}
OUTPUT_COLUMNS = ("date_time", *RENAME.values())


def read_bars(spark: SparkSession, directory: str, paths: list[str] | None = None) -> DataFrame:
    """Scan the daily-bar CSV corpus with an explicit schema.

    Adds ``source_file`` (full path) and ``file_date`` (parsed from the
    filename; null ⇒ invalid name, row dropped — F1/F2 semantics).
    """
    reader = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")  # X2: corrupt rows null out, never kill the job
        .schema(BAR_SCHEMA)
    )
    if paths is None:
        df = reader.option("pathGlobFilter", "btcusd-*.csv").csv(directory)
    else:
        if not paths:
            return spark.createDataFrame([], read_bars(spark, directory, None).schema)
        df = reader.csv(paths)
    return (
        df.withColumn("source_file", F.input_file_name())
        .withColumn(
            "file_date",
            # try_to_date: unmatched/invalid names yield null (dropped
            # below) instead of failing the job under ANSI mode — the
            # tolerant-validation semantics of reference utils.py:5-15.
            F.try_to_date(F.regexp_extract(F.input_file_name(), FILENAME_PATTERN, 1), "yyyy-MM-dd"),
        )
        .filter(F.col("file_date").isNotNull())
    )


def transform_bars(df: DataFrame) -> DataFrame:
    """F3 + P1 + P2 + P3: null-row filter, timestamp assembly, rename,
    ordered projection. Pure narrow transformations — no shuffle."""
    return (
        df.na.drop(how="all", subset=list(VALUE_COLUMNS))
        .withColumn(
            "date_time",
            F.try_to_timestamp(
                F.concat_ws(" ", F.date_format("file_date", "yyyy-MM-dd"), F.col("Time")),
                F.lit("yyyy-MM-dd HH:mm:ss"),
            ),
        )
        .filter(F.col("date_time").isNotNull())  # F4-adjacent: unparseable Time dropped
        .select(
            F.col("date_time"),
            *[F.col(src).alias(dst) for src, dst in RENAME.items()],
        )
    )


def ingest_bars(spark: SparkSession, directory: str, paths: list[str] | None = None) -> DataFrame:
    """EP2 end-to-end as one lazy plan: scan → validate → filter → project."""
    return transform_bars(read_bars(spark, directory, paths))


def write_bars(df: DataFrame, table_path: str, mode: str = "append") -> dict:
    """W1/W2: append into a date-partitioned parquet table — the hypertable
    analogue. One output file per day via a date-keyed repartition (the
    pipeline's only shuffle; at scale this also bounds small-file count).

    Returns write metrics via ``Observation`` (rows written, distinct
    days, null weighted prices) — collected from the executed plan
    itself, no second pass over the data. The in-flight quality gate
    the reference's blind INSERT lacks (reference btc_etl.py:179-180).
    """
    from pyspark.sql import Observation

    obs = Observation("write_bars")
    out = df.withColumn("date", F.col("date_time").cast("date")).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        # observe() forbids DISTINCT aggregates; the HLL sketch is exact
        # at day-cardinalities and is the scale-correct choice anyway.
        F.approx_count_distinct("date").alias("n_days"),
        F.count(F.when(F.col("weighted_price").isNull(), 1)).alias("n_null_vwap"),
    )
    out.repartition("date").write.mode(mode).partitionBy("date").parquet(table_path)
    return obs.get


def _list_valid_files(directory: str) -> list[str]:
    import re

    rx = re.compile(FILENAME_PATTERN)
    return sorted(p for p in glob(os.path.join(directory, "*.csv")) if rx.search(os.path.basename(p)))


def ingest_incremental(
    spark: SparkSession, directory: str, table_path: str, log_path: str
) -> tuple[int, int]:
    """D1: idempotent batch ingest. File-level exactly-once via an
    ingestion-log anti-join, replacing the reference's Redis set
    (reference utils.py:24-36; call sites btc_etl.py:115,130,144,219).

    The diff happens on the file *list* via a distributed left-anti join
    against the ingest log — the log itself is never collected to the
    driver (at 100 TB the log holds millions of entries; only THIS
    batch's new-file list, which must reach the reader anyway, ever
    materializes driver-side). Returns (n_new_files, n_rows_written),
    the row count taken from ``write_bars``'s in-flight Observation —
    no second pass over the data. A landing ``directory`` that does not
    exist raises ``FileNotFoundError``; an empty one returns (0, 0). A
    log that exists but cannot be read raises too, rather than ingesting
    the whole corpus again.
    """
    if not os.path.isdir(directory):
        raise FileNotFoundError(f"landing directory not found: {directory}")
    all_files = _list_valid_files(directory)
    if not all_files:
        return 0, 0
    candidates = spark.createDataFrame([(p,) for p in all_files], "source_file string")
    if os.path.exists(log_path):
        log_df = (
            spark.read.parquet(log_path)
            .select(F.regexp_replace("source_file", "^file://", "").alias("source_file"))
        )
        # No broadcast hint: the log (right/build side) is the unbounded
        # side at scale; let AQE pick broadcast only while it stays small.
        fresh = candidates.join(log_df, "source_file", "left_anti")
    else:  # first run
        fresh = candidates
    # Driver-side materialization, by design and bounded: this is PATH
    # METADATA (one short string per fresh file), not data — the same
    # scale class as Spark's own driver-side file listing, and the sorted
    # list exists so the ingest log and reader receive a deterministic
    # order. Memory bound ≈ 100 B x fresh-file count; even 1M fresh files
    # is ~100 MB, and a backlog that large should be ingested in slices
    # anyway. At tens of millions of RETAINED log rows the at-scale move
    # is ingest-log compaction (rewrite the log as one sorted parquet per
    # epoch) plus passing `fresh` straight to the reader as a DataFrame —
    # the anti-join above already runs distributed and needs no change.
    new_files = sorted(r.source_file for r in fresh.collect())
    if not new_files:
        return 0, 0
    df = ingest_bars(spark, directory, paths=new_files)
    metrics = write_bars(df, table_path, mode="append")
    n_rows = metrics["n_rows"]
    log = spark.createDataFrame([(p,) for p in new_files], "source_file string").withColumn(
        "ingested_at", F.current_timestamp()
    )
    log.write.mode("append").parquet(log_path)
    return len(new_files), n_rows
