"""python_btc_etl_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference ETL
application ``jaredr-branscum/python-btc-etl`` (see SURVEY.md), built
Spark-first: DataFrame/SQL logical plans optimized by Catalyst, Structured
Streaming for the file-arrival path, and Pandas UDFs only where no native
expression exists.

Layout
------
- ``session``     — tuned SparkSession factory (AQE, UTC, Arrow, heap
                    sized to RAM, class-data-sharing archive).
- ``catalog``     — testdata table loading, temp-view registration and
                    the bounded plan cache.
- ``sources``     — reference-parity OHLCV CSV ingest (``csv_bars``),
                    file formats (``formats``) and Python data sources
                    (``pyds``).
- ``functions``   — reusable column-expression builders (text, vectors,
                    multimodal).
- ``plans``       — the query registry: every supported query as a
                    (Spark callable, DuckDB oracle SQL) pair.
- ``streaming``   — Structured Streaming ingest, windowed aggregation,
                    stateful operators and sinks.
"""

__version__ = "0.1.0"
