"""ideafast_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference ETL pipeline (ideafast/ideafast-etl),
re-expressed Spark-first.

The reference is an Airflow-based incremental polling ETL pipeline; its dataflow
operators (hash-dedup anti-join, lookup enrichment joins, interval-containment join,
day-window grouping, non-overwriting state merges) are rebuilt here as pure
``DataFrame -> DataFrame`` functions that Catalyst can optimize end to end, plus the
LLM-data-pipeline extensions (dedup, similarity search, multimodal columns, text
analysis) designed for 100 TB scale.

Layout:
  - ``session``      — tuned SparkSession builder (AQE, UTC, Arrow)
  - ``tables``       — parquet table catalog for the driver's synthetic data
  - ``functions``    — scalar/text functions (hash identity, time buckets, ...)
  - ``operators``    — relational operators (filters, joins, grouping, dedup, ...)
  - ``sources``      — REST/CSV/binary sources
  - ``sinks``        — upload/archive sinks
  - ``state``        — state table with MERGE-style non-overwrite transitions
  - ``pipeline``     — the end-to-end incremental pipeline assembly
  - ``streaming``    — the Structured Streaming form of the ingest (the
                       pipeline's stream mode) and watermarked hash dedup
  - ``queries``      — the registered queries; ``oracles`` their DuckDB twins
"""

__version__ = "0.1.0"
