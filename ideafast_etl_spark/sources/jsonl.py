"""JSONL corpus source/sink (§2.13 training-data ops): newline-delimited
JSON is the interchange format of LLM training corpora — crawl dumps,
instruction sets, eval suites all ship as JSONL shards. The reference's
sources are REST pages materialised as JSON (hooks/ucam.py builds dict rows
from a JSON API); this is the bulk-file counterpart, Spark-native.

Scale posture:

- **Reads pin an explicit schema.** Schema inference is a full extra pass
  over the data — at 100 TB that is a second 100 TB scan before the first
  real job. The schema argument is mandatory, not optional-with-inference.
- **Malformed lines quarantine, never kill the job.** A web-scale JSONL
  drop always contains some broken lines; PERMISSIVE mode lands them in a
  corrupt-record column and `read_jsonl` splits them into a quarantine
  DataFrame (the reference's quarantined-delete K7 philosophy applied to
  ingest: damaged records are set aside with evidence, not dropped
  silently and not fatal).
- **Writes shard deterministically by the exact global row rank** (the
  distributed `global_rank` — range partition + per-partition offsets, no
  single-partition window), so shard N's contents are a pure function of
  the sort key: re-running an export reproduces byte-identical shard
  membership, which is what makes corpus exports diffable and resumable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """Read JSONL at ``path`` with the EXPLICIT ``schema`` (DDL string,
    without the corrupt-record column). Returns ``(good, quarantine)``:
    ``good`` carries the schema columns for rows that parsed; ``quarantine``
    carries the raw offending line (plus nothing else — evidence for
    repair, joinable back by re-parsing once fixed).

    A row whose line is unparseable JSON, or whose fields violate the
    schema types, lands in quarantine.

    Implementation note: this parses via ``read.text`` + ``from_json`` with
    the corrupt-record field embedded in the parse schema, NOT via
    ``read.schema(...).json(path)`` — Spark refuses plans that reference
    only the corrupt column of a raw JSON scan (QUERY_ONLY_CORRUPT_RECORD_
    COLUMN) and the documented workaround is caching the full parse, which
    is exactly what a 100 TB ingest cannot do. The text+from_json form has
    identical PERMISSIVE semantics and both outputs stay lazy one-pass
    scans."""
    lines = spark.read.text(path)
    return parse_jsonl_lines(lines, schema)


def parse_jsonl_lines(
    lines: DataFrame, schema: str
) -> tuple[DataFrame, DataFrame]:
    """Split a ``value: string`` line relation into ``(good, quarantine)``
    under ``schema`` — the parse step of ``read_jsonl``. Pure column
    expressions, so it works on batch and streaming DataFrames alike."""
    parsed = lines.filter(F.length("value") > 0).select(
        "value",
        F.from_json(
            "value",
            f"{schema}, {CORRUPT_COL} string",
            {"columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("r"),
    )
    good = parsed.filter(F.col(f"r.{CORRUPT_COL}").isNull()).select(
        "r.*"
    ).drop(CORRUPT_COL)
    quarantine = parsed.filter(
        F.col(f"r.{CORRUPT_COL}").isNotNull()
    ).select(F.col("value").alias("raw_line"))
    return good, quarantine


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    order: list[Column],
    rows_per_shard: int,
) -> int:
    """Export ``df`` as JSONL shard directories ``shard=K/`` under
    ``path``, exactly ``rows_per_shard`` rows per shard (last shard
    ragged), shard membership determined by the exact global rank under
    ``order`` (must be a total order — include a unique key last).
    Returns the shard count.

    One range-partition pass computes the rank; the write shuffles on the
    bounded shard id. Nothing is collected; shard sizing is independent of
    executor count or input layout."""
    from ..operators.ranking import global_rank

    if rows_per_shard <= 0:
        raise ValueError("rows_per_shard must be positive")
    ranked = global_rank(df, order, rank_col="__rank")
    sharded = ranked.withColumn(
        "shard",
        ((F.col("__rank") - 1) / rows_per_shard).cast("long"),
    ).drop("__rank")
    n_shards = sharded.agg(
        (F.max("shard") + 1).cast("int").alias("n")
    ).first()["n"]
    (
        sharded.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .json(path)
    )
    return int(n_shards or 0)
