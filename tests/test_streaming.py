"""Structured-Streaming ingest: availableNow drain, checkpointed re-runs,
row-level dedup across overlapping files."""

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ideafast_etl_spark.sources.rest import PaginatedRestSource, mock_dreem_api
from ideafast_etl_spark.state import StateStore
from ideafast_etl_spark.streaming import run_streaming_ingest

API_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("device", StringType()),
        StructField(
            "report",
            StructType(
                [
                    StructField("start_time", LongType()),
                    StructField("stop_time", LongType()),
                ]
            ),
        ),
        StructField("data_url", StringType()),
    ]
)


@pytest.fixture()
def feed_dir(spark, tmp_path):
    d = tmp_path / "feed"
    # two files with overlapping records (0-29 and 20-49): the overlap must
    # be deduplicated by the J1 anti-join inside foreachBatch
    api_a = PaginatedRestSource(mock_dreem_api(30), API_SCHEMA).load(spark)
    api_b = PaginatedRestSource(mock_dreem_api(50), API_SCHEMA).load(spark).filter(
        F.col("id") >= "ref-000020"
    )
    api_a.coalesce(1).write.parquet(str(d / "batch_a"))
    api_b.coalesce(1).write.parquet(str(d / "batch_b"))
    return d


def test_streaming_ingest_drains_and_dedups(spark, tmp_path, feed_dir):
    store = StateStore(spark, str(tmp_path / "state"))
    q = run_streaming_ingest(
        spark,
        str(feed_dir) + "/*/",
        API_SCHEMA,
        store,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    state = store.read()
    assert state.count() == 50  # union of 0-29 and 20-49, overlap deduped
    assert state.select("hash").distinct().count() == 50


def test_streaming_dedup_drops_in_stream_duplicates(spark, tmp_path):
    from datetime import datetime

    from ideafast_etl_spark.streaming import streaming_dedup

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        ("h1", datetime(2024, 1, 1, 10)),
        ("h1", datetime(2024, 1, 1, 11)),  # duplicate hash
        ("h2", datetime(2024, 1, 1, 12)),
    ]
    spark.createDataFrame(rows, "hash string, start timestamp").coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = spark.readStream.schema("hash string, start timestamp").parquet(
        str(src) + "/*/"
    )
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("sdedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["hash"] for r in spark.sql("select * from sdedup_out").collect()}
    assert got == {"h1", "h2"}
    assert spark.sql("select count(*) c from sdedup_out").first()["c"] == 2


def test_streaming_rerun_with_checkpoint_skips_consumed(spark, tmp_path, feed_dir):
    store = StateStore(spark, str(tmp_path / "state"))
    ckpt = str(tmp_path / "ckpt")
    q = run_streaming_ingest(spark, str(feed_dir) + "/*/", API_SCHEMA, store, checkpoint_dir=ckpt)
    q.awaitTermination(120)
    n1 = store.read().count()

    # second drain with the same checkpoint: no new files → no growth
    q2 = run_streaming_ingest(spark, str(feed_dir) + "/*/", API_SCHEMA, store, checkpoint_dir=ckpt)
    q2.awaitTermination(120)
    assert store.read().count() == n1


def test_streaming_dedup_within_watermark_differing_event_times(spark, tmp_path):
    from datetime import datetime

    from ideafast_etl_spark.streaming import streaming_dedup

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        ("h1", datetime(2024, 1, 1, 10)),
        ("h1", datetime(2024, 1, 1, 16)),  # re-fetch: same content, later stamp
        ("h2", datetime(2024, 1, 1, 12)),
    ]
    spark.createDataFrame(rows, "hash string, start timestamp").coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = spark.readStream.schema("hash string, start timestamp").parquet(
        str(src) + "/*/"
    )
    q = (
        streaming_dedup(stream, watermark="1 day", within_watermark=True)
        .writeStream.format("memory")
        .queryName("sdedup_wm_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from sdedup_wm_out").collect()
    assert {r["hash"] for r in out} == {"h1", "h2"}
    assert len(out) == 2  # the re-fetch within the watermark was suppressed
