"""Reference-parity edges: empty API page (test_drm.py:9-39 analog) and two
parameterised device-type flows sharing one state table (the reference runs
these as separate DAG instances; here separate pipelines on one store)."""

from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ideafast_etl_spark.pipeline import DreemPipeline, PipelineConfig
from ideafast_etl_spark.sources.rest import PaginatedRestSource, mock_dreem_api
from ideafast_etl_spark.state import StateStore

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


def test_empty_feed_is_a_clean_noop(spark, tmp_path):
    api = PaginatedRestSource(mock_dreem_api(0), API_SCHEMA).load(spark)
    assert api.count() == 0
    store = StateStore(spark, str(tmp_path / "state"))
    pipe = DreemPipeline(spark, store)
    assert pipe.ingest(api) == 0
    assert store.read().count() == 0


def test_two_device_types_share_state_without_interference(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"))
    uid_map = spark.createDataFrame(
        [(f"uid-{i}", f"SER-{i:03d}") for i in range(7)], ["dreem_uid", "device_serial"]
    )
    serial_map = spark.createDataFrame(
        [(f"SER-{i:03d}", f"NR{i}-DEVICE") for i in range(7)],
        ["device_serial", "device_id"],
    )
    assignments = spark.createDataFrame(
        [(f"NR{i}-DEVICE", f"P{i}-PATIENT", datetime(2021, 12, 1), None) for i in range(7)],
        "device_id string, patient_id string, start_wear timestamp, end_wear timestamp",
    )
    api = PaginatedRestSource(mock_dreem_api(20), API_SCHEMA).load(spark)

    drm = DreemPipeline(spark, store, PipelineConfig(device_type="DRM"))
    btf = DreemPipeline(spark, store, PipelineConfig(device_type="BTF"))

    drm.run(api, uid_map, serial_map, assignments)
    # same vendor refs under a different device type hash differently (X1)
    # and ingest as distinct records
    assert btf.ingest(api) == 20
    state = store.read()
    assert state.count() == 40
    assert state.filter(F.col("device_type") == "DRM").count() == 20

    # BTF resolution only touches BTF rows; DRM's resolved values intact
    # (BTF rows need the DRM-specific uid rung? — needs_serial is
    # DRM-gated, so BTF rows stay at rung 0: exactly the reference's
    # per-type parameterisation)
    drm_resolved = state.filter(
        (F.col("device_type") == "DRM") & F.col("device_serial").isNotNull()
    ).count()
    btf_resolved = state.filter(
        (F.col("device_type") == "BTF") & F.col("device_serial").isNotNull()
    ).count()
    assert drm_resolved == 20 and btf_resolved == 0
