"""The upload sink walks each partition's contiguous groups in one pandas
pass per Arrow batch.

The uploader contract is ``(dmp_id, pandas payload) -> bool``: one call per
group with all of the group's rows, the input's columns in order without the
conflict marker, naive session-time timestamps, maps as dicts and a fresh
0..n-1 index. The parity digest below was recorded from the grouped-map
(``applyInPandas``) sink this pass replaced; a plain pyarrow ``to_pandas()``
conversion (tz-aware timestamps, maps as lists of pairs) does not match it.
Uploaders run executor-side, so they report through marker files (local
mode shares the filesystem).
"""

import hashlib
import pathlib
import pickle

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ideafast_etl_spark.operators.projections import init_lifecycle, shape_api_rows
from ideafast_etl_spark.pipeline import DreemPipeline, PipelineConfig
from ideafast_etl_spark.sinks.upload import upload_groups
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
# sha256 over every payload the grouped-map sink handed its uploader for
# the _state_rows fixture: group id, column names, dtypes, index, then the
# rows in hash order (see _payload_digest)
PARENT_PAYLOAD_DIGEST = "0bc24ab99ce17b555479cb5fdaad6a2d3efb6307071a0c8728c6d4cb9d91a6b6"


def _pickling_uploader(out_dir):
    """Uploader that pickles each payload to a file of its own."""
    d = str(out_dir)

    def upload(dmp_id, payload) -> bool:
        import pathlib
        import pickle
        import uuid

        pathlib.Path(d, f"{dmp_id}.{uuid.uuid4().hex}").write_bytes(
            pickle.dumps(payload)
        )
        return True

    return upload


def _calls(out_dir) -> dict[str, list]:
    got: dict[str, list] = {}
    for p in sorted(pathlib.Path(out_dir).iterdir()):
        got.setdefault(p.name.rsplit(".", 1)[0], []).append(
            pickle.loads(p.read_bytes())
        )
    return got


def _state_rows(spark):
    """24 shaped records in five groups G-0..G-4; record 3 (in G-3) is
    already uploaded, so G-3 conflicts; record 7 has no end time."""
    raw = PaginatedRestSource(mock_dreem_api(24), API_SCHEMA).load(spark)
    i = F.regexp_extract("manufacturer_ref", r"(\d+)$", 1).cast("int")
    return (
        init_lifecycle(shape_api_rows(raw, "DRM"))
        .withColumn("device_serial", F.concat(F.lit("SER-"), F.col("meta.dreem_uid")))
        .withColumn("dmp_id", F.concat(F.lit("G-"), (i % 5).cast("string")))
        .withColumn("end", F.when(i == 7, F.lit(None)).otherwise(F.col("end")))
        .withColumn("is_uploaded", i == 3)
    )


def _payload_digest(calls: dict[str, list]) -> str:
    h = hashlib.sha256()
    for dmp_id in sorted(calls):
        (pdf,) = calls[dmp_id]
        lines = [
            dmp_id,
            repr(list(pdf.columns)),
            repr([str(t) for t in pdf.dtypes]),
            repr(pdf.index),
        ]
        lines += [
            repr(tuple(r)) for r in pdf.sort_values("hash").itertuples(index=False)
        ]
        h.update("\n".join(lines).encode())
    return h.hexdigest()


def test_payload_matches_grouped_map_contract(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"))
    store.init(_state_rows(spark))
    calls_dir = tmp_path / "calls"
    calls_dir.mkdir()
    pipe = DreemPipeline(spark, store, uploader=_pickling_uploader(calls_dir))
    assert pipe.upload() == (4, 0, 1)
    calls = _calls(calls_dir)
    assert sorted(calls) == ["G-0", "G-1", "G-2", "G-4"]  # G-3 conflicts
    pdf = calls["G-0"][0]
    assert str(pdf["start"].dtype) == "datetime64[ns]"
    assert isinstance(pdf["meta"].iloc[0], dict)
    assert "any_up" not in pdf.columns
    assert _payload_digest(calls) == PARENT_PAYLOAD_DIGEST


def test_group_spanning_batches_is_one_call(spark, tmp_path):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        rows = [("BIG", i) for i in range(5)] + [("A", 10), ("Z", 11), ("Z", 12)]
        groups = spark.createDataFrame(rows, "dmp_id string, x long").coalesce(1)
        calls_dir = tmp_path / "calls"
        calls_dir.mkdir()
        out = upload_groups(groups, _pickling_uploader(calls_dir)).collect()
    finally:
        spark.conf.set(key, old)
    assert sorted((r["dmp_id"], r["success"]) for r in out) == [
        ("A", True), ("BIG", True), ("Z", True)
    ]
    calls = _calls(calls_dir)
    assert {k: len(v) for k, v in calls.items()} == {"A": 1, "BIG": 1, "Z": 1}
    (big,) = calls["BIG"]
    assert sorted(big["x"]) == [0, 1, 2, 3, 4]
    assert list(big.index) == [0, 1, 2, 3, 4]


def test_many_groups_per_partition_skip_conflicts(spark, tmp_path):
    rows = [(f"G-{g:02d}", i, int(g == 17 and i == 0)) for g in range(40) for i in range(3)]
    groups = spark.createDataFrame(rows, "dmp_id string, x long, up int").coalesce(2)
    calls_dir = tmp_path / "calls"
    calls_dir.mkdir()
    out = {
        r["dmp_id"]: (r["success"], r["conflict"])
        for r in upload_groups(
            groups, _pickling_uploader(calls_dir), conflict_col="up"
        ).collect()
    }
    want = {f"G-{g:02d}": (True, False) for g in range(40)}
    want["G-17"] = (False, True)
    assert out == want
    calls = _calls(calls_dir)
    assert "G-17" not in calls  # the conflicting group's uploader never ran
    assert all(len(v) == 1 and len(v[0]) == 3 for v in calls.values())
    assert all(list(v[0].columns) == ["dmp_id", "x"] for v in calls.values())
    assert len(calls) == 39


def test_empty_work_uploads_nothing(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"))
    store.init(_state_rows(spark).withColumn("is_uploaded", F.lit(True)))
    calls_dir = tmp_path / "calls"
    calls_dir.mkdir()
    pipe = DreemPipeline(spark, store, uploader=_pickling_uploader(calls_dir))
    assert pipe.upload() == (0, 0, 0)
    assert not list(calls_dir.iterdir())


def test_upload_cap_skips_conflicting_groups(spark, tmp_path):
    """A cap of 1 with six conflicting groups ahead of two clean ones: each
    run attempts the lowest clean group and still reports the conflicts."""
    rows = [
        (f"h{g}{i}", "DRM", f"G-{g}", i == 0 and g < 6)
        for g in (0, 1, 2, 3, 4, 5, 8, 9)
        for i in range(2)
    ]
    store = StateStore(spark, str(tmp_path / "state"))
    store.init(
        spark.createDataFrame(
            rows, "hash string, device_type string, dmp_id string, is_uploaded boolean"
        )
    )
    config = PipelineConfig()
    config.limits["upload"] = 1
    calls_dir = tmp_path / "calls"
    calls_dir.mkdir()
    pipe = DreemPipeline(spark, store, config, uploader=_pickling_uploader(calls_dir))
    assert [pipe.upload() for _ in range(3)] == [(1, 0, 6), (1, 0, 6), (0, 0, 6)]
    assert {k: len(v) for k, v in _calls(calls_dir).items()} == {"G-8": 1, "G-9": 1}
    flagged = {
        r["hash"] for r in store.read().filter(F.col("is_uploaded")).collect()
    }
    assert flagged == {"h00", "h10", "h20", "h30", "h40", "h50"} | {
        "h80", "h81", "h90", "h91"
    }
