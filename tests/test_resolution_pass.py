"""The resolution stages as one pass: serial → device → patient → group
computed as one update set and committed once.

``DreemPipeline.run`` resolves every rung in one plan; the stage methods
(``resolve_serial`` … ``group_records``) are the same pass restricted to
their own rung. The fixture leaves rows stuck at every rung, maps one uid
to a NULL serial, shares the store with a second device type, and resolves
late data on a second run. Both paths must give the same per-stage counts
and the same final state, pinned against the values the per-stage
pipeline produced before the stages were fused.
"""

from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, MapType, StringType, StructField, StructType

from ideafast_etl_spark.operators.projections import shape_api_rows
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
ASG_DDL = "device_id string, patient_id string, start_wear timestamp, end_wear timestamp"


def _api(spark, n):
    return PaginatedRestSource(mock_dreem_api(n), API_SCHEMA).load(spark)


def _dims(spark, late: bool):
    """Run-1 dims strand rows at every rung: uid-5/uid-6 have no serial,
    uid-4 maps to a NULL serial, SER-003 has no device id, NR1's wear
    period ends before its later records and NR2's starts after all of
    them. The late dims resolve uid-5, SER-003 and NR2; uid-6 stays stuck."""
    uid = [(f"uid-{i}", f"SER-{i:03d}") for i in range(4)] + [("uid-4", None)]
    serial = [(f"SER-{i:03d}", f"NR{i}-DEVICE") for i in range(3)]
    asg = [
        ("NR0-DEVICE", "P0-PATIENT", datetime(2021, 12, 1), None),
        ("NR1-DEVICE", "P1-PATIENT", datetime(2021, 12, 1), datetime(2021, 12, 13)),
        ("NR2-DEVICE", "P2-PATIENT", datetime(2022, 6, 1), None),
    ]
    if late:
        uid.append(("uid-5", "SER-005"))
        serial += [("SER-003", "NR3-DEVICE"), ("SER-005", "NR5-DEVICE")]
        asg += [
            ("NR2-DEVICE", "P22-PATIENT", datetime(2021, 12, 1), None),
            ("NR3-DEVICE", "P3-PATIENT", datetime(2021, 12, 1), None),
            ("NR5-DEVICE", "P5-PATIENT", datetime(2021, 12, 1), None),
        ]
    return (
        spark.createDataFrame(uid, "dreem_uid string, device_serial string"),
        spark.createDataFrame(serial, "device_serial string, device_id string"),
        spark.createDataFrame(asg, ASG_DDL),
    )


def _by_stage(pipe, api, uid_map, serial_map, assignments):
    return {
        "ingested": pipe.ingest(api),
        "serials": pipe.resolve_serial(uid_map),
        "devices": pipe.resolve_device_id(serial_map),
        "patients": pipe.resolve_patient(assignments),
        "grouped": pipe.group_records(),
        "uploaded": pipe.upload(),
        "compacted": pipe.maintain(),
    }


def _digest(df):
    cols = [
        F.to_json(f.name) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return r["n"], int(r["h"])


def _drive(spark, path, step):
    """Two DRM runs and a BTF run on one store; ``step`` is either
    ``DreemPipeline.run`` or the stages one at a time."""
    store = StateStore(spark, str(path))
    drm = DreemPipeline(spark, store)
    btf = DreemPipeline(spark, store, PipelineConfig(device_type="BTF"))
    reports = [
        step(drm, _api(spark, 40), *_dims(spark, late=False)),
        step(btf, _api(spark, 20), *_dims(spark, late=True)),
        step(drm, _api(spark, 55), *_dims(spark, late=True)),
    ]
    return reports, _digest(store.read())


# recorded with the per-stage pipeline (one read/merge/commit per stage)
WANT_REPORTS = [
    {"ingested": 40, "serials": 30, "devices": 18, "patients": 8, "grouped": 8,
     "uploaded": (4, 1, 0), "compacted": 0},
    {"ingested": 20, "serials": 0, "devices": 0, "patients": 0, "grouped": 0,
     "uploaded": (0, 0, 0), "compacted": 0},
    {"ingested": 15, "serials": 24, "devices": 22, "patients": 26, "grouped": 26,
     "uploaded": (9, 2, 1), "compacted": 0},
]
WANT_DIGEST = (75, 22334632243439416967)


@pytest.fixture(scope="module")
def by_stage(spark, tmp_path_factory):
    return _drive(spark, tmp_path_factory.mktemp("stages"), _by_stage)


def test_stage_methods_match_recorded_counts_and_state(by_stage):
    reports, digest = by_stage
    assert reports == WANT_REPORTS
    assert digest == WANT_DIGEST


def test_run_matches_stage_methods(spark, tmp_path, by_stage):
    reports, digest = _drive(spark, tmp_path / "run", DreemPipeline.run)
    assert reports == by_stage[0]
    assert digest == by_stage[1]


def _ingested(spark, path, n, config=None):
    pipe = DreemPipeline(spark, StateStore(spark, str(path)), config)
    assert pipe.ingest(_api(spark, n)) == n
    return pipe


def _rows(store, col):
    return {r["hash"]: r[col] for r in store.read().select("hash", col).collect()}


def test_duplicate_lookup_key_raises_and_commits_nothing(spark, tmp_path):
    pipe = _ingested(spark, tmp_path / "s", 5)
    v = pipe.store.current_version()
    uid_map = spark.createDataFrame(
        [("uid-0", "SER-000"), ("uid-0", "SER-900"), ("uid-1", "SER-001")],
        "dreem_uid string, device_serial string",
    )
    with pytest.raises(ValueError, match="uid_map"):
        pipe.resolve_serial(uid_map)
    with pytest.raises(ValueError, match="uid_map"):
        pipe.run(_api(spark, 5), uid_map, *_dims(spark, late=False)[1:])
    assert pipe.store.current_version() == v
    state = pipe.store.read()
    assert state.count() == 5
    assert state.filter(F.col("device_serial").isNotNull()).count() == 0

    # the same key listed twice with one value is still a duplicate
    serial_map = spark.createDataFrame(
        [("SER-000", "NR0-DEVICE"), ("SER-000", "NR0-DEVICE")],
        "device_serial string, device_id string",
    )
    uid_ok, _, asg = _dims(spark, late=False)
    with pytest.raises(ValueError, match="serial_map"):
        pipe.run(_api(spark, 5), uid_ok, serial_map, asg)
    assert pipe.store.current_version() == v


def test_merge_rejects_an_update_set_that_repeats_a_key(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "s"))
    store.init(
        spark.createDataFrame(
            [(f"h{i}", "DRM", None) for i in range(5)],
            "hash string, device_type string, x string",
        )
    )
    v = store.current_version()
    updates = spark.createDataFrame(
        [("h1", "a"), ("h1", "b"), ("h2", "c")], "hash string, x string"
    )
    with pytest.raises(ValueError, match="repeat a key"):
        store.merge_non_overwrite(updates, ("x",), partition_value="DRM")
    assert store.current_version() == v
    assert store.read().count() == 5


def test_limits_cap_each_rung_by_lowest_hash(spark, tmp_path):
    uid_map, serial_map, assignments = _dims(spark, late=True)
    caps = {"serial": 4, "device": 3, "patient": 2}
    pipe = _ingested(spark, tmp_path / "capped", 30, PipelineConfig(limits=caps))
    full = _ingested(spark, tmp_path / "full", 30)
    want = full._resolve(uid_map, serial_map, assignments, group=True)
    serial0 = _rows(pipe.store, "device_serial")

    got = pipe._resolve(uid_map, serial_map, assignments, group=True)
    assert got == {"serials": 4, "devices": 3, "patients": 2, "grouped": 2}
    # the serial rung took the lowest hashes among the rows it can fill
    listed = {r["dreem_uid"] for r in uid_map.collect() if r["device_serial"]}
    fillable = sorted(
        r["hash"]
        for r in pipe.store.read().select("hash", "meta").collect()
        if r["meta"]["dreem_uid"] in listed
    )
    serial1 = _rows(pipe.store, "device_serial")
    filled = sorted(h for h, s in serial1.items() if s and not serial0[h])
    assert filled == fillable[:4]

    # rows past the caps resolve on later runs, to the uncapped end state
    totals = dict(got)
    for _ in range(30):
        v = pipe.store.current_version()
        got = pipe._resolve(uid_map, serial_map, assignments, group=True)
        if pipe.store.current_version() == v:  # nothing left to fill
            break
        assert got["serials"] <= 4 and got["devices"] <= 3 and got["patients"] <= 2
        for k, n in got.items():
            totals[k] += n
    # uid-4 maps to NULL: its rows count as resolved on every run, so
    # the serial totals differ; every fill lands exactly as uncapped
    assert {k: totals[k] for k in ("devices", "patients", "grouped")} == {
        k: want[k] for k in ("devices", "patients", "grouped")
    }
    assert _digest(pipe.store.read()) == _digest(full.store.read())


def test_limit_zero_fills_nothing(spark, tmp_path):
    caps = {"serial": 0, "device": 0, "patient": 0}
    pipe = _ingested(spark, tmp_path / "s", 20, PipelineConfig(limits=caps))
    v = pipe.store.current_version()
    got = pipe._resolve(*_dims(spark, late=True), group=True)
    assert got == {"serials": 0, "devices": 0, "patients": 0, "grouped": 0}
    assert pipe.store.current_version() == v


def test_ingest_limit_caps_new_rows_by_lowest_hash(spark, tmp_path):
    """Every poll re-reads the whole feed, so the ingest cap counts the
    rows the state does not hold yet: successive runs insert the next
    lowest hashes until the feed is drained."""
    caps = {"ingest": 15}
    pipe = DreemPipeline(spark, StateStore(spark, str(tmp_path / "s")),
                         PipelineConfig(limits=caps))
    api = _api(spark, 40)
    feed = sorted(r["hash"] for r in shape_api_rows(api, "DRM").select("hash").collect())
    assert [pipe.ingest(api) for _ in range(4)] == [15, 15, 10, 0]
    assert sorted(_rows(pipe.store, "hash")) == feed
    first = DreemPipeline(spark, StateStore(spark, str(tmp_path / "f")),
                          PipelineConfig(limits=caps))
    first.ingest(api)
    assert sorted(_rows(first.store, "hash")) == feed[:15]


@pytest.mark.parametrize("run", ["run_from_stream", "run_stream_full_dag"])
def test_stream_runs_refuse_an_ingest_limit(spark, tmp_path, run):
    """The file source never re-delivers a consumed file, so a capped
    micro-batch would lose the rows past the cap: refuse before the
    stream starts, consuming nothing."""
    _api(spark, 25).coalesce(1).write.parquet(str(tmp_path / "feed" / "b1"))
    store = StateStore(spark, str(tmp_path / "state"))
    pipe = DreemPipeline(spark, store, PipelineConfig(limits={"ingest": 10}))
    with pytest.raises(ValueError, match="ingest limit"):
        getattr(pipe, run)(
            str(tmp_path / "feed") + "/*/", API_SCHEMA, *_dims(spark, late=False),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    assert not store.exists()
    assert not (tmp_path / "ckpt").exists()
