"""One pass per poll step: each stage computes its update set once, and
the REST source lands its pages through Arrow.

``DreemPipeline._resolve`` materialises a pass's update set and counts it
on that same action; under a plan audit ``materialize`` is an identity, so
the stage must still return the right count without waiting for a count
that never arrives. ``PaginatedRestSource.load`` must return
exactly what ``createDataFrame(list_of_dicts, schema)`` returned, without
running a Python-worker job.
"""

import threading

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ideafast_etl_spark import plan_audit
from ideafast_etl_spark.pipeline import DreemPipeline
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
N_RECORDS = 30
# mock_dreem_api cycles uid-0..uid-6; uid-5 and uid-6 stay unresolved
RESOLVABLE = sum(1 for i in range(N_RECORDS) if i % 7 < 5)


def _pipeline(spark, path):
    pipe = DreemPipeline(spark, StateStore(spark, str(path)))
    raw = PaginatedRestSource(mock_dreem_api(N_RECORDS), API_SCHEMA).load(spark)
    assert pipe.ingest(raw) == N_RECORDS
    uid_map = spark.createDataFrame(
        [(f"uid-{i}", f"SER-{i:03d}") for i in range(5)],
        "dreem_uid string, device_serial string",
    )
    return pipe, uid_map


def _within(seconds, fn):
    """fn() run on a daemon thread; fails instead of hanging the suite."""
    out = {}
    t = threading.Thread(target=lambda: out.update(v=fn()), daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"no result within {seconds} s"
    return out["v"]


def test_resolve_serial_counts_once_per_stage(spark, tmp_path):
    pipe, uid_map = _pipeline(spark, tmp_path / "s")
    assert pipe.resolve_serial(uid_map) == RESOLVABLE
    v = pipe.store.current_version()
    # nothing left to resolve: the empty update set skips the merge
    assert pipe.resolve_serial(uid_map) == 0
    assert pipe.store.current_version() == v


def test_resolve_serial_same_count_under_plan_audit(spark, tmp_path):
    pipe, uid_map = _pipeline(spark, tmp_path / "a")

    def audited():
        with plan_audit.no_checkpoints():
            return pipe.resolve_serial(uid_map), pipe.resolve_serial(uid_map)

    assert _within(180, audited) == (RESOLVABLE, 0)
    resolved = pipe.store.read().filter(F.col("device_serial").isNotNull())
    assert resolved.count() == RESOLVABLE


def _records():
    return [
        # keys in another order than the schema, an extra key, nested too
        {
            "data_url": "https://example.invalid/1",
            "report": {"stop_time": 20, "start_time": 10, "tz": "UTC"},
            "device": "uid-1",
            "id": "r1",
            "extra": 1,
        },
        # missing keys
        {"id": "r2", "report": {"start_time": 11}},
        {"device": "uid-3"},
        # a None nested struct and a None url
        {"id": "r4", "device": "uid-4", "report": None, "data_url": None},
        # an integer past 2**53 must not go through a float
        {"id": "r5", "report": {"start_time": 2**60 + 1, "stop_time": 2**60 + 3}},
    ]


def _digest(df):
    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()


def _load(spark, rows, schema, page=2):
    def fetch(cursor):
        start = int(cursor or 0)
        nxt = start + page
        return rows[start:nxt], (str(nxt) if nxt < len(rows) else None)

    return PaginatedRestSource(fetch, schema).load(spark)


def test_rest_load_matches_row_path(spark):
    rows = _records()
    got = _load(spark, rows, API_SCHEMA)
    want = spark.createDataFrame(rows, API_SCHEMA)
    assert got.schema == want.schema
    key = lambda r: (r["id"] is None, r["id"] or "")  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    assert _digest(got) == _digest(want)


def test_rest_load_accepts_ddl_schema(spark):
    ddl = (
        "id string, device string, "
        "report struct<start_time: bigint, stop_time: bigint>, data_url string"
    )
    rows = _records()
    got = _load(spark, rows, ddl)
    assert got.schema == spark.createDataFrame(rows, ddl).schema
    assert _digest(got) == _digest(spark.createDataFrame(rows, ddl))


def test_rest_load_empty_feed(spark):
    got = _load(spark, [], API_SCHEMA)
    assert got.schema == spark.createDataFrame([], API_SCHEMA).schema
    assert got.count() == 0


def test_rest_load_runs_no_python_worker_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("rest-load-arrow", "REST pages through Arrow")
    try:
        rows = _load(spark, _records(), API_SCHEMA).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 5
    assert sc.statusTracker().getJobIdsForGroup("rest-load-arrow") == []
