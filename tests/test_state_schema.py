"""The state manifest carries the snapshot schema.

Every commit records the schema parquet ``mergeSchema`` would infer over
the snapshot's files, so ``read()`` runs no footer-inference job. These
tests check the recorded schema against real inference after every kind of
transition, that such a read launches no Spark job, and that no
transition moves the state's columns around.
"""

import warnings

from pyspark.sql import functions as F

from ideafast_etl_spark.state import StateStore

COLS = "hash string, ref string, dmp_id string, is_uploaded boolean, x string, device_type string"


def _rows(n=8):
    return [
        (f"h{i}", f"r{i}", f"G{i % 3}", False, None, "DRM" if i % 2 else "BTF")
        for i in range(n)
    ]


def _inferred(spark, store):
    snap = store._snapshot_dir(store.current_version())
    return spark.read.option("mergeSchema", "true").parquet(snap).schema


def _check(spark, store):
    """The current manifest's schema is exactly the inferred one, and
    read() hands it out."""
    recorded = store._recorded_schema(store.current_version())
    assert recorded is not None
    assert recorded == _inferred(spark, store)
    assert store.read().schema == recorded


def _store(spark, tmp_path, name="s", **kw):
    store = StateStore(spark, str(tmp_path / name), **kw)
    store.init(spark.createDataFrame(_rows(), COLS))
    return store


def test_bootstrap_and_append_record_inferred_schema(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "s"))
    # the batch's partition column is not last: the recorded schema moves
    # it there, as partition discovery does
    batch = spark.createDataFrame(
        [("a", "DRM", "v"), ("b", "BTF", "w")],
        "hash string, device_type string, x string",
    )
    assert store.append_new(batch) == 2
    _check(spark, store)
    assert store.read().columns == ["hash", "x", "device_type"]
    more = spark.createDataFrame([("c", "DRM", "u")], "hash string, device_type string, x string")
    assert store.append_new(more) == 1
    _check(spark, store)


def test_empty_init_then_append(spark, tmp_path):
    """An empty snapshot is one unpartitioned file; it too puts the
    partition column last, so the first partitioned write beside it does
    not move the column."""
    store = StateStore(spark, str(tmp_path / "s"))
    store.init(
        spark.createDataFrame([], "hash string, device_type string, x string")
    )
    _check(spark, store)
    assert store.read().columns == ["hash", "x", "device_type"]
    assert store.read().count() == 0
    store.append_new(
        spark.createDataFrame([("a", "DRM", "v")], "hash string, device_type string, x string")
    )
    _check(spark, store)
    assert store.read().columns == ["hash", "x", "device_type"]
    assert store.read().count() == 1


def test_additive_evolution_wider_and_narrower(spark, tmp_path):
    store = _store(spark, tmp_path)
    wider = spark.createDataFrame(
        [(0.5, "w1", "DRM", "rw"), (0.7, "w2", "BTF", "rw2")],
        "quality double, hash string, device_type string, ref string",
    )
    assert store.append_new(wider) == 2
    _check(spark, store)
    cols = store.read().columns
    assert cols[-2:] == ["quality", "device_type"]
    narrower = spark.createDataFrame([("n1", "DRM")], "hash string, device_type string")
    assert store.append_new(narrower) == 1
    _check(spark, store)
    assert store.read().columns == cols
    got = {r["hash"]: r["quality"] for r in store.read().collect()}
    assert got["w1"] == 0.5 and got["h0"] is None and got["n1"] is None


def test_merges_record_inferred_schema(spark, tmp_path):
    store = _store(spark, tmp_path)
    upd = spark.createDataFrame([("h1", "X1"), ("h2", "X2")], "hash string, x string")
    assert store.merge_non_overwrite(upd, ("x",), partition_value="DRM") == 1
    _check(spark, store)
    assert store.merge_non_overwrite(upd, ("x",)) == 2
    _check(spark, store)
    src = spark.createDataFrame(
        [("h4", "R4"), ("new", "RN")], "hash string, ref string"
    )
    got = store.merge(
        src,
        when_matched_set={"ref": "src.ref"},
        insert_when_not_matched=True,
    )
    assert got == {"updated": 1, "inserted": 1}
    _check(spark, store)
    sel = spark.createDataFrame([("h3", "R3")], "hash string, ref string")
    assert store.merge(
        sel, when_matched_set={"ref": "src.ref"}, partition_value="DRM"
    ) == {"updated": 1, "inserted": 0}
    _check(spark, store)


def test_mark_uploaded_compact_and_delete_record_inferred_schema(spark, tmp_path):
    store = _store(spark, tmp_path)
    for i in range(3):  # fragment both partitions
        store.append_new(
            spark.createDataFrame(
                [(f"a{i}", "DRM"), (f"b{i}", "BTF")], "hash string, device_type string"
            )
        )
    ids = spark.createDataFrame([("G1",)], "dmp_id string")
    assert store.mark_uploaded(ids, partition_value="DRM") > 0
    _check(spark, store)
    assert store.mark_uploaded(spark.createDataFrame([("G2",)], "dmp_id string")) > 0
    _check(spark, store)
    assert store.compact(partition_value="DRM") == 1
    _check(spark, store)
    assert store.compact() == 1  # BTF is still fragmented
    _check(spark, store)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        assert store._quarantined_delete(
            spark.createDataFrame([("h0",), ("a0",)], "hash string")
        ) == 2
    _check(spark, store)


def test_column_order_is_stable_across_transitions(spark, tmp_path):
    """Rewrites keep the target's column order: a join-keyed rewrite
    (mark_uploaded joins on dmp_id, merges on hash) must not put its key
    first in the files it writes."""
    store = _store(spark, tmp_path, partition_by=())
    cols = store.read().columns
    store.append_new(
        spark.createDataFrame([("z9", "DRM", "rz")], "hash string, device_type string, ref string")
    )
    assert store.read().columns == cols
    store.merge_non_overwrite(
        spark.createDataFrame([("h1", "X1")], "hash string, x string"), ("x",)
    )
    assert store.read().columns == cols
    store.mark_uploaded(spark.createDataFrame([("G1",)], "dmp_id string"))
    assert store.read().columns == cols
    store.compact()
    assert store.read().columns == cols
    # the partitioned layout too, with selective rewrites beside kept files
    part = _store(spark, tmp_path, name="p")
    cols = part.read().columns
    part.mark_uploaded(
        spark.createDataFrame([("G1",)], "dmp_id string"), partition_value="DRM"
    )
    assert part.read().columns == cols
    part.merge_non_overwrite(
        spark.createDataFrame([("h2", "X2")], "hash string, x string"),
        ("x",),
        partition_value="BTF",
    )
    assert part.read().columns == cols
    assert _inferred(spark, part).fieldNames() == cols


def test_read_with_recorded_schema_runs_no_job(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.append_new(spark.createDataFrame([("n", "DRM")], "hash string, device_type string"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("state-read-no-job", "read() of a schema-carrying store")
    try:
        df = store.read()
        _ = df.schema, df.columns
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("state-read-no-job") == []
    assert df.count() == 9


def test_conflicting_column_type_fails_before_writing(spark, tmp_path):
    """A batch whose column type differs from the state's would leave
    part-files no inference can merge; the append refuses it up front."""
    store = _store(spark, tmp_path)
    v = store.current_version()
    bad = spark.createDataFrame([("q", "DRM", 1)], "hash string, device_type string, ref int")
    try:
        store.append_new(bad)
    except ValueError as e:
        assert "ref" in str(e)
    else:
        raise AssertionError("conflicting type was accepted")
    assert store.current_version() == v
    assert store.read().count() == 8
