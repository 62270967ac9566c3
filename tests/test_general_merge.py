"""General MERGE INTO on the state store: conditional updates, inserts,
counter bumps, no-op version hygiene, partition-selective rewrites."""

import os

import pytest

from ideafast_etl_spark.state import StateStore


def _data_files(snapshot_dir):
    out = {}
    for root, _dirs, files in os.walk(snapshot_dir):
        for fn in files:
            if not fn.startswith(("_", ".")):
                p = os.path.join(root, fn)
                out[os.path.relpath(p, snapshot_dir)] = os.stat(p).st_ino
    return out


def _store(spark, path):
    store = StateStore(spark, str(path))
    rows = [
        ("h1", "DRM", None, 0),
        ("h2", "DRM", "serial-2", 5),
        ("h3", "BTF", None, 1),
    ]
    store.init(
        spark.createDataFrame(
            rows, "hash string, device_type string, serial string, n_seen int"
        )
    )
    return store


def test_merge_conditional_update_and_insert(spark, tmp_path):
    store = _store(spark, tmp_path / "s")
    src = spark.createDataFrame(
        [
            ("h1", "DRM", "serial-1", 1),   # fills NULL serial, bumps counter
            ("h2", "DRM", "SHOULD-NOT-WIN", 1),  # serial already set → keep
            ("h9", "DRM", "serial-9", 1),   # new key → insert
        ],
        "hash string, device_type string, serial string, n_seen int",
    )
    res = store.merge(
        src,
        when_matched_set={
            "serial": "coalesce(t.serial, src.serial)",
            "n_seen": "t.n_seen + src.n_seen",
        },
        insert_when_not_matched=True,
    )
    assert res == {"updated": 2, "inserted": 1}
    got = {r["hash"]: (r["serial"], r["n_seen"]) for r in store.read().collect()}
    assert got == {
        "h1": ("serial-1", 1),
        "h2": ("serial-2", 6),         # non-overwrite held, counter bumped
        "h3": (None, 1),               # untouched (not in source)
        "h9": ("serial-9", 1),         # inserted verbatim
    }


def test_merge_matched_condition_guards_update(spark, tmp_path):
    store = _store(spark, tmp_path / "s")
    src = spark.createDataFrame(
        [("h1", "X"), ("h2", "Y")], "hash string, serial string"
    )
    res = store.merge(
        src,
        when_matched_set={"serial": "src.serial"},
        matched_condition="t.serial IS NULL",
    )
    assert res == {"updated": 1, "inserted": 0}
    got = {r["hash"]: r["serial"] for r in store.read().collect()}
    assert got["h1"] == "X" and got["h2"] == "serial-2"


def test_merge_noop_publishes_no_version(spark, tmp_path):
    store = _store(spark, tmp_path / "s")
    v0 = store.current_version()
    src = spark.createDataFrame([("h2", "Z")], "hash string, serial string")
    res = store.merge(
        src,
        when_matched_set={"serial": "src.serial"},
        matched_condition="t.serial IS NULL",  # h2 already set → nothing
    )
    assert res == {"updated": 0, "inserted": 0}
    assert store.current_version() == v0


def _fragment_drm_store(spark, path):
    """The ``_store`` rows plus upload columns, with one appended DRM row:
    DRM then holds two data files (fragmented), BTF one."""
    store = StateStore(spark, str(path))
    schema = (
        "hash string, device_type string, serial string, n_seen int,"
        " dmp_id string, is_uploaded boolean"
    )
    rows = [
        ("h1", "DRM", None, 0, "g1", False),
        ("h2", "DRM", "serial-2", 5, "g2", False),
        ("h3", "BTF", None, 1, "g3", False),
    ]
    store.init(spark.createDataFrame(rows, schema))
    store.append_new(
        spark.createDataFrame([("h4", "DRM", None, 0, "g4", False)], schema)
    )
    return store


SELECTIVE_TRANSITIONS = {
    "merge": lambda spark, store: store.merge(
        spark.createDataFrame([("h1", "s-1")], "hash string, serial string"),
        when_matched_set={"serial": "src.serial"},
        partition_value="DRM",
    )["updated"],
    "merge_non_overwrite": lambda spark, store: store.merge_non_overwrite(
        spark.createDataFrame([("h1", "s-1")], "hash string, serial string"),
        ("serial",),
        partition_value="DRM",
    ),
    "mark_uploaded": lambda spark, store: store.mark_uploaded(
        spark.createDataFrame([("g1",)], "dmp_id string"), partition_value="DRM"
    ),
    "compact_selective": lambda spark, store: store.compact(partition_value="DRM"),
    "compact_all_partitions": lambda spark, store: store.compact(),
}


@pytest.mark.parametrize("transition", list(SELECTIVE_TRANSITIONS))
def test_merge_partition_selective_hardlinks_other_partitions(
    spark, tmp_path, transition
):
    """Every row-rewriting transition scoped to DRM (by ``partition_value``,
    or by all-partitions compaction finding only DRM fragmented) rewrites
    DRM and hardlinks the BTF partition's data files into the new snapshot."""
    store = _fragment_drm_store(spark, tmp_path / "s")
    v0 = store.current_version()
    files_before = _data_files(store._snapshot_dir(v0))
    btf_before = {
        rel: ino
        for rel, ino in files_before.items()
        if rel.startswith("device_type=BTF")
    }
    assert btf_before
    assert SELECTIVE_TRANSITIONS[transition](spark, store) == 1
    assert store.current_version() != v0
    files_now = _data_files(store._snapshot_dir(store.current_version()))
    for rel, ino in btf_before.items():
        assert files_now.get(rel) == ino  # BTF partition untouched
    drm_now = {
        ino for rel, ino in files_now.items() if rel.startswith("device_type=DRM")
    }
    assert drm_now and not drm_now & set(files_before.values())  # DRM rewritten
    # and every row is still readable/intact
    assert sorted(r["hash"] for r in store.read().collect()) == [
        "h1", "h2", "h3", "h4",
    ]


def test_incremental_aggregate_maintenance(spark, tmp_path):
    """Materialized-view pattern on the general MERGE: per-key counts are
    maintained incrementally (counter bump + insert-new-keys per batch) and
    stay equal to a full recompute over everything seen so far."""
    day0 = spark.createDataFrame(
        [("click", 3), ("view", 5)], "event_type string, n long"
    )
    day1 = spark.createDataFrame(
        [("click", 2), ("purchase", 1)], "event_type string, n long"
    )
    store = StateStore(
        spark, str(tmp_path / "mv"), key="event_type", partition_by=()
    )
    store.init(day0)
    res = store.merge(
        day1,
        when_matched_set={"n": "t.n + src.n"},
        insert_when_not_matched=True,
    )
    assert res == {"updated": 1, "inserted": 1}
    got = {r["event_type"]: r["n"] for r in store.read().collect()}
    assert got == {"click": 5, "view": 5, "purchase": 1}
