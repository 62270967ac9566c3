"""State-store hardening: multi-column match counting, Delta-style
duplicate-source guard, cross-partition insert guard, crash-safe staging,
compaction threshold consistency, numeric CDC retention compare, recovery
before every rewrite, repeated upload-group guard."""

import os

import pytest
from pyspark.sql import functions as F

from ideafast_etl_spark.state import StateStore


def _store(spark, path, rows=None, schema=None):
    store = StateStore(spark, str(path))
    rows = rows or [
        ("h1", "DRM", None, None),
        ("h2", "DRM", "set-2", None),
        ("h3", "BTF", None, None),
    ]
    schema = schema or (
        "hash string, device_type string, col_a string, col_b string"
    )
    store.init(spark.createDataFrame(rows, schema))
    return store


def test_merge_non_overwrite_counts_match_when_first_set_col_null(spark, tmp_path):
    """A matched row whose FIRST update column is NULL but whose second
    carries a fill must count as matched — and the fill must persist
    (mirrors the reference's multi-field $set, hooks/db.py:88-125)."""
    store = _store(spark, tmp_path / "s")
    v0 = store.current_version()
    upd = spark.createDataFrame(
        [("h1", None, "filled-b")], "hash string, col_a string, col_b string"
    )
    n = store.merge_non_overwrite(upd, ("col_a", "col_b"))
    assert n == 1  # key matched, even though col_a's update value is NULL
    assert store.current_version() != v0  # commit was NOT discarded
    got = {r["hash"]: (r["col_a"], r["col_b"]) for r in store.read().collect()}
    assert got["h1"] == (None, "filled-b")
    assert got["h2"] == ("set-2", None)


def test_merge_duplicate_source_keys_raise_and_state_unchanged(spark, tmp_path):
    """Delta MERGE errors when multiple source rows match one target row;
    the snapshot store must fail the same way instead of fanning the join
    out into duplicated state rows."""
    store = _store(spark, tmp_path / "s")
    v0 = store.current_version()
    dup_src = spark.createDataFrame(
        [("h1", "DRM", "x", None), ("h1", "DRM", "y", None)],
        "hash string, device_type string, col_a string, col_b string",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        store.merge(
            dup_src,
            when_matched_set={"col_a": "src.col_a"},
            insert_when_not_matched=True,
        )
    assert store.current_version() == v0  # nothing published
    assert store.read().count() == 3
    # no orphan snapshot or staging dir left behind
    leftovers = [
        d
        for d in os.listdir(store.path)
        if d.startswith(("v_", "_tmp_v_")) and d != f"v_{v0}"
    ]
    assert leftovers == []


def test_update_only_merge_duplicate_source_keys_absent_from_target_raise(
    spark, tmp_path
):
    """Round-5 ADVICE fix: in an update-only merge (no insert clause) a
    duplicate source key that matches NO target row used to vanish inside
    the left_outer join before the duplicate observe — the documented
    ValueError contract silently passed. The join is full_outer with the
    observe ahead of the keep-filter now, so the guard fires."""
    store = _store(spark, tmp_path / "s")
    v0 = store.current_version()
    dup_src = spark.createDataFrame(
        [("h9", "DRM", "x", None), ("h9", "DRM", "y", None)],  # h9 ∉ target
        "hash string, device_type string, col_a string, col_b string",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        store.merge(
            dup_src,
            when_matched_set={"col_a": "src.col_a"},
            insert_when_not_matched=False,
        )
    assert store.current_version() == v0
    assert store.read().count() == 3


def test_update_only_merge_ignores_unique_unmatched_source_keys(spark, tmp_path):
    """The full_outer rewrite must not change update-only semantics: a
    UNIQUE source key absent from the target is ignored (no insert, no
    error), matched keys still update."""
    store = _store(spark, tmp_path / "s")
    src = spark.createDataFrame(
        [("h1", "DRM", "new-a", None), ("h9", "DRM", "zz", None)],
        "hash string, device_type string, col_a string, col_b string",
    )
    res = store.merge(
        src,
        when_matched_set={"col_a": "src.col_a"},
        insert_when_not_matched=False,
    )
    assert res == {"updated": 1, "inserted": 0}
    got = {r["hash"]: r["col_a"] for r in store.read().collect()}
    assert got["h1"] == "new-a"
    assert "h9" not in got  # not inserted


def test_merge_selective_insert_does_not_duplicate_cross_partition_key(
    spark, tmp_path
):
    """With partition_value + insert: a source key living in ANOTHER
    partition must not be re-inserted as a cross-partition duplicate."""
    store = _store(spark, tmp_path / "s")
    src = spark.createDataFrame(
        # h3 lives in BTF; h9 is genuinely new
        [("h3", "DRM", "a3", None), ("h9", "DRM", "a9", None)],
        "hash string, device_type string, col_a string, col_b string",
    )
    res = store.merge(
        src,
        when_matched_set={"col_a": "src.col_a"},
        insert_when_not_matched=True,
        partition_value="DRM",
    )
    assert res["inserted"] == 1  # only h9
    state = store.read()
    per_key = (
        state.groupBy("hash").count().filter(F.col("count") > 1).count()
    )
    assert per_key == 0  # no key lives in two partitions
    h3 = state.filter(F.col("hash") == "h3").collect()
    assert len(h3) == 1 and h3[0]["device_type"] == "BTF"
    assert h3[0]["col_a"] is None  # out of selective scope: not updated either
    assert state.filter(F.col("hash") == "h9").count() == 1


def test_crash_between_write_and_commit_leaves_history_intact(spark, tmp_path):
    """A staged-but-uncommitted snapshot (crash simulation) must not appear
    in versions(), must not break time travel, and must be cleaned up by
    the next successful commit's GC."""
    store = StateStore(spark, str(tmp_path / "s"), keep_versions=3)
    store.append_new(
        spark.createDataFrame(
            [("a", "DRM")], "hash string, device_type string"
        )
    )
    v0 = store.current_version()
    versions_before = store.versions()

    # crash: snapshot files written, pointer never swapped
    crash_df = spark.createDataFrame(
        [("zzz", "DRM")], "hash string, device_type string"
    )
    _version, out = store._write_uncommitted(crash_df)
    assert os.path.isdir(out)

    assert store.versions() == versions_before  # orphan invisible
    assert store.current_version() == v0
    assert {r["hash"] for r in store.read().collect()} == {"a"}  # no "zzz"
    assert {r["hash"] for r in store.read(version=v0).collect()} == {"a"}

    # next successful commit GCs the orphan staging dir
    store.append_new(
        spark.createDataFrame(
            [("b", "DRM")], "hash string, device_type string"
        )
    )
    assert not os.path.isdir(out)
    assert {r["hash"] for r in store.read().collect()} == {"a", "b"}
    # time travel to the pre-crash version still works
    assert {r["hash"] for r in store.read(version=v0).collect()} == {"a"}


@pytest.mark.parametrize("selective", [True, False])
def test_compact_threshold_consistent_at_exact_min_files(
    spark, tmp_path, selective
):
    """A partition holding EXACTLY min_files files compacts in both the
    selective and the all-partitions path (>= in both branches)."""
    store = StateStore(spark, str(tmp_path / f"s_{selective}"))
    store.init(
        spark.createDataFrame(
            [("x0", "DRM")], "hash string, device_type string"
        )
    )
    store.append_new(
        spark.createDataFrame(
            [("x1", "DRM")], "hash string, device_type string"
        )
    )
    n_files = store.file_counts()["device_type=DRM"]
    assert n_files >= 2
    if selective:
        assert store.compact(partition_value="DRM", min_files=n_files) == 1
    else:
        assert store.compact(min_files=n_files) == 1
    assert store.file_counts()["device_type=DRM"] == 1
    assert {r["hash"] for r in store.read().collect()} == {"x0", "x1"}


def test_truncate_cdc_compares_versions_numerically(spark, tmp_path):
    """A short numeric before_version ("999") must remove nothing: every
    commit version (time_ns, 19 digits) is numerically larger, while a
    string compare would call "1755..." < "999" and wipe the log."""
    store = StateStore(spark, str(tmp_path / "s"))
    store.append_new(
        spark.createDataFrame(
            [("a", "DRM")], "hash string, device_type string"
        )
    )
    store.append_new(
        spark.createDataFrame(
            [("b", "DRM")], "hash string, device_type string"
        )
    )
    n_commits = len(os.listdir(store.cdc_path()))
    assert n_commits == 2
    assert store.truncate_cdc(before_version="999") == 0
    assert len(os.listdir(store.cdc_path())) == n_commits
    # and the real retention path still works numerically
    assert store.truncate_cdc(before_version=str(10**20)) == n_commits


class _Crash(RuntimeError):
    pass


NEXT_WRITES = {
    "merge_non_overwrite": lambda spark, store: store.merge_non_overwrite(
        spark.createDataFrame([("h1", "a1")], "hash string, col_a string"),
        ("col_a",),
    ),
    "mark_uploaded": lambda spark, store: store.mark_uploaded(
        spark.createDataFrame([("g1",)], "dmp_id string")
    ),
    "merge": lambda spark, store: store.merge(
        spark.createDataFrame([("h1", "a1")], "hash string, col_a string"),
        when_matched_set={"col_a": "src.col_a"},
    )["updated"],
    "compact": lambda spark, store: store.compact(partition_value="DRM"),
    "_quarantined_delete": lambda spark, store: store._quarantined_delete(
        spark.createDataFrame([("h2",)], "hash string")
    ),
}


@pytest.mark.parametrize("next_write", list(NEXT_WRITES))
@pytest.mark.filterwarnings("ignore:Never use this method:UserWarning")
def test_write_after_crashed_append_publishes_its_change_log(
    spark, tmp_path, next_write
):
    """``append_new`` dies after its manifest PUT, before its CDC finalize.
    Whatever write comes next must recover first: it commits a newer
    version, and a staged change-log entry whose version is no longer the
    current one reads as uncommitted and is dropped — losing the rows of a
    committed append from the log."""
    schema = (
        "hash string, device_type string, dmp_id string, is_uploaded boolean,"
        " col_a string"
    )
    store = StateStore(spark, str(tmp_path / "s"))
    store.init(
        spark.createDataFrame(
            [("h1", "DRM", "g1", False, None), ("h2", "BTF", "g2", False, None)],
            schema,
        )
    )
    new_rows = [("h3", "DRM", "g3", False, None), ("h4", "BTF", "g3", False, None)]
    commit = store._commit

    def commit_then_crash(version, out):
        commit(version, out)
        raise _Crash()

    store._commit = commit_then_crash
    with pytest.raises(_Crash):
        store.append_new(spark.createDataFrame(new_rows, schema))
    store = StateStore(spark, store.path)  # the process restarts
    v = store.current_version()
    assert NEXT_WRITES[next_write](spark, store) == 1
    assert store.current_version() != v
    assert store.recover()["cdc_dropped"] == 0
    logged = spark.read.parquet(store.cdc_path()).select(
        "hash", "device_type", "dmp_id", "is_uploaded", "col_a"
    )
    assert sorted(map(tuple, logged.collect())) == new_rows


def test_mark_uploaded_rejects_a_repeated_group_id(spark, tmp_path):
    """A ``dmp_ids`` frame that lists a group twice would repeat every
    member row in the left join; like ``merge_non_overwrite`` it raises and
    commits nothing."""
    store = StateStore(spark, str(tmp_path / "s"))
    store.init(
        spark.createDataFrame(
            [
                ("h1", "DRM", "g1", False),
                ("h2", "DRM", "g1", False),
                ("h3", "DRM", "g2", False),
            ],
            "hash string, device_type string, dmp_id string, is_uploaded boolean",
        )
    )
    v = store.current_version()
    ids = spark.createDataFrame([("g1",), ("g1",)], "dmp_id string")
    with pytest.raises(ValueError, match="repeat a key"):
        store.mark_uploaded(ids, partition_value="DRM")
    assert store.current_version() == v
    assert sorted(r["hash"] for r in store.read().collect()) == ["h1", "h2", "h3"]
    assert [d for d in os.listdir(store.path) if d.startswith("v_")] == [f"v_{v}"]
