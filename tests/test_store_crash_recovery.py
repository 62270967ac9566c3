"""Crash-recovery fuzz for the state store's write paths (r7 verdict
directive 5): simulate a kill at every stage of the commit protocol for
``append_new`` / ``merge_non_overwrite`` / ``mark_uploaded`` —

  staged              after the data write into the (unreferenced) final
                      v_<version> dir, before the manifest PUT
  cdc_staged          (append only) after the CDC entry is staged, mid
                      old-file link
  manifest_truncated  the manifest PUT itself crashed: the file exists
                      but fails its self-checksum
  committed           after the manifest PUT, before the CDC finalize

— and assert the two recovery invariants:

  1. a reopened store reads back exactly the PRE-write snapshot for every
     pre-manifest-commit crash (and the post-write one for `committed`), and
     the CDC log never exposes rows of an uncommitted version (staged
     entries live under an underscore-prefixed dir Spark readers skip);
  2. a RETRY of the same operation converges: final state equals a clean
     run on a control store, each append's CDC entry is published exactly
     once, and no orphan staging survives.

The kill is injected by swapping the instance's ``_commit``/``_link_tree``
with a variant that raises at the chosen point — byte-for-byte the same
on-disk intermediate state a SIGKILL would leave, because every protocol
step is a filesystem operation.
"""

import os

import pytest
from pyspark.sql import functions as F

from ideafast_etl_spark.state import StateStore

SCHEMA = (
    "hash string, device_type string, dmp_id string, is_uploaded boolean,"
    " device_id string"
)
BASE_ROWS = [
    ("h1", "DRM", "d1", False, None),
    ("h2", "DRM", "d1", False, "dev-2"),
    ("h3", "BTF", "d2", False, None),
]
NEW_ROWS = [
    ("h4", "DRM", "d3", False, None),
    ("h5", "BTF", "d3", False, None),
]


class Crash(RuntimeError):
    pass


def _mkstore(spark, path):
    store = StateStore(spark, str(path))
    store.init(spark.createDataFrame(BASE_ROWS, SCHEMA))
    return store


def _arm(store, point):
    """Replace the store's _commit (and for cdc_staged, _link_tree) so the
    next write dies at `point`, leaving exactly the on-disk state a kill
    there would leave."""
    if point == "cdc_staged":
        orig_link = store._link_tree

        def link(src_dir, out_dir):
            # first call stages the CDC entry; the second (old-file link
            # into the staging dir) dies after linking a single file
            if "_tmp_commit_version=" in out_dir:
                return orig_link(src_dir, out_dir)
            for root, _dirs, files in os.walk(src_dir):
                for fn in files:
                    if fn.startswith(("_", ".")):
                        continue
                    rel = os.path.relpath(root, src_dir)
                    d = out_dir if rel == "." else os.path.join(out_dir, rel)
                    os.makedirs(d, exist_ok=True)
                    os.link(os.path.join(root, fn), os.path.join(d, fn))
                    raise Crash()
            raise Crash()

        store._link_tree = link
        return

    def commit(version, out):
        if point == "staged":
            raise Crash()
        if point == "manifest_truncated":
            # a crashed manifest PUT: the file exists but fails the
            # self-checksum, so readers must ignore it
            from ideafast_etl_spark.state.manifest import manifest_path

            os.makedirs(store._meta_dir(), exist_ok=True)
            with open(
                manifest_path(store._meta_dir(), int(version)), "w"
            ) as f:
                f.write('{"id": %d, "payload": {"vers' % int(version))
            raise Crash()
        store._commit_manifest(version)
        raise Crash()  # point == "committed": before finalize / return

    store._commit = commit


def _disarm(store):
    store.__dict__.pop("_commit", None)
    store.__dict__.pop("_link_tree", None)


def _rows(store):
    return sorted(map(tuple, store.read().collect()))


def _cdc_rows(spark, store):
    """Rows visible through the PUBLISHED change log only."""
    if not os.path.isdir(store.cdc_path()) or not any(
        d.startswith("commit_version=") for d in os.listdir(store.cdc_path())
    ):
        return []
    return sorted(
        map(
            tuple,
            spark.read.parquet(store.cdc_path())
            .drop("commit_version")
            .collect(),
        )
    )


def _apply(op, spark, store):
    if op == "append_new":
        return store.append_new(spark.createDataFrame(NEW_ROWS, SCHEMA))
    if op == "merge_non_overwrite":
        upd = spark.createDataFrame(
            [("h1", "dev-1"), ("h3", "dev-3")], "hash string, device_id string"
        )
        return store.merge_non_overwrite(upd, ("device_id",))
    if op == "mark_uploaded":
        done = spark.createDataFrame([("d1",)], "dmp_id string")
        return store.mark_uploaded(done)
    raise AssertionError(op)


OPS = ["append_new", "merge_non_overwrite", "mark_uploaded"]
POINTS = ["staged", "manifest_truncated", "committed"]


@pytest.mark.parametrize("op", OPS)
@pytest.mark.parametrize("point", POINTS)
def test_crash_then_retry_converges(spark, tmp_path, op, point):
    store = _mkstore(spark, tmp_path / "s")
    control = _mkstore(spark, tmp_path / "control")
    pre_rows = _rows(store)
    pre_cdc = _cdc_rows(spark, store)

    _arm(store, point)
    with pytest.raises(Crash):
        _apply(op, spark, store)
    _disarm(store)

    # invariant 1: a fresh open sees a consistent snapshot — pre-write for
    # any crash before the manifest commit, post-write after it — and the
    # published CDC never contains rows of an uncommitted version
    reopened = StateStore(spark, str(tmp_path / "s"))
    if point == "committed":
        assert _rows(reopened) != pre_rows
    else:
        assert _rows(reopened) == pre_rows
        assert _cdc_rows(spark, reopened) == pre_cdc

    # invariant 2: retry converges to the clean-run result
    n_control = _apply(op, spark, control)
    n_retry = _apply(op, spark, reopened)
    if point == "committed":
        # the first attempt's effects are already in: append retries insert
        # nothing new; mark_uploaded observes nothing left to flip.
        # merge_non_overwrite reports rows MATCHED (its documented return),
        # so the retry reports them again — content is still idempotent,
        # which the state comparison below proves.
        assert n_retry == (n_control if op == "merge_non_overwrite" else 0)
    else:
        assert n_retry == n_control
    assert _rows(reopened) == _rows(control)
    # CDC published exactly once per committed append, zero for merges
    assert _cdc_rows(spark, reopened) == _cdc_rows(spark, control)
    # no staged CDC entry survives the recovered retry
    assert not [
        d
        for d in os.listdir(reopened.cdc_path())
        if d.startswith("_tmp_commit_version=")
    ] if os.path.isdir(reopened.cdc_path()) else True


def test_append_crash_mid_link_recovers(spark, tmp_path):
    """The widest window: CDC staged, old-file hardlinking half done. The
    staged CDC entry must stay invisible, a reopened store must read the
    pre-write snapshot, and the retry must publish the delta exactly
    once."""
    store = _mkstore(spark, tmp_path / "s")
    control = _mkstore(spark, tmp_path / "control")
    pre_rows = _rows(store)
    pre_cdc = _cdc_rows(spark, store)

    _arm(store, "cdc_staged")
    with pytest.raises(Crash):
        _apply("append_new", spark, store)
    _disarm(store)

    reopened = StateStore(spark, str(tmp_path / "s"))
    assert _rows(reopened) == pre_rows
    assert _cdc_rows(spark, reopened) == pre_cdc  # phantom never published

    n = _apply("append_new", spark, reopened)
    assert n == _apply("append_new", spark, control) == len(NEW_ROWS)
    assert _rows(reopened) == _rows(control)
    assert _cdc_rows(spark, reopened) == _cdc_rows(spark, control)
    # recover() (run by the retry) dropped the uncommitted staged entry
    tmp_entries = [
        d
        for d in os.listdir(reopened.cdc_path())
        if d.startswith("_tmp_commit_version=")
    ]
    assert tmp_entries == []


def test_committed_crash_cdc_finalized_on_next_write(spark, tmp_path):
    """Crash AFTER the manifest commit but BEFORE the CDC finalize: the
    append is durable but its change entry is still staged. The next
    write's recover() must publish it — committed appends reach the CDC
    exactly once, even across this crash."""
    store = _mkstore(spark, tmp_path / "s")
    base_cdc = len(_cdc_rows(spark, store))

    _arm(store, "committed")
    with pytest.raises(Crash):
        _apply("append_new", spark, store)
    _disarm(store)

    reopened = StateStore(spark, str(tmp_path / "s"))
    # durable, but the entry is staged (invisible) until recovery runs
    assert len(_cdc_rows(spark, reopened)) == base_cdc
    stats = reopened.recover()
    assert stats["cdc_finalized"] == 1
    assert len(_cdc_rows(spark, reopened)) == base_cdc + len(NEW_ROWS)
    # and running recover again is idempotent
    assert reopened.recover() == {
        "cdc_finalized": 0,
        "cdc_dropped": 0,
        "staging_cleared": 0,
    }


def test_store_commit_protocol_is_rename_free(spark, tmp_path, monkeypatch):
    """r10 verdict #6: every SNAPSHOT commit point (init, append, merge,
    mark_uploaded, GC) runs on create/delete-only filesystem ops — no
    os.rename/os.replace/shutil.move anywhere in the protocol, so it
    holds on object storage. The CDC change log is excluded by design
    (hardlinks + a rename publish on the POSIX filesystem the store
    requires; log_appends=False here)."""
    import shutil as _sh

    from ideafast_etl_spark.state import StateStore

    def boom(*a, **k):  # pragma: no cover - the assertion IS the test
        raise AssertionError("rename used in the store commit path")

    monkeypatch.setattr(os, "rename", boom)
    monkeypatch.setattr(os, "replace", boom)
    monkeypatch.setattr(_sh, "move", boom)

    store = StateStore(spark, str(tmp_path / "s"), log_appends=False)
    store.init(spark.createDataFrame(BASE_ROWS, SCHEMA))
    assert store.append_new(spark.createDataFrame(NEW_ROWS, SCHEMA)) == 2
    upd = spark.createDataFrame(
        [("h1", "dev-1")], "hash string, device_id string"
    )
    store.merge_non_overwrite(upd, ("device_id",))
    store.mark_uploaded(spark.createDataFrame([("d1",)], "dmp_id string"))
    assert len(_rows(store)) == 5
