"""optimize_table maintenance op (operators/layout.py): compaction,
manifest-committed swap (rename-free, crash-repairable), data
preservation, Z-order variant, small-table no-op."""

import glob
import os
import shutil

from pyspark.sql import functions as F

from ideafast_etl_spark.operators.layout import optimize_table
from ideafast_etl_spark.state.manifest import (
    _dir_meta,
    manifest_path,
    resolve_dir,
)


def _read(spark, p):
    return spark.read.parquet(resolve_dir(p))


def test_compaction_preserves_data(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(40).write.parquet(p)
    before = sorted(
        map(tuple, spark.read.parquet(p).orderBy("id").collect())
    )
    stats = optimize_table(spark, p, target_file_mb=128)
    assert stats["skipped"] is False
    assert stats["files_before"] == 40
    assert stats["files_after"] < 40
    assert stats["dir"] == resolve_dir(p) == p + ".v1"
    after = sorted(map(tuple, _read(spark, p).orderBy("id").collect()))
    assert after == before
    # r11 advice: the flat legacy dir gets ONE commit of reader grace
    # (an in-flight scan that resolved it keeps its files), then retires
    assert os.path.isdir(p)
    # a second optimize compacts the committed dir and supersedes it
    stats2 = optimize_table(spark, p, target_file_mb=128,
                            min_files_to_compact=1)
    assert stats2["dir"] == p + ".v2"
    assert os.path.isdir(p + ".v1")  # grace window: prev dir kept 1 commit
    assert not os.path.isdir(p)  # legacy flat dir retired on 2nd commit
    assert sorted(
        map(tuple, _read(spark, p).orderBy("id").collect())
    ) == before
    stats3 = optimize_table(spark, p, target_file_mb=128,
                            min_files_to_compact=1)
    assert stats3["dir"] == p + ".v3"
    assert not os.path.isdir(p + ".v1")  # out of grace: deleted
    assert os.path.isdir(p + ".v2")  # new grace holder


def test_small_table_noop(spark, tmp_path):
    p = str(tmp_path / "small")
    spark.range(10).coalesce(2).write.parquet(p)
    stats = optimize_table(spark, p)
    assert stats["skipped"] is True and stats["files_after"] == stats["files_before"]
    assert stats["dir"] == p  # flat layout untouched


def test_zorder_variant_clusters(spark, tmp_path):
    p = str(tmp_path / "z")
    df = spark.range(20_000).select(
        (F.col("id") % 100).cast("double").alias("x"),
        ((F.col("id") * 37) % 100).cast("double").alias("y"),
    )
    df.repartition(30).write.parquet(p)
    stats = optimize_table(
        spark, p, target_file_mb=1, zorder=("x", "y", (0.0, 100.0), (0.0, 100.0))
    )
    assert stats["skipped"] is False
    got = _read(spark, p)
    assert got.count() == 20_000
    # clustered layout: a selective x-filter reads fine and results match
    assert got.filter(F.col("x") < 10).count() == df.filter(F.col("x") < 10).count()


def test_commit_is_rename_free(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "rf")
    spark.range(5_000).repartition(20).write.parquet(p)
    before = sorted(map(tuple, spark.read.parquet(p).collect()))

    def boom(*a, **k):  # pragma: no cover - the assertion IS the test
        raise AssertionError("rename used in the optimize commit path")

    monkeypatch.setattr(os, "rename", boom)
    monkeypatch.setattr(os, "replace", boom)
    monkeypatch.setattr(shutil, "move", boom)
    optimize_table(spark, p, target_file_mb=128)
    optimize_table(spark, p, target_file_mb=128, min_files_to_compact=1)
    assert sorted(map(tuple, _read(spark, p).collect())) == before


def test_crashed_attempt_is_invisible_then_repaired(spark, tmp_path):
    """Crash matrix: (a) staged dir written, no manifest; (b) manifest
    truncated mid-PUT. Both leave the previous state authoritative; the
    next optimize converges and cleans up."""
    p = str(tmp_path / "crash")
    spark.range(5_000).repartition(20).write.parquet(p)
    before = sorted(map(tuple, spark.read.parquet(p).collect()))

    # (a) staged-but-uncommitted dir from a crashed attempt
    spark.range(3).write.parquet(p + ".v1")
    assert resolve_dir(p) == p  # unreferenced dir is invisible
    assert sorted(map(tuple, _read(spark, p).collect())) == before

    # (b) plus a truncated manifest PUT for it
    os.makedirs(_dir_meta(p), exist_ok=True)
    with open(manifest_path(_dir_meta(p), 1), "w") as f:
        f.write('{"id": 1, "payload": {"ver"')
    assert resolve_dir(p) == p  # fails checksum, ignored
    assert sorted(map(tuple, _read(spark, p).collect())) == before

    # the retry commits for real at the crashed attempt's id: it clears
    # the unreferenced remnant, stages over it, and its manifest PUT
    # replaces the truncated one at the same key
    stats = optimize_table(spark, p, target_file_mb=128)
    assert stats["skipped"] is False and stats["files_before"] == 20
    assert stats["dir"] == p + ".v1"
    # no remnant row survives the restage
    assert sorted(map(tuple, _read(spark, p).collect())) == before
    assert sorted(os.listdir(_dir_meta(p))) == [
        os.path.basename(manifest_path(_dir_meta(p), 1))
    ]
    assert not glob.glob(p + ".__*")  # no old-protocol remnants ever
