"""Compaction + checkpoint-reset guard for the batch-id-keyed streaming
accumulations (streaming/accum.py — r8 verdict #4 and the jsonl_ingest
ADVICE item): folding committed batch directories must never change what
a reader sees, a replayed batch must stay idempotent after compaction,
and a fresh checkpoint over an existing accumulation must refuse to
start instead of silently renumbering batches over it."""

import os

import pytest
from pyspark.sql import functions as F

from ideafast_etl_spark.sources.jsonl import parse_jsonl_lines, read_jsonl
from ideafast_etl_spark.streaming.accum import (
    _batch_dirs,
    compact_accumulation,
    guard_fresh_checkpoint,
    live_paths,
    read_accumulation,
)
from ideafast_etl_spark.streaming.jsonl_ingest import (
    read_ingested,
    run_jsonl_ingest_stream,
)

SCHEMA = "doc_id long, text string"


def _setup(tmp_path):
    for d in ("src", "corpus", "quar"):
        (tmp_path / d).mkdir()
    return (
        str(tmp_path / "src"),
        str(tmp_path / "corpus"),
        str(tmp_path / "quar"),
        str(tmp_path / "ckpt"),
    )


def _drain(spark, src, corpus, quar, ckpt, **kw):
    q = run_jsonl_ingest_stream(spark, src, SCHEMA, corpus, quar, ckpt, **kw)
    q.awaitTermination()


def _shard(tmp_path, name, ids):
    (tmp_path / "src" / name).write_text(
        "".join(f'{{"doc_id": {i}, "text": "t{i}"}}\n' for i in ids)
        + "BROKEN\n"
    )


def test_compaction_read_equivalence(spark, tmp_path):
    """Three drains with auto-compaction: the accumulated corpus and
    quarantine stay row-identical to the batch reader on the shard
    union, while the batch directories fold into one snapshot."""
    src, corpus, quar, ckpt = _setup(tmp_path)
    _shard(tmp_path, "w1.jsonl", [1, 2])
    _drain(spark, src, corpus, quar, ckpt, compact_after_batches=2)
    _shard(tmp_path, "w2.jsonl", [3])
    _drain(spark, src, corpus, quar, ckpt, compact_after_batches=2)
    _shard(tmp_path, "w3.jsonl", [4, 5])
    _drain(spark, src, corpus, quar, ckpt, compact_after_batches=2)

    got = sorted(
        map(tuple, read_ingested(spark, corpus).select("doc_id", "text").collect())
    )
    good_b, quar_b = read_jsonl(spark, f"{src}/*.jsonl", SCHEMA)
    assert got == sorted(map(tuple, good_b.select("doc_id", "text").collect()))
    assert read_ingested(spark, quar).count() == quar_b.count() == 3
    # directories actually folded: at most the post-compaction tail remains
    assert os.path.isdir(f"{corpus}/compactdata-1")
    assert set(_batch_dirs(corpus)) == {2}


def test_post_compaction_replay_is_idempotent(spark, tmp_path):
    """A batch replayed after compaction (crash between its write and the
    checkpoint commit) overwrites its own directory and nothing else —
    the replayable batch is by definition uncommitted, so it was never
    folded."""
    src, corpus, quar, ckpt = _setup(tmp_path)
    _shard(tmp_path, "w1.jsonl", [1])
    _drain(spark, src, corpus, quar, ckpt)
    _shard(tmp_path, "w2.jsonl", [2])
    _drain(spark, src, corpus, quar, ckpt)
    folded = compact_accumulation(spark, corpus, ckpt)
    assert folded == 2

    # crash mid-batch-2: the cycle body ran (batch-2 written) but the
    # commit never landed
    (tmp_path / "src" / "w3.jsonl").write_text('{"doc_id": 3, "text": "x"}\n')
    lines = spark.read.text(f"{src}/w3.jsonl")
    good, _bad = parse_jsonl_lines(lines, SCHEMA)
    good.write.mode("overwrite").parquet(f"{corpus}/batch-2")

    # restart: structured streaming replays batch 2 over the same shard
    _drain(spark, src, corpus, quar, ckpt)
    got = sorted(r.doc_id for r in read_ingested(spark, corpus).collect())
    assert got == [1, 2, 3]

    # and compacting again folds the replayed batch cleanly
    compact_accumulation(spark, corpus, ckpt)
    got = sorted(r.doc_id for r in read_ingested(spark, corpus).collect())
    assert got == [1, 2, 3]
    assert not _batch_dirs(corpus)


def test_fresh_checkpoint_over_existing_data_refuses(spark, tmp_path):
    src, corpus, quar, ckpt = _setup(tmp_path)
    _shard(tmp_path, "w1.jsonl", [1])
    _drain(spark, src, corpus, quar, ckpt)
    import shutil

    shutil.rmtree(ckpt)
    with pytest.raises(ValueError, match="checkpoint"):
        run_jsonl_ingest_stream(spark, src, SCHEMA, corpus, quar, ckpt)
    # a genuinely fresh pairing still starts
    guard_fresh_checkpoint(str(tmp_path / "newckpt"), str(tmp_path / "newdir"))


def test_crash_window_read_stays_exact_and_repairs(spark, tmp_path):
    """Crash between the compact rename and the source removals leaves a
    folded batch directory on disk: read_accumulation must not double-
    count it, and the next compaction removes the remnant."""
    src, corpus, quar, ckpt = _setup(tmp_path)
    _shard(tmp_path, "w1.jsonl", [1])
    _drain(spark, src, corpus, quar, ckpt)
    _shard(tmp_path, "w2.jsonl", [2])
    _drain(spark, src, corpus, quar, ckpt)
    # snapshot batch-1, compact, then resurrect it = the crash remnant
    import shutil

    shutil.copytree(f"{corpus}/batch-1", str(tmp_path / "saved-batch-1"))
    assert compact_accumulation(spark, corpus, ckpt) == 2
    shutil.copytree(str(tmp_path / "saved-batch-1"), f"{corpus}/batch-1")

    assert {os.path.basename(p) for p in live_paths(corpus)} == {"compactdata-1"}
    got = sorted(r.doc_id for r in read_accumulation(spark, corpus).collect())
    assert got == [1, 2]  # no double count
    compact_accumulation(spark, corpus, ckpt)  # repair pass
    assert not _batch_dirs(corpus)
    got = sorted(r.doc_id for r in read_accumulation(spark, corpus).collect())
    assert got == [1, 2]


def test_detector_stream_with_compaction_keeps_batch_parity(spark, tmp_path):
    """The monitoring accumulation compacts mid-stream and the published
    report still equals the batch detector over the union."""
    import datetime as dt

    from ideafast_etl_spark.operators.timeseries import cusum_drift
    from ideafast_etl_spark.streaming.monitoring import run_cusum_stream

    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = dt.datetime(2024, 3, 1)

    def rows(base, vals):
        return [
            (base + i, t0 + dt.timedelta(hours=base + i), 1, float(v))
            for i, v in enumerate(vals)
        ]

    r1, r2 = rows(0, [100.0, 0.0, 0.0, 0.0]), rows(10, [0.0, 80.0, 90.0])
    src = str(tmp_path / "ev")
    accum, out, ckpt = (
        str(tmp_path / "accum"), str(tmp_path / "report"), str(tmp_path / "ck")
    )
    kw = dict(threshold=20.0, checkpoint_dir=ckpt, compact_after_batches=1)

    spark.createDataFrame(r1, schema).coalesce(1).write.mode("append").parquet(src)
    q = run_cusum_stream(spark, src, schema, accum, out, **kw)
    q.awaitTermination(120)
    spark.createDataFrame(r2, schema).coalesce(1).write.mode("append").parquet(src)
    q = run_cusum_stream(spark, src, schema, accum, out, **kw)
    q.awaitTermination(120)

    # batch 0 folded during batch 1's cycle; batch 1 (not yet committed
    # at its own cycle time) remains as the tail
    assert os.path.isdir(f"{accum}/compactdata-0")
    assert set(_batch_dirs(accum)) == {1}
    both = spark.createDataFrame(r1 + r2, schema)
    from ideafast_etl_spark.streaming.monitoring import latest_report_dir

    got = sorted(
        map(tuple, spark.read.parquet(latest_report_dir(out)).collect())
    )
    want = sorted(map(tuple, cusum_drift(both, threshold=20.0).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# Object-store commit protocol (r9 verdict #1): the compaction commit is a
# single manifest-file PUT — no renames anywhere in the Python commit path —
# and every crash window (mid-data-write, mid-manifest-write "pointer
# crash", post-commit pre-removal) reads exact and self-repairs.
# ---------------------------------------------------------------------------

import json
import shutil

from ideafast_etl_spark.streaming.accum import (
    _compact_dir,
    _manifest_path,
    _read_manifest,
)


def _fake_accum(spark, root, ckpt, batches, committed):
    """Fabricate an accumulation + checkpoint exactly as N drained
    micro-batches leave them: one batch-<id> parquet dir per drain, an
    offsets entry per started batch, a commits marker per finished one."""
    os.makedirs(f"{ckpt}/offsets", exist_ok=True)
    os.makedirs(f"{ckpt}/commits", exist_ok=True)
    for bid, ids in batches.items():
        spark.createDataFrame(
            [(i, f"t{i}") for i in ids], SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/batch-{bid}")
        with open(f"{ckpt}/offsets/{bid}", "w") as f:
            f.write("{}")
    for bid in committed:
        with open(f"{ckpt}/commits/{bid}", "w") as f:
            f.write("{}")


def _ids(spark, root):
    return sorted(r.doc_id for r in read_accumulation(spark, root).collect())


def test_commit_protocol_is_rename_free(spark, tmp_path, monkeypatch):
    """Simulated rename-less filesystem (object store: create/PUT/delete
    only): compaction — including a second fold that rewrites the
    previous snapshot — must complete without ever calling a rename."""

    def boom(*a, **k):  # pragma: no cover - the assertion IS the test
        raise AssertionError("rename used in the accumulation commit path")

    monkeypatch.setattr(os, "rename", boom)
    monkeypatch.setattr(os, "replace", boom)
    monkeypatch.setattr(shutil, "move", boom)

    root, ckpt = str(tmp_path / "acc"), str(tmp_path / "ck")
    _fake_accum(spark, root, ckpt, {0: [1], 1: [2]}, {0, 1})
    assert compact_accumulation(spark, root, ckpt) == 2
    assert _ids(spark, root) == [1, 2]
    # second fold: previous snapshot + a new committed batch
    _fake_accum(spark, root, ckpt, {2: [3]}, {2})
    assert compact_accumulation(spark, root, ckpt) == 1
    assert _ids(spark, root) == [1, 2, 3]
    assert {os.path.basename(p) for p in live_paths(root)} == {"compactdata-2"}


def test_pointer_crash_truncated_manifest_is_ignored_and_repaired(
    spark, tmp_path
):
    """Crash mid-manifest-write: the truncated manifest fails its
    checksum, so readers resolve the PREVIOUS snapshot plus the
    still-present batch dirs — exact rows, no double count — and the
    next compaction discards the remnants and re-commits."""
    root, ckpt = str(tmp_path / "acc"), str(tmp_path / "ck")
    _fake_accum(spark, root, ckpt, {0: [1], 1: [2]}, {0, 1})
    assert compact_accumulation(spark, root, ckpt) == 2

    # a crashed second compaction: data dir fully written, manifest cut
    # off halfway through the PUT
    _fake_accum(spark, root, ckpt, {2: [3]}, {2})
    spark.read.parquet(f"{root}/compactdata-1", f"{root}/batch-2").write.mode(
        "overwrite"
    ).parquet(f"{root}/compactdata-2")
    full = json.dumps(
        {"payload": {"hwm": 2, "data": "compactdata-2"}, "sha256": "0" * 64}
    )
    with open(_manifest_path(root, 2), "w") as f:
        f.write(full[: len(full) // 2])

    assert _read_manifest(_manifest_path(root, 2)) is None
    assert _compact_dir(root)[0] == 1  # previous commit still authoritative
    assert _ids(spark, root) == [1, 2, 3]  # compactdata-1 + batch-2, once

    assert compact_accumulation(spark, root, ckpt) == 1  # repair + re-commit
    assert _ids(spark, root) == [1, 2, 3]
    assert _compact_dir(root)[0] == 2
    assert not os.path.exists(f"{root}/batch-2")


def test_crash_after_data_before_manifest_is_invisible(spark, tmp_path):
    """Crash between the snapshot data write and the manifest PUT: the
    unreferenced compactdata dir is invisible to readers and removed by
    the next compaction's repair pass."""
    root, ckpt = str(tmp_path / "acc"), str(tmp_path / "ck")
    _fake_accum(spark, root, ckpt, {0: [1], 1: [2]}, {0, 1})
    # the crashed attempt: data landed, commit (manifest) never did
    spark.read.parquet(f"{root}/batch-0", f"{root}/batch-1").write.parquet(
        f"{root}/compactdata-1"
    )
    assert _compact_dir(root) is None
    assert _ids(spark, root) == [1, 2]  # batch dirs only, no double count

    assert compact_accumulation(spark, root, ckpt) == 2  # retry overwrites
    assert _ids(spark, root) == [1, 2]
    assert _compact_dir(root)[0] == 1


# ---------------------------------------------------------------------------
# Retention (r9 verdict #6): log accumulations expire rows older than a
# committed-batch horizon at compaction time; replay idempotence and the
# exactly-once markers survive a retention pass.
# ---------------------------------------------------------------------------


def test_retention_expires_old_rows_at_compaction(spark, tmp_path):
    root, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    # rows carry their producing batch id (the quarantine/pair-log shape)
    os.makedirs(f"{ckpt}/offsets", exist_ok=True)
    os.makedirs(f"{ckpt}/commits", exist_ok=True)
    for bid in range(4):
        spark.createDataFrame(
            [(bid, f"line-{bid}")], "batch_id long, line string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/batch-{bid}")
        for d in ("offsets", "commits"):
            with open(f"{ckpt}/{d}/{bid}", "w") as f:
                f.write("{}")

    assert compact_accumulation(spark, root, ckpt, retain_batches=2) == 4
    kept = sorted(r.batch_id for r in read_accumulation(spark, root).collect())
    assert kept == [2, 3]  # horizon = hwm(3) - 2 → batches 0,1 expired

    # a later drain + retention pass moves the horizon forward
    spark.createDataFrame(
        [(4, "line-4")], "batch_id long, line string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/batch-4")
    for d in ("offsets", "commits"):
        with open(f"{ckpt}/{d}/4", "w") as f:
            f.write("{}")
    assert compact_accumulation(spark, root, ckpt, retain_batches=2) == 1
    kept = sorted(r.batch_id for r in read_accumulation(spark, root).collect())
    assert kept == [3, 4]


def test_retention_preserves_replay_idempotence(spark, tmp_path):
    """A batch replayed AFTER a retention pass (crash between its write
    and the checkpoint commit) still overwrites only its own directory,
    and the next retention compaction converges — expired rows stay
    expired, the replayed rows land exactly once."""
    root, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    os.makedirs(f"{ckpt}/offsets", exist_ok=True)
    os.makedirs(f"{ckpt}/commits", exist_ok=True)

    def _write(bid, committed=True):
        spark.createDataFrame(
            [(bid, f"line-{bid}")], "batch_id long, line string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/batch-{bid}")
        with open(f"{ckpt}/offsets/{bid}", "w") as f:
            f.write("{}")
        if committed:
            with open(f"{ckpt}/commits/{bid}", "w") as f:
                f.write("{}")

    for bid in range(3):
        _write(bid)
    assert compact_accumulation(spark, root, ckpt, retain_batches=2) == 3

    # batch 3 written but crash before commit; restart replays it
    _write(3, committed=False)
    _write(3, committed=False)  # the replay: same dir, overwrite
    with open(f"{ckpt}/commits/3", "w") as f:
        f.write("{}")

    got = sorted(r.batch_id for r in read_accumulation(spark, root).collect())
    assert got == [1, 2, 3]  # batch 0 stays expired, batch 3 exactly once
    assert compact_accumulation(spark, root, ckpt, retain_batches=2) == 1
    got = sorted(r.batch_id for r in read_accumulation(spark, root).collect())
    assert got == [2, 3]


def test_retention_all_rows_expired_stays_readable(spark, tmp_path):
    root, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    os.makedirs(f"{ckpt}/offsets", exist_ok=True)
    os.makedirs(f"{ckpt}/commits", exist_ok=True)
    spark.createDataFrame(
        [(0, "old")], "batch_id long, line string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/batch-0")
    for d in ("offsets", "commits"):
        with open(f"{ckpt}/{d}/5", "w") as f:
            f.write("{}")
    os.replace(f"{root}/batch-0", f"{root}/batch-5")
    assert compact_accumulation(spark, root, ckpt, retain_batches=1) == 1
    # batch 5's row has batch_id 0 → expired; the snapshot must still read
    assert read_accumulation(spark, root).count() == 0
    assert read_accumulation(spark, root).columns == ["batch_id", "line"]


def test_jsonl_quarantine_retention_e2e(spark, tmp_path):
    """End-to-end: the quarantine ages out by the configured horizon
    while the corpus keeps every good row."""
    src, corpus, quar, ckpt = _setup(tmp_path)
    kw = dict(compact_after_batches=1, quarantine_retain_batches=1)
    _shard(tmp_path, "w1.jsonl", [1])
    _drain(spark, src, corpus, quar, ckpt, **kw)
    _shard(tmp_path, "w2.jsonl", [2])
    _drain(spark, src, corpus, quar, ckpt, **kw)
    _shard(tmp_path, "w3.jsonl", [3])
    _drain(spark, src, corpus, quar, ckpt, **kw)

    good = sorted(r.doc_id for r in read_ingested(spark, corpus).collect())
    assert good == [1, 2, 3]  # corpus NEVER retention-filtered
    # each drain wrote one BROKEN quarantine line; after the final
    # compaction only batches > hwm-1 survive in the snapshot, plus the
    # uncompacted tail batch
    quar_batches = sorted(
        r.batch_id for r in read_ingested(spark, quar).collect()
    )
    assert len(quar_batches) < 3
    assert quar_batches[-1] == 2
