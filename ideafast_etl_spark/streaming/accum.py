"""Shared maintenance for batch-id-keyed streaming accumulations.

The streaming twins (monitoring.py, neardup.py, corpus.py,
jsonl_ingest.py) all accumulate state as ``<accum>/batch-<id>``
subdirectories written in OVERWRITE mode — O(delta) per drain and
replay-idempotent (a micro-batch replayed after a crash between its
write and the checkpoint commit lands on its own directory). Two costs
come with that discipline, both handled here:

1. **Checkpoint-reset hazard** (r8 ADVICE): batch ids are only
   monotonic while the checkpoint survives. If the checkpoint is
   deleted (or a caller reuses an accumulation directory with a fresh
   checkpoint), ids restart at 0 and "idempotent overwrite" silently
   destroys the earlier batch-0, batch-1, ... data.
   :func:`guard_fresh_checkpoint` refuses to start a stream in that
   state.

2. **Directory growth** (r8 verdict #4): one subdirectory per drained
   batch forever; the recursive parquet read degrades with file count.
   :func:`compact_accumulation` folds batches that are COMMITTED in the
   checkpoint into one consolidated ``compactdata-<maxid>`` snapshot.
   Committed batches are never replayed by structured streaming (a
   restart resumes at the first uncommitted id), so folding them can
   never collide with a replay: the only replayable batch has no commit
   marker yet and keeps its own ``batch-<id>`` directory, which still
   overwrites cleanly after any number of compactions.

**Commit protocol (object-store-safe, r9 verdict #1).** The repo's
100 TB posture targets object storage, where directory rename is
neither atomic nor guaranteed to exist — so the commit path here uses
only create-file / write-dir / delete operations (single-key PUT
semantics), never a rename:

- the consolidated snapshot's data files are written directly to their
  final directory ``compactdata-<hwm>`` (idempotent: a retry after a
  crash overwrites the partial attempt);
- the COMMIT POINT is the creation of one small immutable manifest
  file ``_compact/<hwm>.json`` carrying the snapshot's high-water
  batch id, its data-directory name, and a sha256 self-checksum. A
  manifest is never modified in place; readers resolve the snapshot by
  picking the highest-id manifest that parses, checksums, and whose
  data directory exists. A manifest truncated by a crash (or observed
  mid-PUT) fails the checksum and is ignored — the previous snapshot
  and the not-yet-removed sources are still live, so reads stay exact;
- only after the manifest lands are the folded sources (previous
  snapshot + batch dirs + superseded manifests) deleted. A crash in
  that window leaves rows present twice ON DISK — :func:`live_paths`
  is therefore the one true read path: it takes the newest committed
  snapshot and only the ``batch-<id>`` dirs ABOVE its high-water mark,
  so reads stay exact, and the next compaction (or stream start)
  deletes the remnants.

This is the manifest discipline of ``state/manifest.py``, shared with
the state store: an append-only metadata log with validity checks, as
in Delta's ``_last_checkpoint`` / Iceberg's metadata files. An
accumulation holding a rename-committed ``compact-<id>`` directory (the
layout before manifests) is refused with ``ValueError``: it is never
read, migrated or deleted.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..state.manifest import (
    latest_manifest,
    manifest_path,
    prune_manifests,
    put_manifest,
    read_manifest,
)

_BATCH_RE = re.compile(r"^batch-(\d+)$")
_LEGACY_COMPACT_RE = re.compile(r"^compact-\d+$")  # refused, never read
_DATA_RE = re.compile(r"^compactdata-(\d+)$")
_MANIFEST_DIRNAME = "_compact"  # underscore prefix: invisible to Spark scans


def _batch_dirs(accum_dir: str) -> dict[int, str]:
    """{batch_id: absolute path} of the batch subdirectories present."""
    root = accum_dir.rstrip("/")
    if not os.path.isdir(root):
        return {}
    out = {}
    for e in os.scandir(root):
        m = _BATCH_RE.match(e.name)
        if m and e.is_dir():
            out[int(m.group(1))] = e.path
    return out


def _manifest_dir(root: str) -> str:
    return os.path.join(root, _MANIFEST_DIRNAME)


def _manifest_path(root: str, hwm: int) -> str:
    return manifest_path(_manifest_dir(root), hwm)


def _read_manifest(path: str) -> tuple[int, str] | None:
    """(hwm, data dir name) if the manifest parses and self-checksums."""
    got = read_manifest(path)
    return (got[0], str(got[1]["data"])) if got else None


def _compact_dir(accum_dir: str) -> tuple[int, str] | None:
    """(high-water batch id, data path) of the newest COMMITTED
    consolidated snapshot: the highest-id valid manifest whose data
    directory exists. Every reader and writer resolves through here, so
    a rename-committed ``compact-<id>`` directory raises ``ValueError``
    before anything reads or repairs the accumulation."""
    root = accum_dir.rstrip("/")
    if not os.path.isdir(root):
        return None
    for e in os.scandir(root):
        if _LEGACY_COMPACT_RE.match(e.name) and e.is_dir():
            raise ValueError(
                f"accumulation {root!r} holds {e.name!r}: the rename-committed "
                "compact-<id> layout is no longer read or migrated"
            )
    got = latest_manifest(
        _manifest_dir(root),
        valid=lambda p: os.path.isdir(os.path.join(root, str(p["data"]))),
    )
    return (got[0], os.path.join(root, str(got[1]["data"]))) if got else None


def _checkpoint_used(checkpoint_dir: str) -> bool:
    """True once the checkpoint has recorded at least one batch offset —
    from then on batch ids resume monotonically across restarts."""
    offsets = os.path.join(checkpoint_dir, "offsets")
    return os.path.isdir(offsets) and any(
        not e.name.startswith(".") for e in os.scandir(offsets)
    )


def committed_ids(checkpoint_dir: str) -> set[int]:
    """Batch ids with a commit marker — the ones structured streaming will
    never replay, hence the only ones compaction may fold."""
    commits = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commits):
        return set()
    return {
        int(e.name)
        for e in os.scandir(commits)
        if e.name.isdigit()
    }


def guard_fresh_checkpoint(checkpoint_dir: str, *accum_dirs: str) -> None:
    """Refuse to start a drain whose FRESH checkpoint would renumber
    batches from 0 over an accumulation that already holds batch data —
    the overwrite discipline would silently destroy it (r8 ADVICE).
    Recover deliberately instead: point at a new accumulation directory,
    or restore/keep the original checkpoint."""
    if _checkpoint_used(checkpoint_dir):
        return
    for d in accum_dirs:
        if _compact_dir(d) or _batch_dirs(d):
            raise ValueError(
                f"accumulation directory {d!r} already contains batch data "
                f"but checkpoint {checkpoint_dir!r} is empty: a fresh "
                "checkpoint restarts batch ids at 0 and the batch-id-keyed "
                "overwrites would destroy the existing data. Use a new "
                "accumulation directory or restore the original checkpoint."
            )


def _repair(accum_dir: str) -> None:
    """Remove crash remnants (delete-only — safe under the single-writer
    contract): folded batch dirs at or below the committed high-water
    mark, data directories no valid manifest references (crashed or
    superseded snapshot writes), and manifests other than the winning one
    (truncated commit attempts and superseded entries)."""
    root = accum_dir.rstrip("/")
    if not os.path.isdir(root):
        return
    comp = _compact_dir(root)
    hwm = comp[0] if comp else -1
    live_data = os.path.basename(comp[1]) if comp else None
    for bid, path in _batch_dirs(root).items():
        if bid <= hwm:
            shutil.rmtree(path, ignore_errors=True)
    for e in os.scandir(root):
        if _DATA_RE.match(e.name) and e.is_dir() and e.name != live_data:
            shutil.rmtree(e.path, ignore_errors=True)
    prune_manifests(_manifest_dir(root), hwm if live_data else None)


def live_paths(accum_dir: str) -> list[str]:
    """The non-overlapping set of directories that together hold exactly
    one copy of every accumulated row — correct even in the
    crash-between-commit-and-removal window."""
    root = accum_dir.rstrip("/")
    comp = _compact_dir(root)
    hwm = comp[0] if comp else -1
    paths = [comp[1]] if comp else []
    paths.extend(
        p for bid, p in sorted(_batch_dirs(root).items()) if bid > hwm
    )
    return paths


def read_accumulation(spark: SparkSession, accum_dir: str) -> DataFrame:
    """The accumulated relation across all drained batches (consolidated
    snapshot + not-yet-compacted batch directories)."""
    paths = live_paths(accum_dir)
    if not paths:
        # preserve the historical recursive-read behavior (and its error
        # on a missing/empty accumulation)
        return spark.read.option("recursiveFileLookup", "true").parquet(
            accum_dir
        )
    return spark.read.option("recursiveFileLookup", "true").parquet(*paths)


def compact_accumulation(
    spark: SparkSession,
    accum_dir: str,
    checkpoint_dir: str,
    retain_batches: int | None = None,
    retain_col: str = "batch_id",
) -> int:
    """Fold every committed ``batch-<id>`` directory (plus the previous
    consolidated snapshot) into one ``compactdata-<maxid>`` snapshot
    committed by a manifest-file PUT; returns the number of batch
    directories folded. Replay-safe by construction: only committed ids
    fold, and the one batch a restart can replay is by definition
    uncommitted. Idempotent, crash-recoverable, and rename-free — see
    module docstring.

    ``retain_batches`` (r9 verdict #6) adds a retention horizon for LOG
    accumulations (dup-pair logs, quarantines) that would otherwise keep
    every row forever: the consolidated snapshot keeps only rows whose
    ``retain_col`` (stamped at write time by the producing stream) lies
    within the last ``retain_batches`` committed batches; older rows are
    expired AT COMPACTION TIME, never from live batch dirs. The horizon
    moves with the committed high-water mark, so replays cannot
    resurrect expired rows (the only replayable batch is above the
    high-water mark by definition), and the exactly-once machinery —
    checkpoint commit markers, batch-dir overwrite discipline — is
    untouched. Do NOT set it on state relations the stream reads back
    for decisions (e.g. near-dup signature state): expiring those
    re-admits what they remember."""
    root = accum_dir.rstrip("/")
    _repair(root)
    committed = committed_ids(checkpoint_dir)
    batches = _batch_dirs(root)
    fold = {bid: p for bid, p in batches.items() if bid in committed}
    if not fold:
        return 0
    comp = _compact_dir(root)
    new_hwm = max(fold)
    srcs = ([comp[1]] if comp else []) + [p for _, p in sorted(fold.items())]
    data_name = f"compactdata-{new_hwm}"
    # data first (invisible until a manifest references it; a crashed
    # attempt is overwritten by the retry), then the manifest PUT commits
    folded = spark.read.option("recursiveFileLookup", "true").parquet(*srcs)
    if retain_batches is not None:
        from pyspark.sql import functions as F

        folded = folded.filter(
            F.col(retain_col) > F.lit(new_hwm - retain_batches)
        )
        if folded.isEmpty():
            # a partitionless write of an empty frame can emit no
            # schema-bearing file; one empty part keeps the snapshot
            # readable (the state-store empty-write discipline)
            folded = folded.repartition(1)
    folded.write.mode("overwrite").parquet(os.path.join(root, data_name))
    put_manifest(_manifest_dir(root), new_hwm, {"data": data_name})
    # committed from here; remnant removal below is repaired on crash
    if comp:
        shutil.rmtree(comp[1], ignore_errors=True)
        old_manifest = _manifest_path(root, comp[0])
        if os.path.isfile(old_manifest):
            try:
                os.unlink(old_manifest)
            except OSError:
                pass
    for p in fold.values():
        shutil.rmtree(p, ignore_errors=True)
    return len(fold)
