"""State table with MERGE-style non-overwrite transitions (SURVEY.md §1.3, §7.4.4).

The reference keeps pipeline state in a MongoDB collection whose updates
deliberately never overwrite already-resolved values (``{"device_id": None}``
in every update filter — ideafast_etl/hooks/db.py:99,115,121). Here the state
is a parquet snapshot directory committed by one manifest PUT; every transition
is expressed as a join + ``coalesce(target, update)`` — i.e. exactly
``MERGE ... WHEN MATCHED AND target.col IS NULL THEN UPDATE``.

Why snapshot-swap and not in-place: parquet is immutable; Delta Lake's MERGE
is the production path (this class is the fallback the test env needs — no
delta-spark wheel here). The interface is MERGE-shaped so Delta slots in
without touching callers.

Schema: like Delta's commit log, every manifest carries the snapshot's
schema — exactly what parquet ``mergeSchema`` would infer over the files the
snapshot holds (fields merged by name across kept and written files, every
field nullable, partition columns last). ``read()`` hands it to the reader,
so opening a snapshot runs no footer-inference job. Every rewrite keeps the
target's column order, so all part-files of a snapshot agree on it.
Manifests written before the schema was recorded (and pointer-era stores)
fall back to ``mergeSchema`` inference.

Scale posture: snapshots are partitioned by ``device_type`` (the reference's
every worklist predicate filters on it → partition pruning); updates join on
the uniformly-distributed ``hash`` key (no skew); nothing is ever collected
to the driver. Writes are O(delta), not O(table): ``append_new`` adds only
the new rows' part-files (every existing file is hardlinked into the next
snapshot), and a row rewrite scoped to a ``partition_value`` rewrites only
the affected partition — mirroring the reference's per-document Mongo
updates (db.py:88-125), where a 15-row ingest never touches the rest of the
collection.

One write path: every row-rewriting transition (``merge_non_overwrite``,
``mark_uploaded``, ``merge``, ``compact``, ``_quarantined_delete``) is a
plan plus an observed-count decision handed to ``_rewrite``, which alone
runs recover → scope → write → decide → link → commit. ``append_new``'s
file-level append is the one other commit (it writes only the delta).

Concurrency contract: SINGLE WRITER. Transitions are read-modify-write with
no lock; two concurrent writers would silently lose one side's updates
(exactly like two unsynchronised Mongo clients doing read-then-replace).
Readers get snapshot isolation via the manifest log, with a GC grace window:
``_gc`` always retains the most recent ``keep_versions`` snapshots *plus*
the immediately-previous one, so a DataFrame obtained from ``read()`` just
before a commit keeps its files through that commit (one-version grace; for
long-lived readers raise ``keep_versions``).
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .manifest import (
    manifest_path,
    put_manifest,
    read_manifest,
)

_POINTER = "_CURRENT"  # legacy layout: pre-manifest stores only
_META = "_meta"


def _nullable(dt: DataType) -> DataType:
    """``dt`` nullable at every level: a parquet read types what Spark
    wrote that way (the writer stores every field as optional)."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _merge_type(a: DataType, b: DataType, name: str) -> DataType:
    """Parquet ``mergeSchema`` over two nullable types: structs merge by
    field name (``a``'s fields in order, then the fields only ``b`` has),
    anything else must be equal — where inference would fail the read,
    the write fails before it lands."""
    if isinstance(a, StructType) and isinstance(b, StructType):
        bf = {f.name: f for f in b.fields}
        fields = [
            StructField(
                f.name,
                _merge_type(
                    f.dataType,
                    bf[f.name].dataType,
                    f"{name}.{f.name}" if name else f.name,
                )
                if f.name in bf
                else f.dataType,
                True,
                f.metadata,
            )
            for f in a.fields
        ]
        names = {f.name for f in a.fields}
        return StructType(fields + [f for f in b.fields if f.name not in names])
    if a != b:
        raise ValueError(
            f"state column {name!r} would mix {a.simpleString()} and "
            f"{b.simpleString()} part-files; cast the batch to the state type"
        )
    return a


class StateStore:
    """Versioned parquet state table committed by manifest (r10 verdict
    #6): snapshot data is written DIRECTLY into its final ``v_<version>``
    dir — invisible until referenced — and the commit point is one
    immutable self-checksummed manifest PUT (state/manifest.py), the
    same create/delete-only discipline the BM25/IVF indexes and the
    streaming accumulations use, so the store holds on object storage
    where directory rename is neither atomic nor guaranteed to exist.
    Stores written by the previous layout (``_CURRENT`` pointer file)
    are read via a legacy fallback and migrate on their next write."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str = "hash",
        partition_by: tuple[str, ...] = ("device_type",),
        keep_versions: int = 1,
        log_appends: bool = True,
        cdc_mode: str = "hardlink",
    ) -> None:
        """``keep_versions`` > 1 retains older snapshots for time travel
        (``read(version=...)`` / ``versions()``) — the snapshot-store analog
        of Delta's VERSION AS OF, bounded so storage stays O(keep_versions).

        ``log_appends`` keeps an append change log under ``_cdc/`` that
        ``stream_appends()`` exposes as a Structured-Streaming source.

        ``cdc_mode`` selects how that log is published (r11 verdict #3):

        - ``"hardlink"`` (default, POSIX fast path): each insert delta's
          part-files are hardlinked into a staged ``_tmp_…`` dir and
          published by one atomic rename — zero byte copies, but needs a
          filesystem with inodes and rename.
        - ``"copy"`` (object-store-safe): staging is one tiny
          underscore-prefixed JSON PUT listing the delta's part-files
          (invisible to Spark readers), and publication copies those
          bytes from the COMMITTED snapshot dir into the final
          ``commit_version=<v>`` dir — create/delete-only, no links, no
          renames, so it holds where the rest of the manifest protocol
          holds. Each destination file is one single-key PUT (atomic on
          object storage; torn local files from a simulated crash are
          healed by ``recover()``'s size-checked idempotent re-copy).
        """
        if cdc_mode not in ("hardlink", "copy"):
            raise ValueError(f"cdc_mode must be hardlink|copy, got {cdc_mode}")
        self.spark = spark
        self.path = path
        self.key = key
        self.partition_by = partition_by
        self.keep_versions = max(1, keep_versions)
        self.log_appends = log_appends
        self.cdc_mode = cdc_mode
        # (version, schema) of the snapshot staged by the last write; its
        # manifest records the schema when that version commits
        self._staged_schema: tuple[str, StructType] | None = None
        os.makedirs(path, exist_ok=True)

    # -- snapshot mechanics ---------------------------------------------------

    def _pointer_file(self) -> str:
        return os.path.join(self.path, _POINTER)

    def _meta_dir(self) -> str:
        return os.path.join(self.path, _META)

    def _committed_versions(self) -> list[str]:
        """Versions with a valid manifest (parses + self-checksums) whose
        snapshot dir exists, ascending. A manifest truncated by a crashed
        PUT fails the checksum and is ignored; a data dir without a
        manifest is an uncommitted crash remnant and is ignored."""
        if not os.path.isdir(self._meta_dir()):
            return []
        out = []
        for e in os.scandir(self._meta_dir()):
            got = read_manifest(e.path) if e.is_file() else None
            if got is None:
                continue
            v = str(got[1].get("version", ""))
            if v and os.path.isdir(self._snapshot_dir(v)):
                out.append(v)
        return sorted(out, key=int)

    def current_version(self) -> str | None:
        vs = self._committed_versions()
        if vs:
            return vs[-1]
        # legacy pre-manifest layout: resolve through the pointer file
        try:
            with open(self._pointer_file()) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def _snapshot_dir(self, version: str) -> str:
        return os.path.join(self.path, f"v_{version}")

    def exists(self) -> bool:
        return self.current_version() is not None

    def versions(self) -> list[str]:
        """Retained snapshot versions, oldest first (monotone timestamps) —
        COMMITTED versions only (manifest-resolved); an uncommitted data
        dir left by a crash is never listed. Legacy pointer-file stores
        fall back to the directory listing."""
        vs = self._committed_versions()
        if vs or not os.path.exists(self._pointer_file()):
            return vs
        # Orphan guard on the pointer-era fallback (r11 advice): versions
        # are monotone time_ns stamps, so a dir NEWER than the pointer is
        # a staged-but-uncommitted snapshot (a crash between the data
        # write and the store's first manifest PUT) — it must not be
        # listed, served by read(version=...), or protected from
        # recover(). Only dirs the pointer (or an older commit) reached
        # are real.
        cur = self.current_version()
        if cur is None:
            return []
        out = []
        for d in os.listdir(self.path):
            if not d.startswith("v_"):
                continue
            try:
                if int(d[2:]) <= int(cur):
                    out.append(d[2:])
            except ValueError:
                continue
        return sorted(out, key=int)

    def read(self, version: str | None = None) -> DataFrame:
        """Read the current snapshot, or a retained historical one.

        The schema comes from the version's manifest, so the read runs no
        Spark job. After an additive schema evolution (an ``append_new``
        batch carrying new columns) a snapshot legitimately mixes
        old-schema (hardlinked) and new-schema part-files; the recorded
        schema is their merge, and rows from old files read NULL for the
        new columns. A manifest without a schema (written before schemas
        were recorded, or a pointer-era store) falls back to ``mergeSchema``
        inference: one footer-read job over the snapshot's files."""
        version = version or self.current_version()
        if version is None:
            raise FileNotFoundError(f"state store at {self.path} not initialised")
        if version not in self.versions():
            raise FileNotFoundError(
                f"version {version} not retained (keep_versions="
                f"{self.keep_versions}) or never committed"
            )
        schema = self._recorded_schema(version)
        reader = (
            self.spark.read.schema(schema)
            if schema is not None
            else self.spark.read.option("mergeSchema", "true")
        )
        return reader.parquet(self._snapshot_dir(version))

    def _recorded_schema(self, version: str) -> StructType | None:
        """The schema ``version``'s manifest records, if it records one."""
        got = read_manifest(manifest_path(self._meta_dir(), int(version)))
        schema = got[1].get("schema") if got else None
        return StructType.fromJson(schema) if schema else None

    def _stage_schema(
        self, version: str, df: DataFrame, base: StructType | None
    ) -> StructType:
        """Record and return the schema ``version`` will commit: ``df``'s
        (the files being written) merged into ``base`` (the files kept
        from the current snapshot), partition columns last as partition
        discovery appends them. A partition column keeps the type the
        frame declares (inference would turn a numeric-looking directory
        value into a number). Runs before the write, so a type conflict
        fails with nothing written."""
        schema = _nullable(df.schema)
        if base is not None:
            schema = _merge_type(_nullable(base), schema, "")
        by_name = {f.name: f for f in schema.fields}
        schema = StructType(
            [f for f in schema.fields if f.name not in self.partition_by]
            + [by_name[c] for c in self.partition_by if c in by_name]
        )
        self._staged_schema = (version, schema)
        return schema

    def _write_snapshot(self, df: DataFrame) -> None:
        version = f"{time.time_ns()}"
        out = self._snapshot_dir(version)
        schema = self._stage_schema(version, df, None)
        if df.isEmpty():
            # a partitionBy write of an empty frame emits NO files (no schema
            # footer) and the snapshot becomes unreadable; write one empty
            # schema-bearing part file instead, partition columns last like
            # every partitioned snapshot
            df.select(*schema.fieldNames()).repartition(1).write.mode(
                "overwrite"
            ).parquet(out)
        else:
            writer = df.write.mode("overwrite")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(out)
        # data staged in its final dir (unreferenced) + manifest PUT:
        # readers see old or new, never partial, even across a crash
        self._commit(version, out)

    def _gc(self, keep: tuple[str, ...]) -> None:
        """Delete-only retention: committed snapshots beyond the pinned
        set and the keep_versions window lose their data dir AND their
        manifest file; manifests that fail to parse (truncated PUTs) or
        whose data dir is gone are unlinked; legacy staging dirs are
        cleared. Never touches an uncommitted data dir — recover() owns
        crash-remnant removal (GC may run while a legacy store has
        pointer-era dirs that the fallback versions() still lists)."""
        current = self.current_version()
        committed = self._committed_versions()
        keep_set = set(keep) | ({current} if current else set())
        keep_set |= set(committed[-self.keep_versions:])
        for v in committed:
            if v in keep_set:
                continue
            shutil.rmtree(self._snapshot_dir(v), ignore_errors=True)
            try:
                os.unlink(manifest_path(self._meta_dir(), int(v)))
            except OSError:
                pass
        if os.path.isdir(self._meta_dir()):
            for e in os.scandir(self._meta_dir()):
                got = read_manifest(e.path) if e.is_file() else None
                if got is None or not os.path.isdir(
                    self._snapshot_dir(str(got[1].get("version", "")))
                ):
                    try:
                        os.unlink(e.path)
                    except OSError:
                        pass
        # legacy-layout staging dirs orphaned by a pre-migration crash
        for d in os.listdir(self.path):
            if d.startswith("_tmp_v_"):
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    def _commit_manifest(self, version: str) -> None:
        """THE commit point: one manifest PUT (no rename anywhere). The
        manifest id is the integer version itself — versions are monotone
        time_ns stamps, so the highest-id manifest IS the newest commit.
        A legacy pointer file is retired on the first manifest commit.
        The manifest records the schema the write staged for ``version``."""
        prev = self.current_version()
        payload: dict = {"version": version}
        staged, schema = self._staged_schema or (None, None)
        if staged == version:
            payload["schema"] = schema.jsonValue()
        put_manifest(self._meta_dir(), int(version), payload)
        try:
            os.unlink(self._pointer_file())
        except OSError:
            pass
        # grace window: the just-superseded snapshot survives this commit so
        # in-flight readers of the old version don't lose files mid-scan
        self._gc(keep=(version, prev) if prev else (version,))

    def _link_partitions_except(self, out: str, values: list[str]) -> None:
        """Hardlink every partition EXCEPT ``values`` of the single
        partition column from the current snapshot into ``out`` — the
        selective-rewrite half of an O(affected partition) rewrite. At
        100 TB a stage that touches one device_type must not rewrite the
        other ten."""
        pcol = self.partition_by[0]
        old_dir = self._snapshot_dir(self.current_version())
        skip = {f"{pcol}={v}" for v in values}
        for entry in os.listdir(old_dir):
            src = os.path.join(old_dir, entry)
            if not os.path.isdir(src) or entry in skip or not entry.startswith(f"{pcol}="):
                continue
            self._link_tree(src, os.path.join(out, entry))

    def _write_uncommitted(
        self, df: DataFrame, base: StructType | None = None
    ) -> tuple[str, str]:
        """Write ``df`` as the next snapshot's data files WITHOUT
        committing. ``base`` is the schema of the current snapshot whose
        files the commit will keep alongside (None: ``df`` is all of it).
        The files land in the final ``v_<version>`` dir but no
        manifest references it — invisible to ``versions()`` /
        ``read(version)`` and to GC retention accounting (the object-store
        staging discipline: no rename exists there) — so a crash
        between write and commit can never expose a partial snapshot or
        eat a retention slot. Callers inspect their Observation after this
        action and either ``_commit`` (manifest PUT) or ``_discard``
        (no-op run — the state is unchanged, so no version is published)."""
        version = f"{time.time_ns()}"
        out = self._snapshot_dir(version)
        self._stage_schema(version, df, base)
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(out)
        os.makedirs(out, exist_ok=True)  # all-empty partitioned write emits nothing
        return version, out

    def _commit(self, version: str, out: str) -> None:
        """Publish a staged snapshot: one manifest PUT (rename-free)."""
        self._commit_manifest(version)

    def _discard(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def _link_tree(self, src_dir: str, out_dir: str) -> None:
        """Hardlink every data file under ``src_dir`` into ``out_dir``,
        preserving the partition-directory layout. Spark part-file names
        embed a job UUID, so links from an old snapshot never collide with
        files a fresh write just produced; if one ever did, fall back to a
        version-prefixed name rather than fail the commit."""
        for root, _dirs, files in os.walk(src_dir):
            rel = os.path.relpath(root, src_dir)
            dst_dir = out_dir if rel == "." else os.path.join(out_dir, rel)
            made = False
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue
                if not made:
                    os.makedirs(dst_dir, exist_ok=True)
                    made = True
                dst = os.path.join(dst_dir, fn)
                if os.path.exists(dst):
                    dst = os.path.join(dst_dir, f"linked-{fn}")
                os.link(os.path.join(root, fn), dst)

    def _scope(self, partition_value: str | None) -> list[str] | None:
        """The partition values a transition given ``partition_value``
        rewrites: that one value when the store has a single partition
        column, else None — the whole table."""
        if partition_value is None or len(self.partition_by) != 1:
            return None
        return [partition_value]

    def _rewrite(
        self,
        build: Callable[
            [DataFrame, DataFrame], tuple[DataFrame, Callable[[], tuple[Any, bool]]]
        ],
        partition_values: list[str] | None = None,
    ) -> Any:
        """THE write path of every row-rewriting transition (the
        snapshot-store analog of the reference's per-document updates,
        db.py:88-125): ``recover()``; read the snapshot once and scope it
        to ``partition_values`` of the single partition column (None: the
        whole table); let ``build(state, target)`` plan the replacement
        rows of that scope and write them uncommitted; then ask the
        outcome ``build`` returned for ``(result, changed)`` — it reads
        Observations that rode that write, so no count job runs. An
        exception there discards the write and re-raises; nothing changed
        discards it and publishes no version. Otherwise every partition
        outside the scope is hardlinked in and one manifest PUT commits.
        Returns ``result``."""
        self.recover()
        state = self.read()
        target = state
        if partition_values is not None:
            target = state.filter(F.col(self.partition_by[0]).isin(*partition_values))
        rows, outcome = build(state, target)
        version, out = self._write_uncommitted(rows, state.schema)
        try:
            result, changed = outcome()
        except BaseException:
            self._discard(out)
            raise
        if not changed:
            self._discard(out)
            return result
        if partition_values is not None:
            self._link_partitions_except(out, partition_values)
        self._commit(version, out)
        return result

    def _keyed_join(
        self, target: DataFrame, updates: DataFrame, on: str, hit: F.Column
    ) -> tuple[DataFrame, Callable[[], tuple[int, bool]]]:
        """``target`` left-joined to the broadcast ``updates`` on ``on``,
        and the outcome for ``_rewrite``: the number of joined rows where
        ``hit`` holds, and whether that is any. An update set listing a
        matched key more than once would repeat the target row, so the
        outcome raises ``ValueError`` instead — the target rows observed
        going into the join against the rows coming out of it. Counts are
        observed at the ROOT of the written plan, where metrics survive
        AQE empty-relation pruning (an observe on an empty broadcast side
        would be optimised away and never fire); the target's own row
        count rides its scan, the join's probe side."""
        obs, obs_target = Observation(), Observation()
        joined = target.observe(obs_target, F.count(F.lit(1)).alias("n")).join(
            F.broadcast(updates), on=on, how="left"
        ).observe(
            obs,
            F.coalesce(F.sum(hit.cast("long")), F.lit(0)).alias("n_hit"),
            F.count(F.lit(1)).alias("n_out"),
        )

        def outcome() -> tuple[int, bool]:
            m = obs.get
            # a repeated key repeats its target row; with no output rows
            # there is nothing to repeat (and a shuffled join over an
            # empty target may have pruned the target-side observe)
            n_out = int(m["n_out"])
            if n_out and n_out != int(obs_target.get["n"]):
                raise ValueError(
                    f"updates repeat a key (key column {on!r}): a target "
                    "row matched more than once; nothing was committed"
                )
            n = int(m["n_hit"])
            return n, n > 0

        return joined, outcome

    def _append_files(self, fresh: DataFrame, base: StructType) -> int:
        """O(delta) insert: write ONLY the new rows as part-files into the
        next snapshot and hardlink every current file alongside them —
        snapshot = old files + delta files, the manifest being the directory
        tree itself. At 100 TB an ingest of a few thousand rows costs a few
        part-files, never a table rewrite (reference contract: per-document
        inserts, db.py:88-96). Returns rows inserted (observed on the write
        itself — no separate count job); an empty delta publishes nothing.
        ``base`` is the current snapshot's schema."""
        old_dir = self._snapshot_dir(self.current_version())
        obs = Observation()
        version, out = self._write_uncommitted(
            fresh.observe(obs, F.count(F.lit(1)).alias("n")), base
        )
        n = int(obs.get["n"])
        if n == 0:
            self._discard(out)
            return 0
        # CDC capture BEFORE old files link in: ``out`` holds exactly the
        # delta part-files at this point, so the change log costs hardlinks
        # only — no second write job, no diff job
        self._log_append(out, version)
        self._link_tree(old_dir, out)
        self._commit(version, out)
        self._finalize_log(version)
        return n

    # -- append change log (streaming CDC source) -----------------------------

    def cdc_path(self) -> str:
        return os.path.join(self.path, "_cdc")

    def _staged_listing(self, version: str) -> str:
        # underscore prefix: invisible to Spark's path filter, like _tmp_
        return os.path.join(self.cdc_path(), f"_staged_v{version}.json")

    def _log_append(self, delta_dir: str, version: str) -> None:
        """STAGE the delta's part-files into the append change log. The
        leading underscore keeps every staged artifact invisible to Spark
        readers (the path filter skips ``_``/``.`` names), so a crash
        before the snapshot commit can never publish phantom CDC rows for
        a version that was never committed. ``_finalize_log`` publishes
        right after the manifest commit; a crash in between is healed by
        ``recover()`` (the snapshot dir proves the commit happened).

        hardlink mode: links the delta files into
        ``_cdc/_tmp_commit_version=<v>/`` (partition subdirs preserved) —
        the log is free at write time and published by one atomic rename.

        copy mode (object-store-safe): records only the delta files'
        relative paths in one small ``_staged_v<v>.json`` PUT.
        ``delta_dir`` is always the version's own snapshot dir (the delta
        part-files land there FIRST, before old files link in), so the
        publish step can later copy the bytes from the committed snapshot
        — no second write job, no links, no renames."""
        if not self.log_appends:
            return
        if self.cdc_mode == "hardlink":
            self._link_tree(
                delta_dir,
                os.path.join(self.cdc_path(), f"_tmp_commit_version={version}"),
            )
            return
        import json

        rels = []
        for root, _dirs, files in os.walk(delta_dir):
            rel = os.path.relpath(root, delta_dir)
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue
                rels.append(fn if rel == "." else os.path.join(rel, fn))
        os.makedirs(self.cdc_path(), exist_ok=True)
        with open(self._staged_listing(version), "w") as f:
            f.write(json.dumps({"files": sorted(rels)}))
            f.flush()
            os.fsync(f.fileno())

    def _finalize_log(self, version: str) -> None:
        """Publish the staged CDC entry for a just-committed version.

        hardlink mode: a single atomic rename of the staged dir.

        copy mode: copy each listed delta file from the committed
        ``v_<version>`` snapshot dir into ``commit_version=<v>/`` —
        create-only single-key PUTs (atomic per file on object storage),
        then delete the staged listing. Idempotent and crash-repairable:
        a re-run (or ``recover()``) skips files already fully copied
        (size check heals a torn local file from a simulated mid-copy
        crash) and re-deletes the listing. The copy happens while the
        source snapshot is the CURRENT version, which GC always retains,
        so sources cannot vanish mid-publish."""
        if not self.log_appends:
            return
        # the STAGED ARTIFACT decides the publish protocol, not the
        # instance's cdc_mode: a store reopened under the other mode must
        # still heal a predecessor's staged entry
        tmp = os.path.join(self.cdc_path(), f"_tmp_commit_version={version}")
        if os.path.isdir(tmp):
            os.rename(
                tmp,
                os.path.join(self.cdc_path(), f"commit_version={version}"),
            )
        import json

        listing = self._staged_listing(version)
        if not os.path.isfile(listing):
            return
        with open(listing) as f:
            rels = json.load(f)["files"]
        src_root = self._snapshot_dir(version)
        dst_root = os.path.join(self.cdc_path(), f"commit_version={version}")
        for rel in rels:
            src = os.path.join(src_root, rel)
            dst = os.path.join(dst_root, rel)
            try:
                if os.path.getsize(dst) == os.path.getsize(src):
                    continue  # already fully published (idempotent re-run)
            except OSError:
                pass
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            with open(src, "rb") as s, open(dst, "wb") as d:
                shutil.copyfileobj(s, d)
                d.flush()
                os.fsync(d.fileno())
        os.unlink(listing)

    def recover(self) -> dict[str, int]:
        """Crash recovery. Runs automatically at the start of every write
        operation — ``append_new`` and every row rewrite through
        ``_rewrite`` — so no write can commit past a staged change-log
        entry and orphan it (writes are single-writer serialized, so no live
        operation can be mid-flight then; construction alone must NOT
        recover — a reader instance opened beside an in-flight writer
        would destroy its staging). Finalizes staged CDC entries whose
        snapshot commit completed (the ``v_<version>`` dir exists), drops
        staged entries of versions that never committed, and clears orphan
        ``_tmp_v_*`` staging dirs. Exactly-once CDC publication per commit
        follows: a committed append's change entry always becomes visible
        (here, if not already finalized), and an uncommitted one never
        does."""
        finalized = dropped = staging = 0
        cur = self.current_version()
        # Orphan snapshot dirs: data written but never manifest-committed
        # (a crash between write and PUT), or pre-migration legacy dirs a
        # manifest-era store no longer lists. They must go BEFORE the CDC
        # pass — "the v_ dir exists" does NOT mean committed. Truncated
        # manifest files (a crashed PUT) are invalid by checksum and
        # removed by _gc on the next commit; they are ignored here.
        committed = set(self.versions())
        for d in os.listdir(self.path):
            if d.startswith("v_") and d[2:] not in committed:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
                staging += 1
        root = self.cdc_path()
        if os.path.isdir(root):
            for d in os.listdir(root):
                if d.startswith("_tmp_commit_version="):
                    v = d.split("=", 1)[1]
                    # committed ⟺ the pointer reached this version: staged
                    # entries only linger from the LAST crashed write
                    # (single-writer), and every pre-swap crash leaves the
                    # pointer on an older version
                    if v == cur:
                        self._finalize_log(v)
                        finalized += 1
                    else:
                        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                        dropped += 1
                elif d.startswith("_staged_v") and d.endswith(".json"):
                    # copy-mode staged listing (one small PUT): same
                    # committed ⟺ current-version reasoning as above; the
                    # finalize re-copy is idempotent and size-checked, so
                    # it also heals a torn destination file from a crash
                    # mid-publish
                    v = d[len("_staged_v"):-len(".json")]
                    if v == cur:
                        self._finalize_log(v)
                        finalized += 1
                    else:
                        try:
                            os.unlink(os.path.join(root, d))
                        except OSError:
                            pass
                        dropped += 1
        for d in os.listdir(self.path):
            if d.startswith("_tmp_v_"):
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
                staging += 1
        return {
            "cdc_finalized": finalized,
            "cdc_dropped": dropped,
            "staging_cleared": staging,
        }

    def stream_appends(self, schema: StructType | None = None) -> DataFrame:
        """Structured-Streaming source over the append change log — the
        snapshot store's analog of streaming from a Delta table (which is
        likewise append-only by default: updates/merges do NOT emit stream
        rows; the batch ``changes()`` diff covers those). Each streamed row
        carries ``commit_version`` so consumers can window/replay by commit.

        The file source tracks seen files in the checkpoint, so a consumer
        restarted with the same ``checkpointLocation`` resumes exactly
        after the last processed commit — at-least-once end to end, dedup
        by the unique key gives effectively-once (§2.11 semantics).

        Scale: the log is the sequence of deltas, so a streaming consumer
        reads O(new data) per trigger regardless of table size; snapshot GC
        never touches the log (hardlinks keep the bytes alive)."""
        os.makedirs(self.cdc_path(), exist_ok=True)
        if schema is None:
            base = self.read().schema
            schema = StructType(
                list(base.fields)
                + [StructField("commit_version", StringType(), True)]
            )
        return self.spark.readStream.schema(schema).parquet(self.cdc_path())

    def truncate_cdc(self, before_version: str) -> int:
        """Retention: drop change-log commits strictly older than
        ``before_version`` (consumers' checkpoints already passed them).
        Returns the number of commit directories removed."""
        root = self.cdc_path()
        if not os.path.isdir(root):
            return 0
        removed = 0
        for d in os.listdir(root):
            # numeric compare: versions are time_ns integers, and a string
            # compare would mis-order values of different digit lengths
            if d.startswith("commit_version=") and int(d.split("=", 1)[1]) < int(
                before_version
            ):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                removed += 1
        return removed

    # -- MERGE-shaped transitions --------------------------------------------

    def init(self, df: DataFrame) -> None:
        self._write_snapshot(df)

    def append_new(self, incoming: DataFrame) -> int:
        """K1/K2 + J1 — insert rows whose key is not yet in state
        (``MERGE ... WHEN NOT MATCHED THEN INSERT``). Anti-join keeps the
        dedup distributed (no driver-side hash set, unlike db.py:228-231).
        Also drops duplicate keys *within* the batch — a single micro-batch
        may drain overlapping source files. The write is file-level append:
        existing snapshot files are hardlinked, only the delta is written.

        Additive schema evolution: a batch may carry columns the state has
        never seen (they join the table schema; existing rows read NULL via
        mergeSchema) and may omit existing columns (filled NULL, typed from
        the state schema) — Delta's mergeSchema-on-append contract. Returns
        the number of rows inserted."""
        self.recover()
        incoming = incoming.dropDuplicates([self.key])
        if not self.exists():
            self.init(incoming)
            # the bootstrap snapshot is itself an insert batch for CDC
            v = self.current_version()
            assert v is not None
            self._log_append(self._snapshot_dir(v), v)
            self._finalize_log(v)
            return self.read().count()  # once-per-store bootstrap only
        state = self.read()
        for f in state.schema.fields:
            if f.name not in incoming.columns:
                incoming = incoming.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        # state columns in state order, then the batch's new ones: every
        # part-file of the snapshot agrees on column order
        new_cols = [c for c in incoming.columns if c not in state.columns]
        fresh = incoming.join(
            state.select(self.key), on=self.key, how="left_anti"
        ).select(*state.columns, *new_cols)
        return self._append_files(fresh, state.schema)

    def merge_non_overwrite(
        self,
        updates: DataFrame,
        set_cols: tuple[str, ...],
        partition_value: str | None = None,
    ) -> int:
        """K3-K6 — ``MERGE ... WHEN MATCHED AND target.col IS NULL THEN
        UPDATE``: fill ``set_cols`` from ``updates`` (keyed by ``self.key``)
        only where the current value is NULL. Non-matching rows and already-
        resolved values pass through untouched (db.py:97-125 semantics).

        With ``partition_value`` (a value of the single partition column —
        e.g. the stage's device_type), only that partition is merged and
        rewritten; all other partitions are hardlinked into the new snapshot.
        The updates are broadcast: they are worklist-sized.

        Returns the number of target rows matched by an update (observed on
        the write action itself — no separate count job). A merge that
        matches nothing publishes no new version.

        Like ``merge``, an update set that lists a matched key more than
        once raises ``ValueError`` and publishes nothing (a left join would
        otherwise repeat the target row). The check rides the same write:
        the target rows observed going into the join against the rows
        coming out of it.
        """
        upd = updates.select(
            F.col(self.key),
            *[F.col(c).alias(f"__new_{c}") for c in set_cols],
            # dedicated match marker: counting on a set-column would report
            # 0 for a matched row whose FIRST update value is NULL even when
            # later columns carry fills — and the commit would be discarded
            F.lit(True).alias("__matched"),
        )

        def build(_state: DataFrame, target: DataFrame):
            merged, outcome = self._keyed_join(
                target, upd, self.key, F.col("__matched")
            )
            for c in set_cols:
                merged = merged.withColumn(c, F.coalesce(F.col(c), F.col(f"__new_{c}")))
            # the key-first join output back in the target's column order
            return merged.select(*target.columns), outcome

        return self._rewrite(build, self._scope(partition_value))

    def merge(
        self,
        source: DataFrame,
        when_matched_set: dict[str, str] | None = None,
        matched_condition: str | None = None,
        insert_when_not_matched: bool = False,
        partition_value: str | None = None,
    ) -> dict[str, int]:
        """General MERGE INTO (Delta-semantics superset of the specialised
        transitions): join ``source`` to the state on ``self.key`` and apply

          WHEN MATCHED [AND matched_condition] THEN UPDATE SET …
          WHEN NOT MATCHED THEN INSERT            (if enabled)

        ``when_matched_set`` maps target column → SQL expression over the
        aliased sides (``t.col`` = current state, ``src.col`` = source), so
        conditional fills (``coalesce(t.x, src.x)``), counters
        (``t.n + src.n``) and overwrites (``src.x``) are all expressible;
        ``matched_condition`` guards the update the same way. Inserted rows
        take source values for the columns the source provides, NULL for
        the rest (target schema is authoritative).

        The write is the same O(affected partition) machinery as the
        specialised paths: with ``partition_value`` only that partition is
        rewritten (others hardlink), and a merge that updates and inserts
        nothing publishes no version. Returns {'updated': n, 'inserted': n}
        observed on the write action itself.

        Delta-MERGE error contract: a source with DUPLICATE keys raises
        ``ValueError`` (Delta's "multiple source rows matched" runtime
        error) instead of silently fanning the join out into duplicated
        state rows. Detection rides the write action itself: the source is
        pre-aggregated per key (one extra source-side shuffle — the source
        is the small side) and a per-key multiplicity flag is summed by the
        same Observation that counts updates/inserts; on violation the
        uncommitted snapshot is discarded and no version is published.

        Partition-selective inserts are guarded against cross-partition
        duplicates: with ``partition_value`` + ``insert_when_not_matched``,
        source keys already present in OTHER partitions are anti-joined out
        (they are outside the selective scope — neither updated nor
        re-inserted), so a key can never come to live in two partitions.

        ``merge_non_overwrite`` / ``mark_uploaded`` / ``append_new`` remain
        the fast paths the pipeline uses (append_new is file-level append —
        cheaper than any join-based merge for pure inserts)."""
        when_matched_set = when_matched_set or {}
        scope = self._scope(partition_value)

        def build(state: DataFrame, target: DataFrame):
            # per-key multiplicity for the duplicate-source guard; first()
            # values are only ever committed when __src_n == 1, so the
            # non-determinism of first() never reaches state
            checked = source.groupBy(self.key).agg(
                F.count(F.lit(1)).alias("__src_n"),
                *[F.first(c).alias(c) for c in source.columns if c != self.key],
            )
            if scope is not None and insert_when_not_matched:
                other_keys = state.filter(
                    ~F.col(self.partition_by[0]).isin(*scope)
                ).select(self.key)
                checked = checked.join(other_keys, on=self.key, how="left_anti")
            # full_outer even for update-only merges: a source-only key must
            # reach the projection so its duplicate marker is observable (a
            # left_outer join would drop it and the duplicate-keys
            # ValueError contract would silently pass); update-only drops
            # those rows via the __keep filter AFTER the observe. Same
            # shuffle either way.
            j = target.alias("t").join(
                F.broadcast(checked).alias("src"),
                F.col(f"t.{self.key}") == F.col(f"src.{self.key}"),
                "full_outer",
            )
            has_t = F.col(f"t.{self.key}").isNotNull()
            has_s = F.col(f"src.{self.key}").isNotNull()
            upd_guard = (
                F.expr(matched_condition) if matched_condition else F.lit(True)
            )
            do_update = has_t & has_s & upd_guard
            do_insert = (
                (~has_t & has_s) if insert_when_not_matched else F.lit(False)
            )
            src_cols = set(source.columns)
            out_cols = []
            for c in target.columns:
                current = F.col(f"t.{c}")
                updated = (
                    F.expr(when_matched_set[c]) if c in when_matched_set else current
                )
                inserted = F.col(f"src.{c}") if c in src_cols else F.lit(None)
                out_cols.append(
                    F.when(do_update, updated)
                    .when(do_insert, inserted)
                    .otherwise(current)
                    .alias(c)
                )
            obs = Observation()
            # metrics must ride the written plan itself (no separate count
            # job), so the match/insert flags travel through the projection
            # as hidden columns and the observe sums them at the root
            merged = (
                j.select(
                    *out_cols,
                    do_update.cast("long").alias("__upd"),
                    do_insert.cast("long").alias("__ins"),
                    (has_t | do_insert).alias("__keep"),
                    (F.coalesce(F.col("src.__src_n"), F.lit(0)) > 1)
                    .cast("long")
                    .alias("__dup"),
                )
                # observe BEFORE the __keep filter: dup markers on
                # source-only keys must count even when update-only merges
                # then discard them
                .observe(
                    obs,
                    F.coalesce(F.sum("__upd"), F.lit(0)).alias("n_updated"),
                    F.coalesce(F.sum("__ins"), F.lit(0)).alias("n_inserted"),
                    F.coalesce(F.sum("__dup"), F.lit(0)).alias("n_dup_src"),
                )
                .filter(F.col("__keep"))
                .drop("__upd", "__ins", "__keep", "__dup")
            )

            def outcome() -> tuple[dict[str, int], bool]:
                m = obs.get
                if int(m["n_dup_src"]) > 0:
                    raise ValueError(
                        "MERGE source contains duplicate keys "
                        f"(key column {self.key!r}); like Delta MERGE, multiple "
                        "source rows per key are an error — dedupe the source first"
                    )
                n_upd, n_ins = int(m["n_updated"]), int(m["n_inserted"])
                return {"updated": n_upd, "inserted": n_ins}, bool(n_upd or n_ins)

            return merged, outcome

        return self._rewrite(build, scope)

    def changes(
        self, since: str, until: str | None = None, include_preimage: bool = False
    ) -> DataFrame:
        """Change-data-feed between two retained snapshots (the snapshot
        store's analog of Delta's ``table_changes``): a keyed full-outer
        diff classifying every key as insert / update / delete. Returns the
        *new* row image for inserts/updates and the old image for deletes,
        plus a ``change_type`` column; unchanged keys are dropped.

        With ``include_preimage=True`` updates emit TWO rows —
        ``update_preimage`` (old image) and ``update_postimage`` (new) —
        exactly Delta CDF's shape, which is what incremental view
        maintenance needs: a downstream aggregate applies −pre, +post
        without re-reading the table (see
        ``tests/test_cdc_changes.py::test_incremental_view_maintenance``).

        Columns added by schema evolution after ``since`` read NULL on the
        old side, so rows whose only difference is a newly-populated column
        surface as updates — the semantics a downstream incremental
        consumer wants.

        Scale: one shuffle on the unique ``key`` for the full-outer join
        (both sides partitioned identically, so co-partitioned under AQE);
        row equality is a whole-row sha2 fingerprint computed map-side —
        no column-by-column comparison blowup, no driver state.
        """
        old = self.read(since)
        new = self.read(until)
        cols = new.columns
        for c in cols:
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
        old = old.select(*cols)

        def _fp(df: DataFrame) -> F.Column:
            return F.sha2(
                F.concat_ws(
                    "\x1f",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                        for c in cols
                    ],
                ),
                256,
            )

        o = old.select(
            F.col(self.key).alias("__k"),
            _fp(old).alias("__ofp"),
            *[F.col(c).alias(f"__o_{c}") for c in cols],
        )
        n = new.select(
            F.col(self.key).alias("__k"), _fp(new).alias("__nfp"), *cols
        )
        j = o.join(n, "__k", "full_outer")
        change = (
            F.when(F.col("__nfp").isNull(), F.lit("delete"))
            .when(F.col("__ofp").isNull(), F.lit("insert"))
            .when(F.col("__ofp") != F.col("__nfp"), F.lit("update"))
        )
        image = [
            F.when(F.col("__nfp").isNull(), F.col(f"__o_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in cols
        ]
        out = (
            j.withColumn("change_type", change)
            .filter(F.col("change_type").isNotNull())
            .select("change_type", *image)
        )
        if not include_preimage:
            return out
        out = out.withColumn(
            "change_type",
            F.when(
                F.col("change_type") == "update", F.lit("update_postimage")
            ).otherwise(F.col("change_type")),
        )
        pre = (
            j.filter(
                F.col("__ofp").isNotNull()
                & F.col("__nfp").isNotNull()
                & (F.col("__ofp") != F.col("__nfp"))
            )
            .select(
                F.lit("update_preimage").alias("change_type"),
                *[F.col(f"__o_{c}").alias(c) for c in cols],
            )
        )
        return out.unionByName(pre)

    def file_counts(self) -> dict[str, int]:
        """Data-file count per partition directory of the current snapshot
        ('' = unpartitioned root) — the compaction trigger signal."""
        root = self._snapshot_dir(self.current_version())
        out: dict[str, int] = {}
        for cur, _dirs, files in os.walk(root):
            n = sum(1 for f in files if not f.startswith(("_", ".")))
            if n:
                rel = os.path.relpath(cur, root)
                out["" if rel == "." else rel] = n
        return out

    def compact(
        self,
        partition_value: str | None = None,
        min_files: int = 2,
        target_partitions: int = 1,
    ) -> int:
        """Maintenance: rewrite fragmented partitions into
        ``target_partitions`` files each. File-level appends trade write
        amplification for file-count growth (one+ part-file per ingest);
        unchecked, a year of 15-row polls is thousands of tiny files whose
        open/footer overhead dominates every scan — the classic LSM/Delta
        small-file problem, solved the same way (Delta OPTIMIZE / Iceberg
        rewrite): an offline rewrite that changes the file layout and
        nothing else.

        With ``partition_value``, only that partition compacts and all
        others hardlink (same O(affected partition) shape as the merges);
        otherwise every partition with at least ``min_files`` files is
        rewritten. Readers are unaffected (manifest-committed snapshot). Returns
        the number of partitions compacted."""
        fragmented = [d for d, n in self.file_counts().items() if n >= min_files]
        scope = None
        if len(self.partition_by) == 1:
            prefix = f"{self.partition_by[0]}="
            # >= in both modes: a partition at exactly min_files compacts
            # whether it is named or found
            scope = fragmented = [
                d[len(prefix):]
                for d in fragmented
                if d.startswith(prefix)
                and (partition_value is None or d == prefix + partition_value)
            ]
        if not fragmented:
            return 0
        n = len(scope) if scope is not None else 1

        def build(_state: DataFrame, target: DataFrame):
            return target.repartition(target_partitions), lambda: (n, True)

        return self._rewrite(build, scope)

    def _quarantined_delete(self, keys: DataFrame) -> int:
        """K7 — delete by key. The reference name-mangles this and warns
        'Never use this method within the pipeline' (db.py:127-133); we keep
        it equally quarantined: UserWarning + explicit keyed rewrite that
        keeps the unmatched rows. Returns number of rows removed."""
        import warnings

        warnings.warn(
            "Never use this method within the pipeline — deletes break the "
            "append-only lifecycle; quarantined exactly like the reference.",
            UserWarning,
            stacklevel=2,
        )
        gone = keys.select(self.key).distinct().withColumn("__gone", F.lit(True))

        def build(_state: DataFrame, target: DataFrame):
            joined, outcome = self._keyed_join(target, gone, self.key, F.col("__gone"))
            kept = joined.filter(F.col("__gone").isNull()).select(*target.columns)
            return kept, outcome

        return self._rewrite(build)

    def mark_uploaded(
        self, dmp_ids: DataFrame, partition_value: str | None = None
    ) -> int:
        """K6 — flip ``is_uploaded`` for every row of the given groups
        (db.py:189-196); idempotent (at-least-once delivery, §2.11).

        With ``partition_value`` (the stage's device_type), only that
        partition is rewritten; every other partition's files are hardlinked
        — the same O(affected partition) path as ``merge_non_overwrite``.
        Returns the number of rows newly flagged; flagging nothing new
        publishes no new version."""
        flagged = dmp_ids.select(F.col("dmp_id"), F.lit(True).alias("__up"))

        def build(_state: DataFrame, target: DataFrame):
            merged, outcome = self._keyed_join(
                target,
                flagged,
                "dmp_id",
                F.col("__up").isNotNull()
                & ~F.coalesce(F.col("is_uploaded"), F.lit(False)),
            )
            merged = merged.withColumn(
                "is_uploaded",
                F.when(F.col("__up").isNotNull(), F.lit(True)).otherwise(
                    F.col("is_uploaded")
                ),
            )
            # the dmp_id-first join output back in the target's order
            return merged.select(*target.columns), outcome

        return self._rewrite(build, self._scope(partition_value))
