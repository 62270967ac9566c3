"""The end-to-end incremental pipeline (SURVEY.md §3.1 / §7.2.6) —
the reference's 7-task Airflow DAG (dags/dreem.py:299-307) as one PySpark
application over a state table. Stages (task 7, cleanup, is temp-dir
lifecycle handled by the store):

  1. ingest        — REST scan → shape (P2) → anti-join dedup (J1) → insert
  2. resolve_serial — F2 worklist × uid_map broadcast join (J2) → MERGE
  3. resolve_device — F1 worklist × serial_map broadcast join (J3) → MERGE
  4. resolve_patient — F3 worklist × interval-containment join (J4) → MERGE
  5. group          — F5 worklist → day-window bucket + dmp_id key (G1) → MERGE
  6. upload         — F6 groups → executor-side upload sink (K8) → flag (K6)

Every MERGE is non-overwriting (db.py:97-125); every stage re-selects its
worklist by NULL-rung predicate, so unresolved rows retry next run (late
data, §2.11). Per-run ``limits`` replicate the reference's backpressure knobs
(L1, dags/dreem.py:254-287); the default is unlimited, which is the correct
Spark posture (the limits exist in the reference because each record costs an
HTTP round-trip; here lookups are joins).

Run-report metrics (G5, dags/dreem.py:70-73,107-115) piggyback on the work
that runs anyway: the state store observes its own write actions
(``df.observe`` → no count-only jobs over state), and the upload stage
observes its result frame on the materialising ``localCheckpoint``. Each
resolve/group stage computes its update set exactly once: one
``plan_audit.materialize`` whose observed row count lets an idle run skip
the merge write entirely (on a 100 TB state table, an idle poll must not
rewrite a partition), and the merge then reads that materialised set
instead of re-running the worklist joins.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import plan_audit
from ..operators import filters
from ..operators.grouping import assign_group_id
from ..operators.joins import interval_containment_join
from ..operators.projections import init_lifecycle, shape_api_rows
from ..sinks.upload import Uploader, stub_uploader, upload_groups
from ..state.store import StateStore


@dataclass
class PipelineConfig:
    device_type: str = "DRM"
    cut_off_time: str = "12:00:00"
    # per-run batch caps; None = unlimited (reference: 15/15/15/15/-/1)
    limits: dict[str, int | None] = field(
        default_factory=lambda: {
            "ingest": None,
            "serial": None,
            "device": None,
            "patient": None,
            "upload": None,
        }
    )
    # run-end small-file maintenance: compact this pipeline's partition when
    # its data-file count reaches the threshold (None = off). File-level
    # O(delta) appends trade write amplification for file-count growth; a
    # poller that ingests 15 rows per cycle accretes one part-file per run,
    # and a year of cycles is thousands of footer-reads per scan. The
    # trigger keeps per-partition file counts bounded without giving back
    # the O(delta) writes (compaction touches only the fragmented
    # partition; all others hardlink).
    compact_after_files: int | None = 16
    # r9: decompose the stage-4 interval join's per-device windows over
    # (device, day-bucket) — set when one device can carry a large share
    # of the recording feed (skew-proof twin, identical output)
    interval_bucket_days: int | None = None


def _limit(df: DataFrame, n: int | None) -> DataFrame:
    # `is not None`, not truthiness: limit=0 means "process nothing",
    # not "unlimited"
    return df.limit(n) if n is not None else df


class DreemPipeline:
    def __init__(
        self,
        spark: SparkSession,
        store: StateStore,
        config: PipelineConfig | None = None,
        uploader: Uploader = stub_uploader,
        retry=None,
    ) -> None:
        """``retry`` (a ``sources.transport.RetryPolicy``) applies the
        reference's (4 s, 302 s)+bounded-retry transport contract around
        each group upload, executor-side (dmp.py:126-136)."""
        self.spark = spark
        self.store = store
        self.config = config or PipelineConfig()
        self.uploader = uploader
        self.retry = retry

    # -- stage 1 ---------------------------------------------------------------

    def ingest(self, raw_api_rows: DataFrame) -> int:
        """Shape vendor rows, drop already-seen hashes, insert the rest.
        The insert count is observed on the store's own write — no
        before/after table counts."""
        shaped = init_lifecycle(
            shape_api_rows(raw_api_rows, self.config.device_type)
        )
        shaped = _limit(shaped, self.config.limits.get("ingest"))
        return self.store.append_new(shaped)

    # -- stages 2-3: lookup resolutions ---------------------------------------

    def _merge_resolved(self, resolved: DataFrame, set_cols: tuple[str, ...]) -> int:
        """Shared merge step: compute the update set once, counting its
        rows on that same action; skip an empty one (an idle run must not
        rewrite a state partition), else MERGE the materialised set and
        return the matched-row count the store observed on its write.
        Under a plan audit ``materialize`` runs nothing, so there is no
        count to skip on and the merge itself reports 0 for an empty set."""
        obs = Observation()
        resolved = plan_audit.materialize(
            resolved.observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if plan_audit.checkpoints_enabled() and int(obs.get["n"]) == 0:
            return 0
        return self.store.merge_non_overwrite(
            resolved, set_cols, partition_value=self.config.device_type
        )

    def resolve_serial(self, uid_map: DataFrame) -> int:
        """uid_map(dreem_uid, device_serial); fills device_serial where NULL."""
        work = filters.needing_serial(self.store.read())
        work = _limit(work, self.config.limits.get("serial"))
        resolved = work.select(
            "hash", F.col("meta.dreem_uid").alias("dreem_uid")
        ).join(F.broadcast(uid_map), "dreem_uid").select("hash", "device_serial")
        return self._merge_resolved(resolved, ("device_serial",))

    def resolve_device_id(self, serial_map: DataFrame) -> int:
        """serial_map(device_serial, device_id); fills device_id where NULL."""
        work = filters.needing_device_id(self.store.read(), self.config.device_type)
        work = _limit(work, self.config.limits.get("device"))
        resolved = work.select("hash", "device_serial").join(
            F.broadcast(serial_map), "device_serial"
        ).select("hash", "device_id")
        return self._merge_resolved(resolved, ("device_id",))

    # -- stage 4: interval join -----------------------------------------------

    def resolve_patient(self, assignments: DataFrame) -> int:
        """assignments(device_id, patient_id, start_wear, end_wear);
        interval-containment first-match (J4) fills patient_id."""
        work = filters.needing_patient(self.store.read(), self.config.device_type)
        work = _limit(work, self.config.limits.get("patient"))
        joined = interval_containment_join(
            work.select("hash", "device_id", "start", "end"),
            assignments,
            order_cols=("start_wear", "patient_id"),
            bucket_days=self.config.interval_bucket_days,
        )
        resolved = joined.filter(F.col("patient_id").isNotNull()).select(
            "hash", "patient_id"
        )
        return self._merge_resolved(resolved, ("patient_id",))

    # -- stage 5: grouping ----------------------------------------------------

    def group_records(self) -> int:
        """Day-window bucket + dmp_id for every fully-resolved row.
        Deliberately unlimited (db.py:200: 'avoid data gaps')."""
        work = filters.needing_grouping(self.store.read(), self.config.device_type)
        grouped = assign_group_id(
            work.select("hash", "device_id", "patient_id", "start"),
            cut_off=self.config.cut_off_time,
            ts_col="start",
        ).select("hash", "dmp_id")
        return self._merge_resolved(grouped, ("dmp_id",))

    # -- stage 6: upload ------------------------------------------------------

    def upload(self) -> tuple[int, int, int]:
        """Upload pending groups; flag successes. Returns
        ``(n_ok, n_fail, n_conflict)``.

        At-least-once: failures stay is_uploaded=false and re-select next run
        (dags/dreem.py:209-217). Partial-group conflict guard
        (dags/dreem.py:185-204): a group that already has an uploaded member
        must never be re-uploaded — its pending rows are skipped and reported
        as conflicts (the reference raises NotImplementedError; skip-and-flag
        keeps the rest of the run alive, and the rows remain visible as
        pending-with-conflict for operators to resolve).

        Plan shape: the ``any_uploaded`` window shares the dmp_id hash
        partitioning with the per-group applyInPandas, so the guard adds no
        extra shuffle; the side-effecting upload is materialised exactly once
        via an eager localCheckpoint (a real uploader must not re-POST per
        downstream action), and ok/fail/conflict counts ride the checkpoint
        as observed metrics."""
        state = self.store.read()
        dt = self.config.device_type
        scoped = state.filter(
            (F.col("device_type") == dt) & F.col("dmp_id").isNotNull()
        )
        w = Window.partitionBy("dmp_id")
        # full rows flow through: the uploader payload is the group's member
        # records (K8); the window only appends the conflict marker
        work = scoped.withColumn(
            "any_up", F.max(F.col("is_uploaded").cast("int")).over(w)
        ).filter(~F.col("is_uploaded"))
        limit = self.config.limits.get("upload")
        if limit is not None:
            ids = work.select("dmp_id").distinct().limit(limit)
            work = work.join(ids, "dmp_id", "left_semi")
        obs = Observation()
        results = upload_groups(
            work, self.uploader, conflict_col="any_up", retry=self.retry
        ).observe(
            obs,
            F.coalesce(F.sum(F.col("success").cast("long")), F.lit(0)).alias("n_ok"),
            F.coalesce(F.sum(F.col("conflict").cast("long")), F.lit(0)).alias(
                "n_conflict"
            ),
            F.count(F.lit(1)).alias("n_groups"),
        )
        # exactly one execution of the side-effecting upload stage
        results = results.localCheckpoint(eager=True)
        m = obs.get
        n_ok = int(m["n_ok"])
        n_conflict = int(m["n_conflict"])
        n_fail = int(m["n_groups"]) - n_ok - n_conflict
        if n_ok:
            self.store.mark_uploaded(
                results.filter(F.col("success")).select("dmp_id"),
                partition_value=dt,
            )
        return n_ok, n_fail, n_conflict

    # -- streaming variant ----------------------------------------------------

    def run_from_stream(
        self,
        source_dir: str,
        api_schema,
        uid_map: DataFrame,
        serial_map: DataFrame,
        assignments: DataFrame,
        checkpoint_dir: str | None = None,
    ) -> dict[str, int | tuple[int, int, int]]:
        """Streaming-ingest variant of a scheduled run: drain all available
        feed files through the checkpointed Structured-Streaming path
        (availableNow + foreachBatch MERGE), then run the resolution stages
        over the refreshed state — the reference's poll-then-process cycle
        with exactly-once file consumption."""
        from ..streaming.incremental import run_streaming_ingest

        batch_counts: list[int] = []
        q = run_streaming_ingest(
            self.spark,
            source_dir,
            api_schema,
            self.store,
            device_type=self.config.device_type,
            checkpoint_dir=checkpoint_dir,
            inserted_counts=batch_counts,
        )
        q.awaitTermination()
        return {
            "ingested": sum(batch_counts),
            "serials": self.resolve_serial(uid_map),
            "devices": self.resolve_device_id(serial_map),
            "patients": self.resolve_patient(assignments),
            "grouped": self.group_records(),
            "uploaded": self.upload(),
        }

    def run_stream_full_dag(
        self,
        source_dir: str,
        api_schema,
        uid_map: DataFrame,
        serial_map: DataFrame,
        assignments: DataFrame,
        checkpoint_dir: str | None = None,
    ) -> list[dict]:
        """The WHOLE DAG — ingest → resolutions → grouping → upload — under
        Structured Streaming: every micro-batch runs all six stages inside
        ``foreachBatch`` (the reference's poll cycle is end-to-end per poll,
        dags/dreem.py:209-217 / :299-307).

        Delivery semantics across restarts: file consumption is exactly-once
        (checkpoint), inserts are idempotent (hash anti-join), and upload is
        at-least-once with exactly-once *flagging* — a crash between a
        group's upload and its ``mark_uploaded`` fails the micro-batch, so
        the restart REPLAYS it: the ingest replays as a no-op and the still-
        unflagged group re-uploads (the reference's retry contract); a group
        whose flag committed is excluded by the F6 predicate and never
        re-uploads. Returns one stage-report dict per micro-batch; if the
        restart found no new files (no batch fired), a trailing
        resolution+upload pass still runs — the reference retries pending
        work every poll cycle even when the feed is quiet."""

        def _stages() -> dict:
            return {
                "serials": self.resolve_serial(uid_map),
                "devices": self.resolve_device_id(serial_map),
                "patients": self.resolve_patient(assignments),
                "grouped": self.group_records(),
                "uploaded": self.upload(),
            }

        reports: list[dict] = []

        def _batch(batch_df: DataFrame, batch_id: int) -> None:
            shaped = init_lifecycle(
                shape_api_rows(batch_df, self.config.device_type)
            )
            n = self.store.append_new(
                _limit(shaped, self.config.limits.get("ingest"))
            )
            reports.append({"batch_id": batch_id, "ingested": n, **_stages()})

        stream = (
            self.spark.readStream.format("parquet")
            .schema(api_schema)
            .load(source_dir)
        )
        writer = (
            stream.writeStream.foreachBatch(_batch)
            .trigger(availableNow=True)
            .outputMode("update")
        )
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = writer.start()
        q.awaitTermination()
        if not reports and self.store.exists():
            # quiet poll: no new files, but pending work still retries
            reports.append({"batch_id": None, "ingested": 0, **_stages()})
        return reports

    # -- maintenance -----------------------------------------------------------

    def maintain(self) -> int:
        """Run-end compaction guard: rewrite this pipeline's state partition
        into one file once incremental appends have fragmented it past
        ``compact_after_files`` (the reference's Mongo collection has no
        analog — this is the cost of file-based O(delta) writes, paid back
        here). No-op (and no version churn) below the threshold or when
        maintenance is disabled. Returns partitions compacted (0 or 1)."""
        thr = self.config.compact_after_files
        if thr is None or len(self.store.partition_by) != 1:
            return 0
        return self.store.compact(
            partition_value=self.config.device_type, min_files=thr
        )

    # -- full run -------------------------------------------------------------

    def run(
        self,
        raw_api_rows: DataFrame,
        uid_map: DataFrame,
        serial_map: DataFrame,
        assignments: DataFrame,
    ) -> dict[str, int | tuple[int, int, int]]:
        """One scheduled run of the whole DAG, in reference task order;
        run-end small-file maintenance keeps scans fast across many runs."""
        return {
            "ingested": self.ingest(raw_api_rows),
            "serials": self.resolve_serial(uid_map),
            "devices": self.resolve_device_id(serial_map),
            "patients": self.resolve_patient(assignments),
            "grouped": self.group_records(),
            "uploaded": self.upload(),
            "compacted": self.maintain(),
        }
