"""The end-to-end incremental pipeline (SURVEY.md §3.1 / §7.2.6) —
the reference's 7-task Airflow DAG (dags/dreem.py:299-307) as one PySpark
application over a state table. Stages (task 7, cleanup, is temp-dir
lifecycle handled by the store):

  1. ingest          — REST scan → shape (P2) → anti-join dedup (J1) → insert
  2. resolve_serial  — F2 rung × uid_map broadcast join (J2)
  3. resolve_device  — F1 rung × serial_map broadcast join (J3)
  4. resolve_patient — F3 rung × interval-containment join (J4)
  5. group           — F5 rung → day-window bucket + dmp_id (G1)
  6. upload          — F6 groups → executor-side upload sink (K8) → flag (K6)

Stages 2-5 are one update set and one commit. The reference runs them as
four tasks that each write back to the store; here they are one plan: the
state is read once, each rung fills only the rows its own NULL-rung
predicate selects on the previous rung's output, and the result is
committed by ONE non-overwriting MERGE (db.py:97-125). That commit is the
only write of the pass, so a crash anywhere in it leaves the state exactly
as it was. The stage methods stay public — the CLI's ``--stage``, the
Airflow task specs and tests address them — and each is the same pass
restricted to its own rung. Unresolved rows keep their rung NULL and are
re-selected next run (late data, §2.11). Per-run ``limits`` replicate the
reference's backpressure knobs (L1, dags/dreem.py:254-287), capping each
rung's fills at its lowest-``hash`` rows; the default is unlimited, which
is the correct Spark posture (the limits exist in the reference because
each record costs an HTTP round-trip; here lookups are joins).

Run-report metrics (G5, dags/dreem.py:70-73,107-115) piggyback on the work
that runs anyway: the state store observes its own write actions
(``df.observe`` → no count-only jobs over state), the resolution pass
observes its per-rung counts on the one ``plan_audit.materialize`` of its
update set — whose fill count lets an idle run skip the merge write
entirely (on a 100 TB state table, an idle poll must not rewrite a
partition) — and the upload stage observes its result frame on the
materialising ``localCheckpoint``.
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
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
    # per-run batch caps; None = unlimited (reference: 15/15/15/15/-/1).
    # serial/device/patient bound the rows that rung fills per run, the
    # lowest hashes first; upload bounds the groups uploaded
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


def _refuse_ingest_cap(limits: dict[str, int | None]) -> None:
    """A stream cannot cap its ingest: the file source never re-delivers a
    consumed file, so the rows a cap passed over would be lost."""
    if limits.get("ingest") is not None:
        raise ValueError("a streaming run cannot apply an ingest limit: the "
                         "rows past the cap would never be delivered again")


# rung, by its run-report key -> the state column it fills
_SET_COL = {
    "serials": "device_serial",
    "devices": "device_id",
    "patients": "patient_id",
    "grouped": "dmp_id",
}
# lookup rung -> (the dimension it reads, that dimension's key column)
_LOOKUP = {
    "serials": ("uid_map", "dreem_uid"),
    "devices": ("serial_map", "device_serial"),
}


def _sum(flag: Column) -> Column:
    return F.coalesce(F.sum(flag.cast("long")), F.lit(0))


def _cap(df: DataFrame, hit: str, n: int | None, last: Column | None = None) -> DataFrame:
    """Keep ``hit`` true on at most ``n`` rows (None = unlimited, 0 =
    none): the lowest ``hash`` values, after those ``last`` puts last. A
    total order, so the pick is the same however often the plan runs
    (``limit`` on an unordered frame may pick different rows each time)."""
    if n is None:
        return df
    order = ([last.asc()] if last is not None else []) + [F.col("hash")]
    rank = F.row_number().over(Window.partitionBy(hit).orderBy(*order))
    return df.withColumn(hit, F.col(hit) & (rank <= n))


def _lookup(
    cur: DataFrame, rung: str, needs: Column, dim: DataFrame, key: Column,
    limit: int | None,
) -> DataFrame:
    """One broadcast-lookup rung: on the rows ``needs`` selects whose
    ``key`` the dimension lists, set the rung's column to the listed value
    (also when that is NULL — the row counts as resolved but keeps its
    NULL). Rows the cap passes over keep their value for a later run."""
    col, hit = _SET_COL[rung], f"__hit_{rung}"
    k, v = f"__key_{rung}", f"__value_{rung}"
    one = dim.select(F.col(_LOOKUP[rung][1]).alias(k), F.col(col).alias(v))
    out = cur.join(F.broadcast(one), key == F.col(k), "left").withColumn(
        hit, needs & F.col(k).isNotNull()
    )
    out = _cap(out, hit, limit, last=F.col(v).isNull())
    return out.withColumn(
        col, F.when(F.col(hit), F.col(v)).otherwise(F.col(col))
    ).drop(k, v)


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
        before/after table counts.

        ``limits["ingest"]`` caps the NEW rows, the lowest ``hash`` values
        the state does not hold yet (the reference slices after its dedup,
        dags/dreem.py:66): every poll re-reads the whole feed, so a cap on
        feed rows would stall once those rows were in state."""
        shaped = init_lifecycle(
            shape_api_rows(raw_api_rows, self.config.device_type)
        )
        n, key = self.config.limits.get("ingest"), self.store.key
        if n is not None:  # not truthiness: a cap of 0 inserts nothing
            if self.store.exists():
                shaped = shaped.join(self.store.read().select(key), key, "left_anti")
            shaped = shaped.dropDuplicates([key]).orderBy(key).limit(n)
        return self.store.append_new(shaped)

    # -- stages 2-5: one resolution pass -------------------------------------

    def _resolve(
        self,
        uid_map: DataFrame | None = None,
        serial_map: DataFrame | None = None,
        assignments: DataFrame | None = None,
        group: bool = False,
    ) -> dict[str, int]:
        """Stages 2-5 as one update set and one commit. The rungs run in
        DAG order over one read of the state — the rows of this pipeline's
        partition that any given rung selects — each filling only the rows
        its own predicate selects on the previous rung's output:

          serial  — ``uid_map`` broadcast on ``meta.dreem_uid`` (DRM-gated)
          device  — ``serial_map`` broadcast on the filled serial
          patient — ``assignments`` interval containment on the filled device
          group   — day-window ``dmp_id`` on the filled patient

        A rung whose input is None (``group`` False) is left out. Returns
        the rows each given rung resolved under its run-report key
        (``serials``, ``devices``, ``patients``, ``grouped``): a lookup rung
        counts the rows whose key its dimension lists (also when it maps
        to NULL), the patient rung its non-NULL matches, the group rung
        every row it keys. ``limits`` caps the serial, device and patient
        rungs per run (lowest ``hash`` first).

        The update set is computed once (``plan_audit.materialize``) and
        the rung counts are observed on that action. When no rung filled a
        value the merge is skipped (an idle run must not rewrite a
        partition); otherwise ONE non-overwriting MERGE commits every rung.
        A dimension key listed more than once repeats the rows that look it
        up; the merge refuses them with a ``ValueError`` that names the
        dimension, and nothing is committed."""
        dt = self.config.device_type
        limits = self.config.limits
        needs = {
            "serials": filters.needs_serial(),
            "devices": filters.needs_device_id(dt),
            "patients": filters.needs_patient(dt),
            "grouped": filters.needs_grouping(dt),
        }
        dims = {"serials": uid_map, "devices": serial_map}
        given = (
            uid_map is not None, serial_map is not None, assignments is not None, group
        )
        rungs = [r for r, on in zip(needs, given) if on]
        # the worklist: any row a rung fills was selected by that rung's or
        # an earlier rung's predicate on the state as read
        cur = self.store.read().filter(
            (F.col("device_type") == dt)
            & functools.reduce(operator.or_, [needs[r] for r in rungs])
        )
        if uid_map is not None:
            cur = _lookup(
                cur, "serials", needs["serials"], uid_map, F.col("meta.dreem_uid"),
                limits.get("serial"),
            )
        if serial_map is not None:
            cur = _lookup(
                cur, "devices", needs["devices"], serial_map, F.col("device_serial"),
                limits.get("device"),
            )
        if assignments is not None:
            # the join replaces patient_id by the match; keep the row's own
            joined = interval_containment_join(
                cur.withColumn("__want", needs["patients"])
                .withColumnRenamed("patient_id", "__patient"),
                assignments.select("device_id", "patient_id", "start_wear", "end_wear"),
                order_cols=("start_wear", "patient_id"),
                bucket_days=self.config.interval_bucket_days,
            ).withColumn(
                "__hit_patients",
                F.col("__want") & F.col("patient_id").isNotNull(),
            )
            cur = _cap(joined, "__hit_patients", limits.get("patient")).withColumn(
                "patient_id",
                F.when(F.col("__hit_patients"), F.col("patient_id")).otherwise(
                    F.col("__patient")
                ),
            )
        if group:
            # deliberately unlimited (db.py:200: "avoid data gaps")
            cur = assign_group_id(
                cur.withColumn("__hit_grouped", needs["grouped"]),
                cut_off=self.config.cut_off_time,
                ts_col="start",
                out_col="__dmp_id",
            ).withColumn(
                "dmp_id",
                F.when(F.col("__hit_grouped"), F.col("__dmp_id")).otherwise(
                    F.col("dmp_id")
                ),
            )
        set_cols = tuple(_SET_COL[r] for r in rungs)
        hits = {r: F.col(f"__hit_{r}") for r in rungs}
        filled = [hits[r] & F.col(_SET_COL[r]).isNotNull() for r in rungs]
        obs = Observation()
        counted = cur.select("hash", *set_cols, *hits.values()).observe(
            obs,
            *[_sum(h).alias(r) for r, h in hits.items()],
            _sum(functools.reduce(operator.or_, filled)).alias("filled"),
        )
        # rows a rung matched to NULL ride along (a no-op fill), so a
        # duplicated dimension key always reaches the merge's guard
        updates = plan_audit.materialize(
            counted.filter(functools.reduce(operator.or_, hits.values())).select(
                "hash", *set_cols
            )
        )
        if not plan_audit.checkpoints_enabled():
            counted.count()  # a plan audit materialises nothing to observe
        m = obs.get
        if m["filled"]:
            try:
                self.store.merge_non_overwrite(updates, set_cols, partition_value=dt)
            except ValueError as e:
                for r, dim in dims.items():
                    name, key = _LOOKUP[r]
                    if dim is not None and dim.groupBy(key).count().filter(
                        F.col("count") > 1
                    ).take(1):
                        raise ValueError(
                            f"{name} lists a {key} more than once; "
                            "nothing was committed"
                        ) from e
                raise
        return {r: int(m[r]) for r in rungs}

    def resolve_serial(self, uid_map: DataFrame) -> int:
        """uid_map(dreem_uid, device_serial); fills device_serial where NULL."""
        return self._resolve(uid_map=uid_map)["serials"]

    def resolve_device_id(self, serial_map: DataFrame) -> int:
        """serial_map(device_serial, device_id); fills device_id where NULL."""
        return self._resolve(serial_map=serial_map)["devices"]

    def resolve_patient(self, assignments: DataFrame) -> int:
        """assignments(device_id, patient_id, start_wear, end_wear);
        interval-containment first-match (J4) fills patient_id."""
        return self._resolve(assignments=assignments)["patients"]

    def group_records(self) -> int:
        """Day-window bucket + dmp_id for every fully-resolved row.
        Deliberately unlimited (db.py:200: 'avoid data gaps')."""
        return self._resolve(group=True)["grouped"]

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

        ``limits["upload"]`` caps the groups the stage attempts — the
        lowest ``dmp_id`` values among the groups with no uploaded member,
        a total order like the resolution rungs' caps. Conflicting groups
        are reported every run but never take a cap slot, so they cannot
        starve the clean groups behind them.

        Plan shape: the scoped rows are hash-partitioned by ``dmp_id`` once;
        the ``any_uploaded`` window sorts within that partitioning, and the
        upload sink's one ``mapInPandas`` pass per partition reuses both
        (no further shuffle or sort) to walk each partition's contiguous
        groups. The side-effecting upload is materialised exactly once via
        an eager localCheckpoint (a real uploader must not re-POST per
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
            picked = (
                work.filter(F.col("any_up") == 0)
                .select("dmp_id")
                .distinct()
                .orderBy("dmp_id")
                .limit(limit)
                .withColumn("__picked", F.lit(True))
            )
            work = (
                work.join(F.broadcast(picked), "dmp_id", "left")
                .filter((F.col("any_up") != 0) | F.col("__picked").isNotNull())
                .select(*work.columns)
            )
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
        # exactly one execution of the side-effecting upload stage — raw, not
        # plan_audit.materialize, which under an audit would re-upload per action
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
        with exactly-once file consumption. Raises ``ValueError`` before
        the stream starts when ``limits["ingest"]`` is set."""
        from ..streaming.incremental import run_streaming_ingest

        _refuse_ingest_cap(self.config.limits)

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
            **self._resolve(uid_map, serial_map, assignments, group=True),
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
        work every poll cycle even when the feed is quiet. Raises
        ``ValueError`` before the stream starts when ``limits["ingest"]`` is
        set."""
        _refuse_ingest_cap(self.config.limits)

        def _stages() -> dict:
            return {
                **self._resolve(uid_map, serial_map, assignments, group=True),
                "uploaded": self.upload(),
            }

        reports: list[dict] = []

        def _batch(batch_df: DataFrame, batch_id: int) -> None:
            shaped = init_lifecycle(
                shape_api_rows(batch_df, self.config.device_type)
            )
            n = self.store.append_new(shaped)
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
            **self._resolve(uid_map, serial_map, assignments, group=True),
            "uploaded": self.upload(),
            "compacted": self.maintain(),
        }
