"""Poll workload: the real ``DreemPipeline`` over a ``StateStore``.

One client polls in a closed loop: each poll re-reads the whole vendor feed
through the paginated REST source, runs the seven pipeline stages and waits
for them before the next poll starts. Every poll's per-stage counts are
checked against the counts the generator predicts (``feed.Batch``; all
zero for an idle poll); every upload goes through a counting uploader that
always succeeds.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from feed import API_SCHEMA_DDL, Batch, VendorApi, make_batch, make_fleet
from trace import tree_bytes

from ideafast_etl_spark.operators.grouping import assign_group_id
from ideafast_etl_spark.operators.projections import init_lifecycle, shape_api_rows
from ideafast_etl_spark.pipeline.dreem import DreemPipeline, PipelineConfig
from ideafast_etl_spark.sources.rest import PaginatedRestSource
from ideafast_etl_spark.state.store import StateStore

DEVICE_TYPE = "DRM"
# pipeline stage -> DreemPipeline method
STAGES = {
    "ingest": "ingest",
    "resolve_serial": "resolve_serial",
    "resolve_device": "resolve_device_id",
    "resolve_patient": "resolve_patient",
    "group": "group_records",
    "upload": "upload",
    "maintain": "maintain",
}
# pipeline stage -> key of its count in DreemPipeline.run's report
REPORT_KEYS = dict(
    zip(
        STAGES,
        ("ingested", "serials", "devices", "patients", "grouped", "uploaded", "compacted"),
    )
)
# state layer metric -> StateStore method
STATE_CALLS = {
    "append_new": "append_new",
    "merge": "merge_non_overwrite",
    "mark_uploaded": "mark_uploaded",
    "compact": "compact",
}


# One poll cycle: a small delivery, a poll that finds nothing new, a
# backlog delivery of many days at once, and another small delivery.
CYCLE = ("delta", "idle", "backlog", "delta")


@dataclass(frozen=True)
class PollShape:
    n_devices: int
    history: int  # records resolved and uploaded before the first poll
    history_days: int
    delta: int  # records of a small delivery, all on one bucket day
    backlog: int  # records of a backlog delivery
    backlog_days: int  # bucket days a backlog delivery covers
    setups: int  # set-ups per run; setup_s is their median


SHAPE = PollShape(
    n_devices=48, history=8_000, history_days=365, delta=1_000, backlog=1_500,
    backlog_days=10, setups=3,
)
TINY_SHAPE = PollShape(8, 300, 20, 40, 200, 5, 2)


class CountingUploader:
    """Always succeeds, touches no network, and counts its calls and the
    rows it was handed through accumulators (uploads run executor-side)."""

    def __init__(self, sc) -> None:
        self.calls = sc.accumulator(0)
        self.rows = sc.accumulator(0)

    def __call__(self, dmp_id, payload) -> bool:
        self.calls.add(1)
        self.rows.add(len(payload))
        return True


class PollRun:
    """Inputs of one poll run: fleet, lookup dimensions, history and the
    deliveries made so far."""

    def __init__(self, spark, shape: PollShape, seed: int, work_dir: str) -> None:
        self.spark = spark
        self.shape = shape
        self.work_dir = work_dir
        self.rng = rng = np.random.default_rng(seed)
        self.fleet = fl = make_fleet(rng, shape.n_devices, shape.history_days + 1000)
        self.history = make_batch(
            rng, fl, 0, shape.history_days, shape.history, "h"
        )
        self.deliveries: list[Batch] = []
        self.next_day = shape.history_days
        self.uid_map = spark.createDataFrame(
            fl.uid_map, "dreem_uid string, device_serial string"
        )
        self.serial_map = spark.createDataFrame(
            fl.serial_map, "device_serial string, device_id string"
        )
        self.assignments = spark.createDataFrame(
            fl.assignments, "device_id string, patient_id string, s long, e long"
        ).select(
            "device_id",
            "patient_id",
            F.timestamp_seconds("s").alias("start_wear"),
            F.timestamp_seconds("e").alias("end_wear"),
        )

    def deliver(self, kind: str) -> Batch | None:
        """New records for a poll of ``kind``; None for an idle poll."""
        if kind == "idle":
            return None
        sh = self.shape
        n, days = (sh.delta, 1) if kind == "delta" else (sh.backlog, sh.backlog_days)
        b = make_batch(
            self.rng, self.fleet, self.next_day, days, n, f"d{len(self.deliveries)}"
        )
        self.next_day += days
        self.deliveries.append(b)
        return b

    def feed_rows(self) -> list[dict]:
        """What the vendor API returns: everything it ever delivered."""
        rows = list(self.history.rows)
        for b in self.deliveries:
            rows.extend(b.rows)
        return rows

    def open_store(self, name: str) -> StateStore:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        store = StateStore(self.spark, path)
        self._seed(store)
        return store

    def _seed(self, store: StateStore) -> None:
        """Write the history as the pipeline leaves it once resolved and
        uploaded: records stuck at a rung keep that rung NULL. The rung
        values come from the generator; the shaping, hash and group key
        come from the program's own operators."""
        hist = self.history
        spark = self.spark
        raw = spark.createDataFrame(hist.rows, API_SCHEMA_DDL)
        shaped = init_lifecycle(shape_api_rows(raw, DEVICE_TYPE))
        cols = shaped.columns
        rungs = spark.createDataFrame(
            hist.truth, "manufacturer_ref string, s string, d string, p string"
        )
        filled = (
            shaped.drop("device_serial", "device_id", "patient_id")
            .join(rungs, "manufacturer_ref")
            .withColumnRenamed("s", "device_serial")
            .withColumnRenamed("d", "device_id")
            .withColumnRenamed("p", "patient_id")
        )
        grouped = assign_group_id(
            filled.drop("dmp_id"), cut_off=PipelineConfig().cut_off_time, ts_col="start"
        )
        has_p = F.col("patient_id").isNotNull()
        seeded = grouped.withColumn(
            "dmp_id", F.when(has_p, F.col("dmp_id"))
        ).withColumn("is_uploaded", has_p)
        n = store.append_new(seeded.select(*cols))
        if n != len(hist.rows):
            raise RuntimeError(f"seeded {n} of {len(hist.rows)} history records")


def install_tracing(tracer, counters: dict) -> None:
    """Spans on the sources, pipeline-stage and StateStore boundaries.
    State calls also record the bytes of newly created inodes (a hardlink
    adds none) and whether the call published a new version."""
    tracer.wrap(PaginatedRestSource, "load", "sources.extract")
    for stage, meth in STAGES.items():
        tracer.wrap(DreemPipeline, meth, f"pipeline.{stage}")
    for metric, meth in STATE_CALLS.items():
        fn = getattr(StateStore, meth)

        def spanned(self, *a, _fn=fn, _name=f"state.{metric}", **kw):
            t0 = time.perf_counter()
            before = tree_bytes(self.path)
            v0 = self.current_version()
            t1 = time.perf_counter()
            with tracer.span(_name):
                out = _fn(self, *a, **kw)
            t2 = time.perf_counter()
            after = tree_bytes(self.path)
            counters["state.bytes_written"] += sum(
                size for ino, size in after.items() if ino not in before
            )
            counters["state.commits"] += int(self.current_version() != v0)
            tracer.overhead_s += (t1 - t0) + (time.perf_counter() - t2)
            return out

        setattr(StateStore, meth, spanned)


def _check(report: dict, expect: dict, calls: int, rows: int) -> list[str]:
    got = {
        "ingested": report["ingested"],
        "serials": report["serials"],
        "devices": report["devices"],
        "patients": report["patients"],
        "grouped": report["grouped"],
        "groups": report["uploaded"][0],
    }
    problems = []
    if got != expect:
        problems.append(f"counts {got} != expected {expect}")
    n_fail, n_conflict = report["uploaded"][1:]
    if n_fail or n_conflict:
        problems.append(f"uploads failed={n_fail} conflicts={n_conflict}")
    if calls != expect["groups"] or rows != expect["grouped"]:
        problems.append(f"uploader saw {calls} groups and {rows} rows")
    return problems


def run_polls(spark, shape: PollShape, seed: int, seconds: float, work_dir: str,
              tracer) -> dict:
    """Set up ``shape.setups`` times, then poll through ``CYCLE`` until at
    least one whole cycle has run and ``seconds`` have passed."""
    counters = {"state.bytes_written": 0, "state.commits": 0, "sources.rows": 0}
    if tracer.enabled:
        install_tracing(tracer, counters)
    setup_s = []
    for i in range(shape.setups):  # the last set-up is the one polled
        t0 = time.perf_counter()
        run = PollRun(spark, shape, seed, work_dir)
        store = run.open_store(f"state{i}")
        setup_s.append(time.perf_counter() - t0)
    uploader = CountingUploader(spark.sparkContext)
    pipe = DreemPipeline(spark, store, uploader=uploader)
    # per-layer figures cover the polls only, not the set-ups
    counters.update(dict.fromkeys(counters, 0))
    first_span = len(tracer.spans)

    times: dict[str, list[float]] = {kind: [] for kind in CYCLE}
    failures: list[str] = []
    log: list[tuple[str, float]] = []
    stage_rows = dict.fromkeys(STAGES, 0)
    cold_s = 0.0
    backlog_records = 0
    i = 0
    t_start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_start
        if (i >= len(CYCLE) and elapsed >= seconds) or elapsed > seconds + 120:
            break
        kind = CYCLE[i % len(CYCLE)]
        batch = run.deliver(kind)
        expect = (batch or Batch([])).expected()
        calls0, rows0 = uploader.calls.value, uploader.rows.value
        i += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("poll"):
                rows = run.feed_rows()
                counters["sources.rows"] += len(rows)
                raw = PaginatedRestSource(VendorApi(rows), API_SCHEMA_DDL).load(spark)
                report = pipe.run(raw, run.uid_map, run.serial_map, run.assignments)
        except Exception as e:  # a failed poll is counted, the loop goes on
            failures.append(f"poll {i - 1}: {type(e).__name__}: {str(e)[:300]}")
            continue
        dt = time.perf_counter() - t0
        log.append((kind, round(dt, 3)))
        for stage, key in REPORT_KEYS.items():
            v = report[key]
            stage_rows[stage] += v[0] if isinstance(v, tuple) else v
        problems = _check(
            report, expect, uploader.calls.value - calls0, uploader.rows.value - rows0
        )
        if problems:
            failures.append(f"poll {i - 1} ({kind}): " + "; ".join(problems))
        elif i == 1:
            cold_s = dt
        else:
            times[kind].append(dt)
            if kind == "backlog":
                backlog_records += expect["ingested"]

    batches = [run.history] + run.deliveries
    live = sum(len(b.rows) for b in batches)
    final = store.read()
    n_live = final.count()
    n_flagged = final.filter(F.col("is_uploaded")).count()
    want_flagged = sum(b.patients for b in batches)
    if n_live != live or n_flagged != want_flagged:
        failures.append(
            f"final state: {n_live} rows ({live} expected), "
            f"{n_flagged} uploaded ({want_flagged} expected)"
        )
    return {
        "setup_s": statistics.median(setup_s),
        "cold_s": cold_s,
        "times": times,
        "backlog_records": backlog_records,
        "new_records": live - len(run.history.rows),
        "attempted": i + 1,  # the polls and the final state check
        "failures": failures,
        "ops": i,
        "op_log": log,
        "store": store,
        "store_bytes": sum(tree_bytes(store.path).values()),
        "live_records": live,
        "counters": counters,
        "stage_rows": stage_rows,
        "uploader_calls": uploader.calls.value,
        "spans": tracer.spans[first_span:],
    }


def _layer_units() -> dict[str, str]:
    units = {"sources.extract_s": "s", "sources.rows": "count"}
    units.update({f"state.{m}_s": "s" for m in STATE_CALLS})
    units.update(
        {
            "state.bytes_written": "bytes",
            "state.write_amp": "bytes/record",
            "state.files": "count",
            "state.commits": "count",
            "state.bytes_per_record": "bytes/record",
        }
    )
    for stage in STAGES:
        units[f"pipeline.{stage}_s"] = "s"
        units[f"pipeline.{stage}.self_s"] = "s"
        units[f"pipeline.{stage}.jobs"] = "count"
        units[f"pipeline.{stage}.tasks"] = "count"
        units[f"pipeline.{stage}.rows"] = "count"
    units["pipeline.idle_poll_s"] = "s"
    units["sinks.upload_s"] = "s"
    units["sinks.groups"] = "count"
    return units


LAYER_UNITS = _layer_units()


def metrics(out: dict) -> tuple[dict, dict]:
    """End-to-end and per-layer figures of one poll run. Per-layer figures
    are means per poll over the cycle; a stage's self time is its time
    minus the time of the state calls inside it."""
    t = out["times"]
    e2e = {
        "setup_s": out["setup_s"],
        "op_s_p50": statistics.median(t["delta"]) if t["delta"] else 0.0,
        "cold_op_s": out["cold_s"],
        "rows_per_s": out["backlog_records"] / sum(t["backlog"]) if t["backlog"] else 0.0,
    }
    n = max(1, out["ops"])
    by: dict[str, list] = {}
    for s in out["spans"]:
        by.setdefault(s.name, []).append(s)

    def total(name: str) -> float:
        return sum(s.seconds for s in by.get(name, ()))

    c = out["counters"]
    m = {
        "sources.extract_s": total("sources.extract") / n,
        "sources.rows": c["sources.rows"] / n,
        "state.bytes_written": c["state.bytes_written"] / n,
        "state.write_amp": c["state.bytes_written"] / max(1, out["new_records"]),
        "state.files": sum(out["store"].file_counts().values()),
        "state.commits": c["state.commits"] / n,
        "state.bytes_per_record": out["store_bytes"] / max(1, out["live_records"]),
    }
    for metric in STATE_CALLS:
        m[f"state.{metric}_s"] = total(f"state.{metric}") / n
    for stage in STAGES:
        ss = by.get(f"pipeline.{stage}", [])
        m[f"pipeline.{stage}_s"] = sum(s.seconds for s in ss) / n
        m[f"pipeline.{stage}.self_s"] = sum(s.self_s for s in ss) / n
        m[f"pipeline.{stage}.jobs"] = sum(s.jobs for s in ss) / n
        m[f"pipeline.{stage}.tasks"] = sum(s.tasks for s in ss) / n
        m[f"pipeline.{stage}.rows"] = out["stage_rows"][stage] / n
    m["pipeline.idle_poll_s"] = statistics.median(t["idle"]) if t["idle"] else 0.0
    m["sinks.upload_s"] = m["pipeline.upload_s"] - m["state.mark_uploaded_s"]
    m["sinks.groups"] = out["uploader_calls"] / n
    return e2e, m
