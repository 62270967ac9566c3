"""Streaming twins for the monitoring/detection operators (SURVEY.md §2.11
posture + the r6 analytics batch): CUSUM level-shift, rolling z-score, and
heartbeat-gap detection as ``availableNow`` foreachBatch jobs.

These detectors are windows over per-key event HISTORY, so unlike the
stateless cleaning heuristics (streaming/cleaning parity tests) they cannot
run as pure stream projections: the correct incremental deployment is the
reference's own poll cycle shape (/root/reference/README.md:124-131 — wake,
drain what is new, recompute the worklist) expressed Spark-natively:

  1. the file stream drains new event files one idempotent micro-batch at a
     time (checkpointed — re-runs skip consumed files),
  2. each micro-batch writes its rows to a ``batch_id``-keyed subdirectory
     of the accumulation relation in OVERWRITE mode (O(delta) write, never a
     rewrite of history) — a replayed batch (failure between the write and
     the checkpoint commit) lands on the same subdirectory and overwrites
     its own previous partial output instead of double-appending,
  3. the batch detector recomputes over the accumulated relation and
     publishes a fresh report snapshot.

A checkpoint directory is always used: callers that omit ``checkpoint_dir``
get one derived from ``accum_dir`` (``<accum_dir>.checkpoint``) so batch ids
stay monotonic across restarts — without it a restarted drain would renumber
batches from 0 and resurrect stale subdirectories as duplicates.

Step 3 re-reads accumulated history each cycle — that is the price of
exact parity with the batch operator (CUSUM's mean is global per key).
At 100 TB you bound it with ``retention``: a predicate that drops events
older than the monitoring horizon before detection, making the recompute
O(horizon) instead of O(history) while steps 1-2 stay O(delta). The
stream≡batch parity tests (tests/test_monitoring_streaming.py) prove the
drained result equals the one-shot batch run on the same files.

Report publication is commit-by-manifest (state/manifest.py, the shared
versioned-dir primitive): each snapshot is staged into its final
``<out>.v<N>`` dir and ONE manifest PUT commits it — rename-free, so the
publish holds on object storage; readers resolve the live snapshot via
``latest_report_dir`` and always see either the old snapshot or the new
one, never a partial write.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.timeseries import cusum_drift, heartbeat_gaps, rolling_zscore


def _publish(report: DataFrame, out_dir: str) -> None:
    """Write ``report`` as a parquet snapshot resolvable at ``out_dir``.

    Commit-by-manifest (r10 verdict #6 — the shared versioned-dir
    primitive, state/manifest.py): the snapshot is staged into its final
    ``<out_dir>.v<N>`` sibling dir (unreferenced, hence invisible), ONE
    manifest PUT commits it, and superseded version dirs are removed
    afterwards (delete-only; a crash leaves them for the next publish to
    prune). Rename-free, so the publish holds on object storage. Readers
    resolve the live snapshot with :func:`latest_report_dir` — always
    either the previous snapshot or the new one, never a partial write.
    The superseded snapshot is kept one commit as a reader grace window
    (r11 advice — a reader that resolved it just before the publish must
    not lose files mid-scan)."""
    from ..state.manifest import commit_dir, next_dir_version

    base = out_dir.rstrip("/")
    _ver, new_dir = next_dir_version(base)
    report.write.mode("overwrite").parquet(new_dir)
    commit_dir(base, _ver)


def latest_report_dir(out_dir: str) -> str:
    """The live committed snapshot dir for a detector report — pass this
    to ``spark.read.parquet``."""
    from ..state.manifest import resolve_dir

    return resolve_dir(out_dir)


def run_detector_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    detector: Callable[[DataFrame], DataFrame],
    accum_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    retention: Callable[[DataFrame], DataFrame] | None = None,
    fmt: str = "parquet",
    compact_after_batches: int | None = None,
) -> StreamingQuery:
    """Drain ``source_dir`` and maintain a detection-report snapshot.

    ``detector`` is any batch detector DataFrame→DataFrame (the three
    wrappers below pre-bind the r6 detectors). ``retention`` optionally
    narrows the accumulated relation before detection (the bounded-state
    knob for production horizons); omit it for exact full-history parity
    with the batch operator.

    Idempotency: each micro-batch writes to ``<accum_dir>/batch-<id>`` in
    overwrite mode, so a batch replayed after a crash between the write and
    the checkpoint commit overwrites its own output rather than appending a
    duplicate. ``checkpoint_dir`` defaults to ``<accum_dir>.checkpoint`` —
    it is never omitted, because without it a restart renumbers batches.
    ``compact_after_batches`` folds committed batch directories into one
    consolidated snapshot at that directory count (accum module)."""
    from .accum import (
        _batch_dirs,
        compact_accumulation,
        guard_fresh_checkpoint,
        read_accumulation,
    )

    if checkpoint_dir is None:
        checkpoint_dir = accum_dir.rstrip("/") + ".checkpoint"
    guard_fresh_checkpoint(checkpoint_dir, accum_dir)

    def _cycle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{accum_dir.rstrip('/')}/batch-{batch_id}"
        )
        if (
            compact_after_batches is not None
            and len(_batch_dirs(accum_dir)) >= compact_after_batches
        ):
            compact_accumulation(spark, accum_dir, checkpoint_dir)
        hist = read_accumulation(spark, accum_dir)
        if retention is not None:
            hist = retention(hist)
        _publish(detector(hist), out_dir)

    stream = spark.readStream.format(fmt).schema(schema).load(source_dir)
    return (
        stream.writeStream.foreachBatch(_cycle)
        .trigger(availableNow=True)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_cusum_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    accum_dir: str,
    out_dir: str,
    threshold: float = 100.0,
    **kw,
) -> StreamingQuery:
    """CUSUM level-shift monitoring as an incremental drain job."""
    return run_detector_stream(
        spark, source_dir, schema,
        lambda df: cusum_drift(df, threshold=threshold),
        accum_dir, out_dir, **kw,
    )


def run_rolling_zscore_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    accum_dir: str,
    out_dir: str,
    k: int = 24,
    z_threshold: float = 3.0,
    **kw,
) -> StreamingQuery:
    """Rolling z-score anomaly monitoring as an incremental drain job."""
    return run_detector_stream(
        spark, source_dir, schema,
        lambda df: rolling_zscore(df, k=k, z_threshold=z_threshold),
        accum_dir, out_dir, **kw,
    )


def run_psi_drift_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    reference: DataFrame,
    accum_dir: str,
    out_dir: str,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 20,
    **kw,
) -> StreamingQuery:
    """PSI distribution drift against a PINNED reference sample: each
    drain recomputes the per-bin (p−q)·ln(p/q) terms of the accumulated
    stream vs ``reference`` (the model-training-time feature snapshot) and
    publishes the bin report — the feature-monitoring loop a deployed
    model runs between data refreshes. The reference never changes
    (drift is measured against training time, not against yesterday), so
    it is captured once here; the stream side is O(delta) accumulation
    like the other detectors."""
    from ..operators.stats import distribution_drift

    return run_detector_stream(
        spark, source_dir, schema,
        lambda df: distribution_drift(
            reference, df, value_col, lo=lo, hi=hi, n_bins=n_bins
        ),
        accum_dir, out_dir, **kw,
    )


def run_gap_report_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    accum_dir: str,
    out_dir: str,
    min_gap_s: int = 3600,
    **kw,
) -> StreamingQuery:
    """Heartbeat-gap monitoring as an incremental drain job."""
    return run_detector_stream(
        spark, source_dir, schema,
        lambda df: heartbeat_gaps(df, min_gap_s=min_gap_s),
        accum_dir, out_dir, **kw,
    )
