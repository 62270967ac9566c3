"""Day-window grouping (SURVEY.md §2.7, G1) and aggregation helpers.

G1 is the reference's ``GroupRecordsOperator`` (ideafast_etl/operators/ucam.py:
71-134): assign each record to a one-day upload window and derive the
``DEVICEID-PATIENTID-YYYYMMDD-YYYYMMDD`` group key.

Semantics (boundary-tested against tests/operators/test_ucam_operator.py:63-167):
  - midnight mode (cut_off "00:00:00"): window start = end = the record's own day;
  - cut-off mode: records strictly BEFORE the cut-off time belong to
    [yesterday, today]; records AT or AFTER it belong to [today, tomorrow].

This is exactly an offset tumbling window. We express it with pure date
arithmetic (JVM-side, codegen-friendly, and 1:1 expressible in the DuckDB
oracle) rather than ``F.window`` structs: the window containing ``ts`` with
day-boundary at ``cut_off`` starts at ``date_trunc(day, ts - cut_off) + cut_off``.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import group_key, normalise_day


def _parse_cutoff(cut_off: str) -> int:
    """Validate ``HH:MM:SS`` (reference raises ValueError on bad format —
    operators/ucam.py:94-98) and return seconds-since-midnight."""
    t = datetime.strptime(cut_off, "%H:%M:%S").time()
    return t.hour * 3600 + t.minute * 60 + t.second


def day_bucket(ts: Column | str, cut_off: str = "00:00:00") -> tuple[Column, Column]:
    """Window [start_day, end_day] (timestamps at midnight) for a record
    timestamp under the given cut-off, per the G1 semantics above."""
    c = F.col(ts) if isinstance(ts, str) else ts
    secs = _parse_cutoff(cut_off)
    if secs == 0:
        d = normalise_day(c)
        return d, d
    # day of (ts - cutoff): ts before cutoff lands on the previous day
    shifted_day = normalise_day(c - F.expr(f"INTERVAL {secs} SECONDS"))
    return shifted_day, shifted_day + F.expr("INTERVAL 1 DAY")


def assign_group_id(
    df: DataFrame,
    cut_off: str = "00:00:00",
    ts_col: str = "start",
    device_col: str = "device_id",
    patient_col: str = "patient_id",
    out_col: str = "dmp_id",
) -> DataFrame:
    """G1 — add window bounds + the dmp upload-group key to each row."""
    start_d, end_d = day_bucket(ts_col, cut_off)
    return (
        df.withColumn("bucket_start", start_d)
        .withColumn("bucket_end", end_d)
        .withColumn(
            out_col,
            group_key(device_col, patient_col, "bucket_start", "bucket_end"),
        )
    )
