"""Lifecycle-rung predicates (SURVEY.md §2.4, F1-F9).

The reference encodes pipeline progress in NULL-ness of enrichment columns and
selects work-lists by predicates pushed to the store (ideafast_etl/hooks/db.py:
140-231). Here each predicate is a pure ``DataFrame -> DataFrame`` filter;
Catalyst pushes them into the parquet scan (verified: ``PushedFilters`` in
``.explain``), which is the Spark-native equivalent of Mongo server-side
filtering — and, at 100 TB, the difference between scanning a partition and
scanning the table.

The four resolution rungs (F1-F3, F5) are also exposed as the ``Column``
predicates their filters apply (``needs_*``): the pipeline's single
resolution pass judges each rung on the previous rung's output, which a
``DataFrame`` filter cannot express.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def needs_serial() -> Column:
    """F2 — rows needing uid→serial resolution (db.py:158-170).

    Note the reference's quirk: it compares ``meta.dreem_uid`` against the
    *string* ``"null"`` (db.py:164). We normalise at ingest so the literal
    comparison and a proper NULL test agree (SURVEY.md §7.4 decision 2).
    """
    return (
        (F.col("device_type") == "DRM")
        & F.col("meta.dreem_uid").isNotNull()
        & (F.col("meta.dreem_uid") != "null")
        & F.col("device_serial").isNull()
    )


def needing_serial(df: DataFrame) -> DataFrame:
    """F2 as a filter."""
    return df.filter(needs_serial())


def needs_device_id(device_type: str) -> Column:
    """F1 — rows needing serial→device_id resolution (db.py:140-156)."""
    return (
        (F.col("device_type") == device_type)
        & F.col("device_serial").isNotNull()
        & F.col("device_id").isNull()
    )


def needing_device_id(df: DataFrame, device_type: str) -> DataFrame:
    """F1 as a filter."""
    return df.filter(needs_device_id(device_type))


def needs_patient(device_type: str) -> Column:
    """F3 — rows needing patient resolution (db.py:172-183)."""
    return (
        (F.col("device_type") == device_type)
        & F.col("device_id").isNotNull()
        & F.col("patient_id").isNull()
    )


def needing_patient(df: DataFrame, device_type: str) -> DataFrame:
    """F3 as a filter."""
    return df.filter(needs_patient(device_type))


def by_group(df: DataFrame, dmp_id: str) -> DataFrame:
    """F4 — one upload group (db.py:185-187)."""
    return df.filter(F.col("dmp_id") == dmp_id)


def needs_grouping(device_type: str) -> Column:
    """F5 — rows needing day-window grouping; deliberately unlimited
    (db.py:198-209, "avoid data gaps")."""
    return (
        (F.col("device_type") == device_type)
        & F.col("patient_id").isNotNull()
        & F.col("dmp_id").isNull()
    )


def needing_grouping(df: DataFrame, device_type: str) -> DataFrame:
    """F5 as a filter."""
    return df.filter(needs_grouping(device_type))


def pending_upload(df: DataFrame, device_type: str) -> DataFrame:
    """F6 — grouped but not yet uploaded (db.py:211-226)."""
    return df.filter(
        (F.col("device_type") == device_type)
        & F.col("dmp_id").isNotNull()
        & (F.col("is_uploaded") == False)  # noqa: E712
    )


def known_hashes(df: DataFrame, device_type: str) -> DataFrame:
    """F7 — dedup identity set for a device type (db.py:228-231). Stays
    distributed: consumers anti-join against it rather than collecting a set."""
    return df.filter(F.col("device_type") == device_type).select("hash")


def available_files(df: DataFrame) -> DataFrame:
    """F9 — late-data gate: skip rows whose file isn't available upstream yet
    (drm.py:61-66); they stay pending and are retried next run."""
    return df.filter(F.col("data_url").isNotNull())
