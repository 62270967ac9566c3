"""Lifecycle-rung predicates (SURVEY.md §2.4, F1-F3, F5).

The reference encodes pipeline progress in NULL-ness of enrichment columns and
selects work-lists by predicates pushed to the store (ideafast_etl/hooks/db.py:
140-231). Here each resolution rung is a ``Column`` predicate (``needs_*``):
the pipeline's single resolution pass judges each rung on the previous rung's
output, which a ``DataFrame`` filter cannot express.
"""

from __future__ import annotations

from pyspark.sql import Column
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


def needs_device_id(device_type: str) -> Column:
    """F1 — rows needing serial→device_id resolution (db.py:140-156)."""
    return (
        (F.col("device_type") == device_type)
        & F.col("device_serial").isNotNull()
        & F.col("device_id").isNull()
    )


def needs_patient(device_type: str) -> Column:
    """F3 — rows needing patient resolution (db.py:172-183)."""
    return (
        (F.col("device_type") == device_type)
        & F.col("device_id").isNotNull()
        & F.col("patient_id").isNull()
    )


def needs_grouping(device_type: str) -> Column:
    """F5 — rows needing day-window grouping; deliberately unlimited
    (db.py:198-209, "avoid data gaps")."""
    return (
        (F.col("device_type") == device_type)
        & F.col("patient_id").isNotNull()
        & F.col("dmp_id").isNull()
    )
