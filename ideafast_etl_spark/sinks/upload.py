"""Upload sink (SURVEY.md §2.2 K8-K10, reference dmp.py:59-177).

The reference streams one zip per upload group to a GraphQL multipart
endpoint, swallowing errors into a success boolean that drives the
at-least-once retry loop (is_uploaded stays false → group re-selected next
run). Spark-native shape: the rows are hash-partitioned by group and sorted
within each partition, so every group's rows are contiguous; one
``mapInPandas`` pass per partition walks the groups of each Arrow batch
(carrying a group that spans two batches into the next), calls the uploader
once per group on the executor, and returns one ``(group, success)`` frame
per batch for the caller to MERGE into state — no driver-side loop, and no
pandas frame or Python call per group beyond the uploader's own.

The uploader is injected; the default is a stub that succeeds
deterministically (no network in this environment). A real implementation
would zip the group's files (K9) and POST with (4 s, 302 s) timeouts per the
reference; failure → False, never an exception (dmp.py:120-160).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

# upload_one(dmp_id, payload_rows) -> success
Uploader = Callable[[str, pd.DataFrame], bool]


def stub_uploader(dmp_id: str, payload: pd.DataFrame) -> bool:
    """Deterministic stand-in: fails groups whose id hash ends in 'f' (~6%)
    so retry semantics are exercised end to end."""
    import hashlib

    return not hashlib.sha256(dmp_id.encode()).hexdigest().endswith("f")


def _each_group(
    groups: DataFrame,
    group_col: str,
    fn: Callable[[pd.DataFrame, np.ndarray], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """``fn(rows, starts)`` over whole groups, one call per Arrow batch:
    ``rows`` holds complete groups one after another (index 0..n-1) and
    ``starts`` the offset of each group's first row; ``fn`` returns that
    batch's result frame. The hash partitioning and the sort are free when
    the input is already partitioned by ``group_col`` (a window over it)."""

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None  # a batch's last group may go on in the next batch
        for pdf in batches:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            keys = pdf[group_col].to_numpy()
            starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
            carry = pdf.iloc[starts[-1]:]
            if len(starts) > 1:
                yield fn(pdf.iloc[: starts[-1]], starts[:-1])
        if carry is not None:
            yield fn(carry.reset_index(drop=True), np.zeros(1, dtype=np.int64))

    return (
        groups.repartition(group_col)
        .sortWithinPartitions(group_col)
        .mapInPandas(_walk, schema=schema)
    )


def _spans(rows: pd.DataFrame, starts: np.ndarray):
    """(first row, end row) of each group of a batch."""
    return zip(starts, np.append(starts[1:], len(rows)))


def upload_groups(
    groups: DataFrame,
    uploader: Uploader = stub_uploader,
    group_col: str = "dmp_id",
    conflict_col: str | None = None,
    retry: "RetryPolicy | None" = None,
) -> DataFrame:
    """Upload each group's rows; returns one row per group — ``(dmp_id,
    success)``, plus a ``conflict`` flag when ``conflict_col`` is given.
    The uploader sees all of a group's rows in one call, as a pandas frame
    with the input's columns (``conflict_col`` left out), a fresh 0..n-1
    index, naive session-time timestamps and maps as dicts.

    ``conflict_col`` names a boolean/int marker (e.g. the ``any_uploaded``
    window flag): a group carrying it is NOT uploaded — the guard runs on
    the executor that owns the whole group, so the skip is group-atomic
    (dags/dreem.py:185-204 partial-upload conflict).

    ``retry`` wraps the uploader in the reference's transport contract
    (dmp.py:126-136): bounded executor-side retries with backoff, and
    exhaustion ABSORBED into ``success=False`` (dmp.py:120-160 — transport
    failures feed the at-least-once loop, they never crash the job)."""
    if retry is not None:
        from ..sources.transport import retrying

        uploader = retrying(uploader, retry, absorb=lambda _e: False)

    def _upload(rows: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        keys = rows[group_col].to_numpy()[starts]
        payload, skip = rows, np.zeros(len(starts), dtype=bool)
        if conflict_col is not None:
            payload = rows.drop(columns=[conflict_col])
            flags = rows[conflict_col].to_numpy(dtype="float64", na_value=np.nan)
            # NaN-skipping max per group, like pandas' Series.max
            skip = np.fmax.reduceat(flags, starts).astype(bool)
        out = pd.DataFrame({group_col: keys})
        out["success"] = [
            False if s else uploader(k, payload.iloc[a:b].reset_index(drop=True))
            for k, (a, b), s in zip(keys, _spans(rows, starts), skip)
        ]
        if conflict_col is not None:
            out["conflict"] = skip
        return out

    schema = f"{group_col} string, success boolean"
    if conflict_col is not None:
        schema += ", conflict boolean"
    return _each_group(groups, group_col, _upload, schema)


# archive_uploader(dmp_id, zip_bytes) -> success
ArchiveUploader = Callable[[str, bytes], bool]


def stub_archive_uploader(dmp_id: str, zip_bytes: bytes) -> bool:
    return len(zip_bytes) > 0


def upload_group_archives(
    groups: DataFrame,
    uploader: ArchiveUploader = stub_archive_uploader,
    group_col: str = "dmp_id",
    name_col: str = "manufacturer_ref",
    content_col: str = "content",
) -> DataFrame:
    """K8+K9 fused, fully distributed: each upload group's fetched file
    contents (S2 output) are zipped IN MEMORY on the executor that owns the
    group and handed to the uploader as one artifact — the reference's
    zip-folder-then-multipart flow (dmp.py:59-177) without any local-disk
    staging or driver involvement. Returns (dmp_id, n_files, zip_bytes_len,
    success) per group."""
    import io
    import zipfile

    def _upload(rows: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        out: dict[str, list] = {"n_files": [], "zip_bytes_len": [], "success": []}
        keys = rows[group_col].to_numpy()[starts]
        for dmp_id, (a, b) in zip(keys, _spans(rows, starts)):
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
                for name, content in (
                    rows.iloc[a:b].sort_values(name_col)[[name_col, content_col]]
                    .itertuples(index=False)
                ):
                    zf.writestr(f"{name}.h5", bytes(content))
            payload = buf.getvalue()
            out["n_files"].append(b - a)
            out["zip_bytes_len"].append(len(payload))
            out["success"].append(uploader(dmp_id, payload))
        return pd.DataFrame({group_col: keys, **out})

    return _each_group(
        groups,
        group_col,
        _upload,
        f"{group_col} string, n_files long, zip_bytes_len long, success boolean",
    )
